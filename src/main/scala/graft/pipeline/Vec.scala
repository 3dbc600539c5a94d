package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over `ArrayType(FloatType/DoubleType)`
  * embedding columns, built entirely from codegen-friendly higher-order
  * functions (`zip_with`/`aggregate`) — no UDFs, no driver round-trips.
  * Products/sums are computed in double (floats are cast exactly), so
  * results are bit-stable regardless of the stored element type.
  */
object Vec {

  private def d(a: Column): Column = transform(a, _.cast("double"))

  /** Left-to-right dot product — deterministic summation order. Backed
    * by the native codegen'd [[graft.functions.DotProductExpr]] (the
    * interpreted `aggregate(zip_with(...))` fold it replaces was the
    * bench bottleneck on every pairwise-similarity path). */
  def dot(a: Column, b: Column): Column =
    graft.functions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den > 0, dot(a, b) / den).otherwise(lit(0.0))
  }

  /** Signed-projection bit against a fixed (driver-side) hyperplane:
    * 1 if v · h > 0 else 0. Used by the random-hyperplane LSH. */
  def signBit(v: Column, h: Array[Double]): Column =
    when(dot(v, lit(h)) > 0, 1L).otherwise(0L)

  // ------------------------------------------------- int8 quantization

  /** Per-vector symmetric int8 scale: `max(|x|) / 127`. Storing
    * embeddings as (scale, int8[]) cuts a float32 corpus 4× — at 100 TB
    * that is the difference between an embedding store that fits and
    * one that doesn't; recall loss for cosine top-k is ≲0.5% at
    * typical dims. Zero vectors get scale 0. */
  def int8Scale(v: Column): Column =
    aggregate(d(v), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0

  /** Quantize against a [[int8Scale]]-style scale. `floor(x/s + 0.5)`
    * rather than `round()`: HALF_UP vs HALF_EVEN ambiguity across
    * engines disappears, and |x| ≤ 127·s keeps the result in
    * [-127, 127] with no clamp. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(d(v), x =>
      when(scale > 0, floor(x / scale + lit(0.5)).cast("int"))
        .otherwise(lit(0)))

  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Attach `<out>_scale` and `<out>_q` columns for `vecCol`, staged so
    * the scale fold is computed ONCE per row. Composing
    * `quantizeInt8(v, int8Scale(v))` inline instead duplicates the
    * scale aggregation at every reference inside the lambda tree
    * (Catalyst inlines the shared Column expression), which turned a
    * scan-bound map into ~5 interpreted array folds per row on the
    * quantized-retrieval bench. Multi-referenced non-cheap projections
    * survive CollapseProject, so the staging holds in the final plan. */
  def withInt8(df: org.apache.spark.sql.DataFrame, vecCol: String,
      out: String = "int8"): org.apache.spark.sql.DataFrame =
    df.withColumn(s"${out}_scale", int8Scale(col(vecCol)))
      .withColumn(s"${out}_q", quantizeInt8(col(vecCol), col(s"${out}_scale")))

  /** Largest absolute reconstruction error of a (vector, quantized)
    * pair — bounded by scale/2 for symmetric quantization. Max, not a
    * sum: immune to summation-order differences across engines. */
  def maxAbsError(v: Column, q: Column, scale: Column): Column =
    aggregate(
      zip_with(d(v), q, (x, qq) => abs(x - qq.cast("double") * scale)),
      lit(0.0), (acc, e) => greatest(acc, e))

  // -------------------------------------------------- label centroids

  /** Per-label, per-dimension centroid table — the prototype vectors of
    * a labeled embedding set (class means for nearest-centroid
    * classification, cluster means for diagnostics). One row per
    * (label, dimension) with the member count.
    *
    * Scale shape: posexplode (×dim, narrow) → ONE hash aggregate keyed
    * (label, dim) with map-side combine; output is labels×dims rows —
    * a catalog, not a corpus. */
  def labelCentroids(
      df: org.apache.spark.sql.DataFrame,
      vecCol: String, labelCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(labelCol), posexplode(d(col(vecCol))).as(Seq("i", "v")))
      .groupBy(col(labelCol), col("i"))
      .agg(avg("v").as("c"), count(lit(1)).as("n"))

  private def kmeansPrep(df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("__id"), d(col(vecCol)).as("__v"))

  /** Squared-L2 nearest-centroid min-struct (dist, cid) for a vector
    * column; centroids ride as a FLAT matrix literal inside ONE native
    * expression ([[graft.functions.NearestCentroidExpr]]), so this is
    * a scan-bound, allocation-free map. The earlier
    * `array_min(array(struct(...), …))` composition materialized k
    * structs + a k-array per row — with an adaptive cluster count
    * (k ∝ corpus size, see [[semDedupPairs]]) that made CLUSTERING the
    * superlinear stage it was supposed to prevent (k=313 on the 10×
    * stress corpus: 10.6 s → sub-second). Same left-to-right Σ(x−c)²
    * doubles, same lexicographic (dist, cid) min — assignments, and
    * therefore oracle replays, are bit-identical. */
  private def nearestCentroid(v: Column,
      cents: Array[(Int, Array[Double])]): Column = {
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      "nearestCentroid: ragged centroid dims")
    val flat = new Array[Double](cents.length * dim)
    val ids = new Array[Int](cents.length)
    cents.zipWithIndex.foreach { case ((cid, c), j) =>
      ids(j) = cid
      System.arraycopy(c, 0, flat, j * dim, dim)
    }
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.NearestCentroidExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v), flat, ids, dim))
  }

  private def kmeansAssignPass(x: org.apache.spark.sql.DataFrame,
      cents: Array[(Int, Array[Double])]): org.apache.spark.sql.DataFrame =
    x.withColumn("__cl", nearestCentroid(col("__v"), cents).getField("cid"))

  private def kmeansMeans(assigned: org.apache.spark.sql.DataFrame) = assigned
    .select(col("__cl"), posexplode(col("__v")).as(Seq("__i", "__x")))
    .groupBy(col("__cl"), col("__i"))
    .agg(round(avg(col("__x")), 6).as("__c"))

  /** Lowest-id init + `rounds` collected Lloyd updates (see
    * [[kmeansCentroids]] for the determinism contract). */
  private def kmeansLoop(x: org.apache.spark.sql.DataFrame,
      k: Int, rounds: Int): Array[(Int, Array[Double])] = {
    // driver-sized by construction: limit(k) rows of dim doubles
    var cents: Array[(Int, Array[Double])] = x
      .orderBy(col("__id")).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    for (_ <- 0 until rounds) {
      cents = kmeansMeans(kmeansAssignPass(x, cents))
        .groupBy(col("__cl"))
        .agg(transform(
          sort_array(collect_list(struct(col("__i"), col("__c")))),
          _.getField("__c")).as("__v"))
        // driver-sized by construction: one row per surviving cluster (<= k)
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    }
    cents
  }

  /** Distributed Lloyd k-means over an embedding column, returning the
    * final per-cluster centroid table `(cluster, dim, c, n)` — one row
    * per (cluster, dimension) with the member count. Fully
    * deterministic (cross-engine reproducible, no RNG):
    *  - init: the `k` vectors with the LOWEST ids, cluster index =
    *    rank by id;
    *  - assignment: exact squared-L2 (left-to-right fold, so the
    *    doubles are bit-identical across engines), ties to the lowest
    *    cluster id;
    *  - update: per-dimension mean ROUNDED to 6 dp before the next
    *    assignment (kills cross-engine ulp drift in the averages);
    *    clusters that lose all members are dropped.
    *
    * Scale shape: the classic k-means-on-Spark loop — per iteration
    * one distributed assignment pass (centroids inlined as literals,
    * so the pass is a scan-bound map) + one (cluster, dim)-keyed mean
    * with map-side combine; only the k×dim centroid table ever reaches
    * the driver. The FINAL iteration's aggregate is returned as the
    * (un-collected) result DataFrame. At 100 TB each iteration is one
    * scan + one tiny shuffle; k×dim stays kilobytes. */
  def kmeansCentroids(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && iters >= 1, "kmeansCentroids: k/iters >= 1")
    val x = kmeansPrep(df, idCol, vecCol)
    val last = kmeansAssignPass(x, kmeansLoop(x, k, iters - 1))
    val counts = last.groupBy(col("__cl")).agg(count(lit(1)).as("n"))
    kmeansMeans(last)
      .join(broadcast(counts), "__cl")
      .select(col("__cl").as("cluster"), col("__i").as("dim"),
        col("__c").as("c"), col("n"))
  }

  /** Every row with its k-means `cell` after `iters − 1` Lloyd update
    * rounds (the assignment that [[kmeansCentroids]]' final update
    * aggregates over) — the clustering front-end for cell-local work
    * like [[semDedupPairs]]. Output: (`idCol`, `__v` double vector,
    * `cell`). */
  def kmeansAssign(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && iters >= 1, "kmeansAssign: k/iters >= 1")
    val x = kmeansPrep(df, idCol, vecCol)
    kmeansAssignPass(x, kmeansLoop(x, k, iters - 1))
      .select(col("__id").as(idCol), col("__v"), col("__cl").as("cell"))
  }

  /** Train the per-subspace PQ codebooks of [[pqEncode]] (returned as
    * driver-side literals — m·k·(dim/m) doubles, kilobytes). */
  def pqTrain(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): Seq[Array[(Int, Array[Double])]] = {
    require(m >= 1 && k >= 1 && iters >= 1, "pqTrain: m/k/iters >= 1")
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m $m")
    val sub = dim / m
    (0 until m).map { j =>
      val xj = df.select(col(idCol).as("__id"),
        d(slice(col(vecCol), j * sub + 1, sub)).as("__v"))
      kmeansLoop(xj, k, iters - 1)
    }
  }

  /** Encode against PRE-TRAINED codebooks: one scan-bound projection
    * (all codebooks as plan literals). */
  def pqEncodeWith(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String,
      codebooks: Seq[Array[(Int, Array[Double])]]): org.apache.spark.sql.DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head._2.length
    val staged = codebooks.zipWithIndex.foldLeft(
      df.select(col(idCol), d(col(vecCol)).as("__v"))) { case (acc, (cents, j)) =>
      acc.withColumn(s"__m$j",
        nearestCentroid(slice(col("__v"), j * sub + 1, sub), cents))
    }
    staged.select(
      col(idCol) +:
        (0 until m).map(j => col(s"__m$j").getField("cid").as(s"code_$j")) :+
        sqrt((0 until m).map(j => col(s"__m$j").getField("dist"))
          .reduce(_ + _)).as("qerr"): _*)
  }

  /** Product quantization (Jégou et al. 2011): the vector splits into
    * `m` equal subspaces, each k-means'd independently with the same
    * bit-stable Lloyd loop as [[kmeansCentroids]]; a vector's code is
    * its nearest-centroid id per subspace. `k^m` reproduction values
    * from `m·k` centroids — the codebook scale-out trick behind
    * IVF-PQ indexes. Output: (`idCol`, `code_0..code_{m−1}`,
    * `qerr` = √Σ subspace squared distances, the reconstruction
    * error). Deterministic end to end, so a SQL replay matches
    * exactly.
    *
    * Scale shape: training = per-subspace driver loops (corpus-sized
    * scans, tiny k × dim/m collected means); ENCODING is ONE
    * scan-bound projection — all m codebooks
    * ride as literals, every code and the error computed in a single
    * pass, nothing joined or shuffled. At 100 TB the codes table is
    * m bytes/vector instead of 4·dim — the point of PQ. */
  def pqEncode(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): org.apache.spark.sql.DataFrame =
    pqEncodeWith(df, idCol, vecCol, pqTrain(df, idCol, vecCol, m, k, iters))

  /** Per-probe ADC lookup tables: `__lut{j}[c+1]` = squared L2 from
    * the probe's j-th subvector to codebook j's centroid `c` — the
    * m×k staging every ADC consumer shares ([[pqTopK]],
    * [[ivfPqTopK]]). Slots of clusters dropped during training are
    * never read (their id never appears as a code); they hold a
    * MaxValue placeholder. */
  private def pqLuts(
      probes: org.apache.spark.sql.DataFrame,
      probeIdCol: String, vecCol: String,
      books: Seq[Array[(Int, Array[Double])]], k: Int,
      prefix: String = "__lut"): org.apache.spark.sql.DataFrame = {
    val sub = books.head.head._2.length
    books.zipWithIndex.foldLeft(
      probes.select(col(probeIdCol), d(col(vecCol)).as("__q"))) {
      case (acc, (cents, j)) =>
        val byId = cents.toMap // lut index c+1 must hold centroid c
        acc.withColumn(s"$prefix$j", array((0 until k).map { c =>
          byId.get(c) match {
            case Some(cent) => graft.functions.l2Sq(
              slice(col("__q"), j * sub + 1, sub), lit(cent))
            case None => lit(Double.MaxValue)
          }
        }: _*))
    }.drop("__q")
  }

  /** PQ-ADC approximate top-`topK`: every probe ranks the WHOLE corpus
    * by asymmetric distance — the probe's exact subvector against each
    * corpus vector's reproduction value, i.e. `Σⱼ d²(qⱼ, centⱼ[codeⱼ])`.
    * The per-probe m×k distance lookup tables are staged ONCE per
    * probe row; each (probe, corpus) pair then costs m `element_at`
    * lookups instead of a dim-length fold — the ADC trick that makes
    * PQ search memory-bandwidth-bound. Self-matches excluded when id
    * columns collide. Deterministic total order (distance, id).
    *
    * Scale shape: codes are m small ints per corpus row (the 4·dim →
    * m compression is what gets scanned); probes + their LUTs
    * broadcast. The final per-probe rank here is a probe-partitioned
    * window for oracle parity — swap in [[Similarity.TopKAgg]] (the
    * bounded-heap partial aggregate, ≤ topK rows per probe per
    * partition on the shuffle) on a real cluster. */
  def pqTopK(
      corpus: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, probeIdCol: String,
      m: Int, k: Int, iters: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probeIdCol != idCol,
      "pqTopK: probe id column must be named differently from the corpus id")
    val books = pqTrain(corpus, idCol, vecCol, m, k, iters)
    val codes = pqEncodeWith(corpus, idCol, vecCol, books)
      .select(col(idCol) +: (0 until m).map(j => col(s"code_$j")): _*)
    val luts = pqLuts(probes, probeIdCol, vecCol, books, k)
    val approx = (0 until m)
      .map(j => element_at(col(s"__lut$j"), col(s"code_$j") + 1))
      .reduce(_ + _)
    codes.crossJoin(broadcast(luts))
      .filter(col(probeIdCol) =!= col(idCol))
      .withColumn("__ad", approx)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(probeIdCol))
          .orderBy(col("__ad"), col(idCol))))
      .filter(col("rank") <= topK)
      .select(col(probeIdCol), col("rank"), col(idCol), col("__ad").as("adist"))
  }

  /** IVF-PQ (Jégou 2011 §V, the FAISS production ANN shape): a coarse
    * quantizer prunes the corpus to each probe's `nprobe` nearest
    * cells, then [[pqTopK]]'s ADC ranks ONLY those cells' vectors.
    * The coarse quantizer is the PQ machinery itself with `m = 1` —
    * a full-vector k-means under the same bit-stable Lloyd contract —
    * so the whole index (cells, codebooks, codes, probe routing,
    * ADC scores) is deterministic and SQL-replayable. (Classic IVF-PQ
    * encodes residuals v − centroid(cell); this variant encodes raw
    * vectors — one shared codebook, same pruning structure.)
    *
    * Scale shape: the corpus is touched by three scan-bound encode
    * passes (cell + codes ride literals); search joins the code table
    * against a BROADCAST (probe, cell) routing × LUT table keyed on
    * the cell id, so each probe scores ~`nprobe/nlist` of the corpus
    * instead of all of it — candidate volume, not corpus volume, is
    * what moves. At 100 TB: write codes `partitionBy(cell)` as in
    * [[Similarity.ivfWriteIndex]] and the probed cells become
    * partition-pruned reads of m-byte codes. */
  def ivfPqTopK(
      corpus: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, probeIdCol: String,
      nlist: Int, nprobe: Int,
      m: Int, k: Int, iters: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probeIdCol != idCol,
      "ivfPqTopK: probe id column must be named differently from the corpus id")
    require(nprobe >= 1 && nprobe <= nlist,
      "ivfPqTopK: need 1 <= nprobe <= nlist")
    val coarse = pqTrain(corpus, idCol, vecCol, 1, nlist, iters)
    val cellOf = pqEncodeWith(corpus, idCol, vecCol, coarse)
      .select(col(idCol), col("code_0").as("__cell"))
    val books = pqTrain(corpus, idCol, vecCol, m, k, iters)
    val codes = pqEncodeWith(corpus, idCol, vecCol, books)
      .select(col(idCol) +: (0 until m).map(j => col(s"code_$j")): _*)
      .join(cellOf, idCol)
    // probe routing: distance to every coarse centroid via the same
    // LUT staging, nprobe smallest (dist, cell) kept — deterministic
    val routed = pqLuts(probes, probeIdCol, vecCol, coarse, nlist, "__clut")
      .select(col(probeIdCol),
        posexplode(col("__clut0")).as(Seq("__cell", "__cd")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(probeIdCol))
          .orderBy(col("__cd"), col("__cell"))))
      .filter(col("__rk") <= nprobe)
      .select(col(probeIdCol), col("__cell"))
      .join(pqLuts(probes, probeIdCol, vecCol, books, k), probeIdCol)
    val approx = (0 until m)
      .map(j => element_at(col(s"__lut$j"), col(s"code_$j") + 1))
      .reduce(_ + _)
    codes.join(broadcast(routed), "__cell")
      .filter(col(probeIdCol) =!= col(idCol))
      .withColumn("__ad", approx)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(probeIdCol))
          .orderBy(col("__ad"), col(idCol))))
      .filter(col("rank") <= topK)
      .select(col(probeIdCol), col("rank"), col(idCol), col("__ad").as("adist"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-dup pairs via k-means clustering + WITHIN-CELL exact cosine
    * — the cluster step makes the quadratic comparison local, the
    * published approximation being that near-duplicates co-locate in
    * a cell. Deterministic end to end (the clustering is
    * [[kmeansAssign]]'s bit-stable Lloyd loop), so an oracle that
    * replays the same clustering matches exactly, including any
    * boundary-straddling pair both engines miss together.
    *
    * Scale shape: one hash shuffle on `cell`, then a cell-local
    * self-join — pair work is Σ(cellsize²) instead of n², and cells
    * shrink as k grows; no all-pairs stage anywhere. A FIXED k is the
    * scale trap (measured: 10× corpus, k=16 ⇒ 4.09× vs linear —
    * within-cell pair work grows quadratically when cell population
    * grows with the corpus), so k GROWS with the corpus:
    * `k_eff = max(k, min(⌈n / targetCellSize⌉, 4096))` keeps expected
    * cell population — and with it per-row pair work — constant. The
    * 4096 ceiling is the flat-Lloyd practical limit: assignment work
    * is n·k·dim and the collected centroid table is k×dim, so an
    * UNBOUNDED k ∝ n would make clustering itself quadratic and the
    * driver table corpus-sized — at the corpus size where the ceiling
    * binds (n > 4096·targetCellSize ≈ 260k with the defaults), use
    * [[semDedupSharded]]: IVF shard routing + a per-shard joined
    * Lloyd whose centroid table never reaches the driver, the
    * published SemDeDup recipe at web scale with no k ceiling at all.
    * Cells that still
    * exceed 16× the target (Lloyd cannot split an identical-vector
    * flood, and a dense semantic cluster may simply be big) are
    * SUBDIVIDED deterministically by id hash into target-sized
    * sub-cells rather than dropped: pair work stays linear in the
    * cell's population, recall inside the oversized cell degrades
    * gracefully (cross-sub-cell pairs are the price), and nothing is
    * silently zeroed — the failure mode of a drop-the-cell cap, which
    * would erase exactly the densest near-dup regions the operator
    * exists to find. Pass `targetCellSize = 0` to pin k exactly
    * (oracle-replay mode; no subdivision). The one extra `count()` is
    * a metadata-cheap aggregate. */
  def semDedupPairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      targetCellSize: Int = 64): org.apache.spark.sql.DataFrame = {
    val kEff =
      if (targetCellSize <= 0) k
      else {
        val n = df.count()
        val grown = (n + targetCellSize - 1) / targetCellSize // Long math
        math.max(k, math.min(grown, 4096L).toInt)
      }
    val assignedAll = kmeansAssign(df, idCol, vecCol, kEff, iters)
    // sub-cell id spacing: kEff ≤ 4096 cells, so cell*2^40 + sub is
    // collision-free for any sub count below 2^40 rows per cell
    val assigned =
      if (targetCellSize <= 0) assignedAll.withColumn("cell", col("cell").cast("long"))
      else {
        val cap = 16L * targetCellSize
        assignedAll
          .withColumn("__cn", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cell")))
          .withColumn("cell",
            when(col("__cn") <= cap, col("cell").cast("long") * (1L << 40))
              .otherwise(col("cell").cast("long") * (1L << 40) +
                pmod(xxhash64(col(idCol)),
                  ceil(col("__cn") / targetCellSize).cast("long"))))
          .drop("__cn")
      }
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col("__v").as("__va"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"),
      col("__v").as("__vb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Hierarchical SemDeDup — the composition [[semDedupPairs]]'s
    * Scaladoc names as the web-scale path, implemented so NOTHING is
    * model-sized in the corpus dimension:
    *
    *  - **Tier 1 (routing)**: every vector goes to one of `nlist` IVF
    *    shards ([[Similarity.ivfCentroids]]' md5-sampled deterministic
    *    centroids, inlined as literals — a scan-bound map; `nlist` is
    *    an index-config constant, not corpus-derived).
    *  - **Tier 2 (per-shard clustering)**: a JOINED Lloyd loop. The
    *    centroids live in a `(shard, cl, centroid)` DataFrame that is
    *    NEVER collected — assignment is a shuffle join on the shard
    *    key, the update a (shard, cl, dim)-keyed mean with map-side
    *    combine. The per-shard cluster count
    *    `k = max(kMin, ⌈shard_rows / targetCellSize⌉)` therefore has
    *    no ceiling: total cluster count grows with the corpus while
    *    expected CELL population — and with it per-row pair work —
    *    stays constant. This removes the flat path's 4096-cell
    *    flat-Lloyd limit (driver centroid table k×dim, assignment
    *    n·k·dim against literals); the joined assignment costs
    *    n·k_shard·dim but distributed and shard-local.
    *  - **Tier 3 (pairs)**: exact cosine within (shard, cell) only.
    *
    * Deterministic end to end and SQL-replayable: md5 shard sample,
    * cosine shard routing with the 2.0 zero-norm guard, per-shard k
    * from an integer floor-division of the shard count, lowest-id
    * seeds ranked per shard, 6-dp-rounded means between Lloyd rounds,
    * lexicographic (dist, cl) assignment ties, left-to-right float
    * folds throughout. Recall price vs flat: a near-dup pair whose
    * members route to different shards is missed — the same
    * cross-cell miss SemDeDup itself accepts, applied one level up.
    *
    * Iteration materialization: only the Σk-row centroid table is
    * localCheckpoint'd per round (lineage cap — it is aggregate-sized,
    * `corpus / targetCellSize` rows at worst, never corpus-width). */
  def semDedupSharded(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String,
      nlist: Int, iters: Int, threshold: Double,
      targetCellSize: Int = 64, kMin: Int = 2): org.apache.spark.sql.DataFrame = {
    require(nlist >= 1 && iters >= 1 && targetCellSize >= 1 && kMin >= 1,
      "semDedupSharded: nlist/iters/targetCellSize/kMin >= 1")
    val x0 = df.select(col(idCol).as("__id"), d(col(vecCol)).as("__v"))
    // tier 1: IVF shard routing (deterministic, literal centroids)
    val shardCents = Similarity.ivfCentroids(x0, "__id", "__v", nlist)
    val sharded = Similarity.ivfAssign(x0, "__v", shardCents)
      .select(col("cell").cast("long").as("__sh"), col("__id"), col("__v"))
    shardedLloydPairs(sharded, iters, threshold, targetCellSize, kMin)
  }

  /** LSH-sharded SemDeDup — the fully LINEAR composition. The IVF
    * routing of [[semDedupSharded]] costs n·nlist distance evaluations
    * at tier 1: constant-factor at a fixed index config, but nlist
    * must grow with the corpus to keep shards bounded, and n·nlist
    * then bends superlinear. Here tier 1 is random-hyperplane LSH: the
    * shard key is the sign pattern of `bits` fixed projections —
    * O(bits·dim) per row with `bits = ⌈log2(⌈n/shardTarget⌉)⌉`
    * derived from ONE count, so routing cost grows only
    * logarithmically while expected shard population stays at
    * `shardTarget`. With tier 2's count-derived per-shard k (capped at
    * `kMax`, oversized cells subdivided), every stage is O(n·const):
    * nothing in the whole composition is model-sized or superlinear in
    * the corpus — this is the operator to reach for at 10^9+ rows.
    *
    * Recall price vs IVF routing: a near-dup pair split by some
    * hyperplane is missed; for pairs at cosine ≥ 0.99 the per-plane
    * split probability is θ/π ≤ 0.045, so at the bits this sizing
    * yields (e.g. 16 shards → 4 bits → ≥ 0.83 pair-recall worst-case,
    * far higher for the ≈1.0-cosine near-dups dedup targets). The
    * planted-pair recall law is asserted in the test suite.
    *
    * Deterministic and SQL-replayable end to end: the hyperplanes are
    * seeded constants (prefix-stable in `bits`, so an oracle can
    * inline a maximal plane set and mask by the count-derived bits),
    * the sign test is the shared left-to-right dot fold vs 0, and
    * tier 2 is [[shardedLloydPairs]]' bit-stable loop. */
  def semDedupLsh(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, dim: Int,
      iters: Int, threshold: Double,
      shardTarget: Int = 4096, targetCellSize: Int = 64,
      kMin: Int = 2, kMax: Int = 4096,
      seed: Long = 7L): org.apache.spark.sql.DataFrame = {
    require(iters >= 1 && shardTarget >= 1 && targetCellSize >= 1 &&
      kMin >= 1 && kMax >= kMin,
      "semDedupLsh: iters/shardTarget/targetCellSize/kMin >= 1, kMax >= kMin")
    val x0 = df.select(col(idCol).as("__id"), d(col(vecCol)).as("__v"))
    // ONE metadata-cheap count sizes the shard space; 24 bits (16M
    // shards) is far past any shardTarget-bounded need
    val n = x0.count()
    val groups = (n + shardTarget - 1) / shardTarget
    val bits = math.min(24,
      if (groups <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(groups - 1))
    val sharded =
      if (bits == 0) x0.select(lit(0L).as("__sh"), col("__id"), col("__v"))
      else {
        val planes = Similarity.hyperplanes(dim, 1, bits, seed)(0)
        val key = planes.toIndexedSeq.zipWithIndex
          .map { case (h, b) => signBit(col("__v"), h) * (1L << b) }
          .reduce(_ + _)
        x0.select(key.as("__sh"), col("__id"), col("__v"))
      }
    shardedLloydPairs(sharded, iters, threshold, targetCellSize, kMin, kMax)
  }

  /** Shared tier 2+3 of the sharded SemDeDup family: per-shard joined
    * Lloyd (k from the shard count, capped at `kMax`), oversized-cell
    * subdivision, within-cell cosine pairs. Input: (`__sh`, `__id`,
    * `__v`). The centroid table lives in a DataFrame keyed by shard —
    * never collected; each round's update is staged and releases the
    * one it supersedes (aggregate-sized: ≤ corpus/targetCellSize rows;
    * the last backs the lazily returned pairs). The subdivision
    * guard mirrors [[semDedupPairs]]': cells beyond 16× the target
    * (an identical-vector flood Lloyd cannot split, or a kMax-capped
    * dense shard) split deterministically by id hash into target-sized
    * sub-cells — pair work stays linear, recall inside the cell
    * degrades gracefully, nothing is dropped. Like the flat operator,
    * the subdivision has no SQL twin (xxhash64) and cannot trigger at
    * oracle-gate corpus sizes (it needs a >16·targetCellSize cell). */
  private def shardedLloydPairs(
      sharded: org.apache.spark.sql.DataFrame,
      iters: Int, threshold: Double,
      targetCellSize: Int, kMin: Int,
      kMax: Int = Int.MaxValue): org.apache.spark.sql.DataFrame =
    Fixpoint.scoped { blocks =>
      val W = org.apache.spark.sql.expressions.Window
      // per-shard k and seed ranks — both windows share one hash
      // partitioning on the shard key (a single exchange)
      val xs = sharded
        .withColumn("__k", expr(
          s"least($kMax, greatest($kMin, " +
            s"CAST((count(1) OVER (PARTITION BY __sh) + " +
            s"${targetCellSize - 1}) DIV $targetCellSize AS INT)))"))
        .withColumn("__rn",
          row_number().over(W.partitionBy("__sh").orderBy("__id")))
      // joined assignment: x ⋈ centroids on shard, lexicographic
      // (dist, cl) min per row via a map-side-combining struct-min agg
      def assign(cs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        xs.select(col("__sh"), col("__id"), col("__v"))
          .join(cs, Seq("__sh"))
          .withColumn("__dist", graft.functions.l2Sq(col("__v"), col("__cv")))
          .groupBy(col("__sh"), col("__id"))
          .agg(min(struct(col("__dist"), col("__cl"))).as("__m"),
            // deterministic: __v is functionally dependent on the group key
            first(col("__v")).as("__v"))
          .select(col("__sh"), col("__id"), col("__v"),
            col("__m.__cl").as("__cl"))
      val seeds = xs
        .filter(col("__rn") <= col("__k"))
        .select(col("__sh"), (col("__rn") - 1).cast("int").as("__cl"),
          col("__v").as("__cv"))
      // the centroid table is aggregate-sized (Σk rows) but each round
      // reads the whole corpus, so every round is cut
      val cents = Fixpoint.iterate(blocks, seeds, iters - 1, everyRound = true) { cents =>
        assign(cents)
          .select(col("__sh"), col("__cl"),
            posexplode(col("__v")).as(Seq("__i", "__x")))
          .groupBy(col("__sh"), col("__cl"), col("__i"))
          .agg(round(avg(col("__x")), 6).as("__c"))
          .groupBy(col("__sh"), col("__cl"))
          .agg(transform(
            sort_array(collect_list(struct(col("__i"), col("__c")))),
            _.getField("__c")).as("__cv"))
      }
      // oversized-cell subdivision (the semDedupPairs guard, one tier
      // down): sub-cell id spacing 2^40 is collision-free below 2^40
      // rows per cell; cells ≤ the 16× cap keep sub-key 0
      val cap = 16L * targetCellSize
      val fin = assign(cents)
        .withColumn("__cn", count(lit(1)).over(
          W.partitionBy(col("__sh"), col("__cl"))))
        .withColumn("__cl",
          when(col("__cn") <= cap, col("__cl").cast("long") * (1L << 40))
            .otherwise(col("__cl").cast("long") * (1L << 40) +
              pmod(xxhash64(col("__id")),
                ceil(col("__cn") / targetCellSize).cast("long"))))
        .drop("__cn")
      val a = fin.select(col("__sh"), col("__cl"), col("__id").as("id_a"),
        col("__v").as("__va"))
      val b = fin.select(col("__sh"), col("__cl"), col("__id").as("id_b"),
        col("__v").as("__vb"))
      a.join(b, Seq("__sh", "__cl"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine", cosine(col("__va"), col("__vb")))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }

  /** Cosine of every vector to its OWN label's centroid — the
    * intra-class cohesion signal (low/negative cosines flag mislabeled
    * or outlier members; per-label averages rank label quality).
    *
    * Scale shape: the centroid catalog from [[labelCentroids]] is tiny
    * and BROADCAST back onto the exploded corpus; the dot/norm fold is
    * a second (id, label)-keyed aggregate with map-side combine. The
    * corpus is scanned twice, shuffled only as ×dim partial-aggregate
    * output — never joined against itself. */
  /** Per-dimension whitening (standardization): `z = (x − μ_i) / σ_i`
    * with corpus-wide per-dimension mean and POPULATION stddev — the
    * embedding normalization step before cosine/PQ work when dims have
    * wildly different scales. Output: one (`idCol`, `i`, `z`) row per
    * vector component. Constant dimensions (σ = 0) whiten to 0 rather
    * than dividing (ANSI mode would abort; DuckDB would yield NULL).
    *
    * Determinism (cross-engine): μ and σ are ROUNDED to 6 dp before
    * the z computation and z is rounded after — the k-means recipe —
    * so float summation-order drift between engines cannot surface.
    *
    * Scale shape: one (dimension)-keyed aggregate with map-side
    * combine (dim-sized result), broadcast back onto the exploded
    * corpus — the corpus is never self-joined and nothing data-sized
    * reaches the driver. */
  def whiten(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String): org.apache.spark.sql.DataFrame = {
    val x = df.select(col(idCol), posexplode(d(col(vecCol))).as(Seq("i", "x")))
    val stats = x.groupBy(col("i")).agg(
      round(avg(col("x")), 6).as("__mu"),
      round(stddev_pop(col("x")), 6).as("__sigma"))
    x.join(broadcast(stats), Seq("i"))
      .select(col(idCol), col("i"),
        when(col("__sigma") === 0, lit(0.0))
          .otherwise(round((col("x") - col("__mu")) / col("__sigma"), 6))
          .as("z"))
  }

  /** Top principal component of an embedding column via power
    * iteration — PCA's first axis, computed the way 100 TB allows:
    * ONE distributed pass builds the d×d second-moment/covariance
    * matrix (the exploded self-join on row id is co-partitioned; the
    * (i, j)-keyed mean partial-aggregates map-side, so the shuffle
    * carries d² cells per partition, never rows), and the iteration
    * itself runs on the COLLECTED matrix — model-sized by
    * construction (d² doubles, kilobytes), like every centroid/
    * codebook loop in this file.
    *
    * Deterministic and cross-engine replayable — and NOT via 6-dp
    * float rounding: the iteration's values live on a coarse decimal
    * grid, so rounding inputs land EXACTLY on .5 boundaries where an
    * ulp of float-summation noise decides the side (observed live).
    * Instead the whole iteration runs in exact integer arithmetic on
    * micro-units (×1e6), carried as integer-valued doubles: integer
    * adds/multiplies below 2^53 are exact in ANY order, so both
    * engines compute bit-identical values at every step. Floats are
    * quantized exactly once — covariance cells
    * `cm = floor((E[x_i·x_j] − mu_i·mu_j)·1e6 + 0.5)` — where values
    * are corpus statistics, not grid points, so the boundary
    * probability is the same negligible one every avg-based oracle
    * carries. Per iteration (b > 0 division as
    * `round_half_up(a/b) = floor((2a+b)/(2b))`, exact-input correctly
    * rounded → engine-identical):
    *  - `wm_i = round_half_up(Σ_j cm_ij·vm_j / 1e6)`
    *  - `nm = floor(√(Σ wm²) + 0.5)`
    *  - `vm_i = round_half_up(wm_i·1e6 / nm)`
    * Final `v = vm/1e6`, `eigenvalue = nm/1e6` (‖Cv‖ with ‖v‖ = 1).
    *
    * Output: one row per dimension — (`dim`, `v`, `eigenvalue`). */
  def topComponent(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, iters: Int = 8): org.apache.spark.sql.DataFrame = {
    require(iters >= 1, "topComponent: iters >= 1")
    val e = df.select(col(idCol).as("__id"),
      posexplode(d(col(vecCol))).as(Seq("i", "xi")))
    val e2 = e.select(col("__id"), col("i").as("j"), col("xi").as("xj"))
    val moments = e.join(e2, "__id")
      .groupBy(col("i"), col("j"))
      .agg(avg(col("xi") * col("xj")).as("__exx"))
    // driver-sized by construction: d² second-moment cells + d means
    val exx = moments.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // driver-sized by construction: d per-dimension means
    val mu = e.groupBy(col("i")).agg(avg(col("xi")).as("__mu"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dim = mu.size
    // the ONE float→grid quantization; everything after is exact
    val cm = Array.tabulate(dim, dim)((i, j) =>
      math.floor((exx((i, j)) - mu(i) * mu(j)) * 1e6 + 0.5))
    var vm = Array.fill(dim)(math.floor(1e6 / math.sqrt(dim.toDouble) + 0.5))
    var nm = 0.0
    for (_ <- 1 to iters) {
      val s = Array.tabulate(dim)(i => // exact: integer values < 2^53
        (0 until dim).map(j => cm(i)(j) * vm(j)).sum)
      val wm = s.map(x => math.floor((2.0 * x + 1e6) / 2e6))
      nm = math.floor(math.sqrt(wm.map(x => x * x).sum) + 0.5)
      vm = wm.map(x => math.floor((2.0 * x * 1e6 + nm) / (2.0 * nm)))
    }
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(
      vm.zipWithIndex.map { case (x, i) =>
        org.apache.spark.sql.Row(i.toLong, x / 1e6, nm / 1e6)
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dim",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("eigenvalue",
          org.apache.spark.sql.types.DoubleType))))
  }

  def centroidCosines(
      df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, labelCol: String): org.apache.spark.sql.DataFrame = {
    val x = df.select(
      col(idCol), col(labelCol), posexplode(d(col(vecCol))).as(Seq("i", "v")))
    val c = labelCentroids(df, vecCol, labelCol)
      .select(col(labelCol), col("i"), col("c"))
    x.join(broadcast(c), Seq(labelCol, "i"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum(col("v") * col("c")).as("dot"),
        sum(col("v") * col("v")).as("n2"),
        sum(col("c") * col("c")).as("c2"))
      .select(col(idCol), col(labelCol),
        (col("dot") / (sqrt(col("n2")) * sqrt(col("c2")))).as("cos"))
  }
}
