package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / top-k similarity search over an
  * embedding column.
  *
  * Three tiers, by scale:
  *  1. [[bruteTopK]] — exact: broadcast the (small) probe set over the
  *     corpus, rank per probe. The per-probe ranking uses the
  *     [[TopKAgg]] bounded-heap aggregator, which partial-aggregates
  *     map-side: each shuffle partition ships at most k candidates per
  *     probe, so the shuffle is O(probes·k·partitions), never O(corpus).
  *  2. [[bruteTopKWindow]] — exact, window-ranked: simplest plan,
  *     deterministic tie-breaks; fine when probes·corpus fits a
  *     shuffle. Used as the oracle-matched reference implementation.
  *  3. [[annTopK]] — approximate: random-hyperplane LSH bucketing; only
  *     same-bucket candidates are scored. The 100 TB path.
  */
object Similarity {

  /** Exact top-k neighbors per probe, window-ranked (deterministic:
    * ties broken by neighbor id). Returns probe_id, rank, nbr_id,
    * cosine. */
  def bruteTopKWindow(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      includeSelf: Boolean = false): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(p))
      .filter(if (includeSelf) lit(true) else col("nbr_id") =!= col("probe_id"))
      .withColumn("cosine", Vec.cosine(col("__pv"), col("__cv")))
    scored.withColumn("rank",
      row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("cosine").desc, col("nbr_id"))))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "nbr_id", "cosine")
  }

  /** Bounded top-k heap aggregator: merges (score, id) pairs keeping
    * only the best k — partial-aggregates map-side so no partition ever
    * ships more than k rows per group. Ties prefer the smaller id
    * (matching [[bruteTopKWindow]]'s ordering). */
  class TopKAgg(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private val ord: Ordering[(Double, Long)] =
      Ordering.by[(Double, Long), (Double, Long)] { case (s, i) => (-s, i) }
    private def trim(xs: Seq[(Double, Long)]): Seq[(Double, Long)] =
      xs.sorted(ord).take(k)
    def zero: Seq[(Double, Long)] = Nil
    def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      // early-exit: once the buffer is full, elements no better than the
      // current kth are dropped in O(1) instead of re-sorting per row
      if (b.length >= k && ord.gteq(a, b.last)) b
      else trim(b :+ a)
    def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
      trim(x ++ y)
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Exact top-k via the bounded-heap aggregator — the scale-out shape
    * (shuffle carries ≤ k candidates per probe per partition). Same
    * output contract as [[bruteTopKWindow]]. */
  def bruteTopK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv"))
    c.crossJoin(broadcast(p))
      .filter(col("nbr_id") =!= col("probe_id"))
      .select(col("probe_id"),
        struct(Vec.cosine(col("__pv"), col("__cv")).as("_1"),
          col("nbr_id").cast("long").as("_2")).as("__sc"))
      .groupBy("probe_id")
      .agg(topk(col("__sc._1"), col("__sc._2")).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("probe_id"), (col("__pos") + 1).as("rank"),
        col("__t._2").as("nbr_id"), col("__t._1").as("cosine"))
  }

  /** Radius (range) search: every (probe, neighbor) pair with cosine
    * similarity ≥ `tau` — the companion to top-k for "give me ALL
    * matches above a quality bar" workloads (semantic contamination
    * sweeps, near-dup audits) where k is unknowable in advance.
    *
    * The cosine is rounded to `roundDp` BEFORE the threshold compare,
    * so the boundary decision is replayable across engines (raw double
    * folds can differ in the last ulp right at τ; after 6-dp rounding
    * both engines compare the same number).
    *
    * Scale shape: identical to [[bruteTopKWindow]] — one corpus scan
    * with the probe set broadcast (probe-side only; the corpus never
    * shuffles), a scan-bound map with no window and no sort. Output is
    * pair-sized, not corpus-sized. For probe sets too big to
    * broadcast, feed [[hyperplaneBands]] candidates through the same
    * threshold instead (the [[annTopK]] path). */
  def radiusSearch(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      roundDp: Int = 6): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv"))
    c.crossJoin(broadcast(p))
      .filter(col("nbr_id") =!= col("probe_id"))
      .withColumn("cosine", round(Vec.cosine(col("__pv"), col("__cv")), roundDp))
      .filter(col("cosine") >= tau)
      .select(col("probe_id"), col("nbr_id"), col("cosine"))
  }

  /** Deterministic random hyperplanes: `tables` × `bitsPerTable` unit
    * gaussians of dimension `dim`, seeded. PREFIX-STABLE in
    * `bitsPerTable` for a fixed (dim, seed): planes draw sequentially
    * from the seeded stream, so the first b planes of a larger set
    * equal the b-plane set — which lets an oracle inline a maximal
    * plane matrix and mask by a data-derived bit count
    * ([[Vec.semDedupLsh]]). Widened to `private[graft]` so the oracle
    * generator can render the same literals. */
  private[graft] def hyperplanes(
      dim: Int, tables: Int, bitsPerTable: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bitsPerTable)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH band keys: for each of `tables` hash tables,
    * the key is the `bitsPerTable`-bit sign pattern of projections onto
    * fixed hyperplanes. Output: idCol, band (table idx), bh (bit key). */
  def hyperplaneBands(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      tables: Int = 8, bitsPerTable: Int = 12, seed: Long = 7L): DataFrame = {
    val planes = hyperplanes(dim, tables, bitsPerTable, seed)
    val keys = planes.toIndexedSeq.zipWithIndex.map { case (tbl, ti) =>
      val key = tbl.toIndexedSeq.zipWithIndex
        .map { case (h, bi) => Vec.signBit(col(vecCol), h) * (1L << bi) }
        .reduce(_ + _)
      struct(lit(ti).as("band"), key.as("bh"))
    }
    df.select(col(idCol), explode(array(keys: _*)).as("__bk"))
      .select(col(idCol), col("__bk.band").as("band"), col("__bk.bh").as("bh"))
  }

  /** Cosine-distance struct array to each centroid (min → assignment;
    * sorted slice → probe lists). Takes the row's PRECOMPUTED norm so
    * it is evaluated once per row, not once per centroid. Zero-norm
    * vector/centroid → max distance (2.0), never a divide (ANSI mode
    * would abort on 0/0). */
  private def centDists(
      cents: Array[(Int, Array[Double])])(v: Column, vNorm: Column): Column =
    array(cents.map { case (cid, c) =>
      val den = vNorm * math.sqrt(c.map(x => x * x).sum)
      val dot = Vec.dot(v, lit(c))
      struct(when(den > 0, lit(1.0) - dot / den).otherwise(lit(2.0)).as("dist"),
        lit(cid).as("cid"))
    }.toIndexedSeq: _*)

  /** Lloyd refinement of IVF centroids: `iters` assign/mean rounds.
    * Per round: one distributed assignment pass + a (cell, dimension)
    * mean aggregate; only the nlist×dim centroid table ever reaches the
    * driver — the classic k-means-on-Spark shape. Cells that lose all
    * members keep their previous centroid. Deterministic. */
  def refineCentroids(
      corpus: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Double])], iters: Int): Array[(Int, Array[Double])] = {
    var cs = cents
    for (_ <- 0 until iters) {
      val means = corpus
        .withColumn("__nv", Vec.norm(col(vecCol)))
        .withColumn("cell",
          array_min(centDists(cs)(col(vecCol), col("__nv"))).getField("cid"))
        .select(col("cell"), posexplode(transform(col(vecCol), _.cast("double")))
          .as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          _.getField("m")).as("c"))
        // driver-sized by construction: one row per cell (<= nlist)
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      cs = cs.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cs
  }

  /** Deterministic IVF centroids: a pseudo-random corpus sample by id
    * hash (no RNG, stable runs), optionally Lloyd-refined. The sample
    * key is `md5(id :: string)` — hex-string ordered, with the id as
    * tiebreak — specifically so an external engine can REPLAY the
    * sample (DuckDB's `md5(CAST(id AS VARCHAR))` yields the identical
    * hex string; `xxhash64` had no cross-engine twin, which kept every
    * IVF query rows-only). */
  def ivfCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, refineIters: Int = 0): Array[(Int, Array[Double])] = {
    val sampled: Array[(Int, Array[Double])] = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(nlist)
      // driver-sized by construction: limit(nlist) sample vectors
      .collect()
      .zipWithIndex
      .map { case (r, i) => // element-type agnostic (float or double arrays)
        (i, r.getSeq[Number](1).map(_.doubleValue()).toArray)
      }
    if (refineIters > 0) refineCentroids(corpus, vecCol, sampled, refineIters)
    else sampled
  }

  /** Corpus with its IVF `cell` assignment (nearest centroid); a null
    * cell when there are no centroids (an empty sampled corpus). */
  def ivfAssign(
      corpus: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame =
    if (cents.isEmpty) corpus.withColumn("cell", lit(null).cast("int"))
    else corpus
      .withColumn("__nv", Vec.norm(col(vecCol)))
      .withColumn("cell",
        array_min(centDists(cents)(col(vecCol), col("__nv"))).getField("cid"))
      .drop("__nv")

  /** Probes exploded to their `nprobe` nearest cells. */
  private def ivfProbeCells(
      probes: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Double])], nprobe: Int): DataFrame =
    probes
      .withColumn("__nv", Vec.norm(col(vecCol)))
      .withColumn("cell",
        explode(transform(
          slice(array_sort(centDists(cents)(col(vecCol), col("__nv"))),
            1, nprobe), _.getField("cid"))))
      .drop("__nv")

  /** Per-probe exact rank over the candidates from the probed cells. */
  private def ivfScore(
      probeCells: DataFrame, assigned: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val scored = probeCells
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"), col("cell"))
      .join(assigned.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv"),
        col("cell")), Seq("cell"))
      .filter(col("nbr_id") =!= col("probe_id"))
      .withColumn("cosine", Vec.cosine(col("__pv"), col("__cv")))
    scored.withColumn("rank",
      row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("cosine").desc, col("nbr_id"))))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "nbr_id", "cosine")
  }

  /** IVF (inverted-file) coarse quantizer: `nlist` deterministic seed
    * centroids (pseudo-random corpus sample by id hash — IVF-flat with
    * sampled centroids; a Lloyd refinement is an optional upgrade, the
    * list structure is identical). Every corpus vector is assigned to
    * its nearest centroid's list; a probe searches only its `nprobe`
    * nearest lists. For the persisted form where each probe is a
    * partition-pruned scan, see [[ivfWriteIndex]]/[[ivfProbeIndex]]. */
  def ivfTopK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 32, nprobe: Int = 4, refineIters: Int = 0): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, refineIters)
    ivfScore(ivfProbeCells(probes, vecCol, cents, nprobe),
      ivfAssign(corpus, vecCol, cents), idCol, vecCol, k)
  }

  /** Persist the IVF index: the corpus written `partitionBy("cell")`
    * (one directory per inverted list) plus the centroid table beside
    * it. At 100 TB this layout IS the index — a probe touching
    * `nprobe` cells reads `nprobe/nlist` of the data via partition
    * pruning, no row-level work on the rest. */
  def ivfWriteIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 32, refineIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, refineIters)
    ivfAssign(corpus, vecCol, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cents.map { case (cid, c) =>
        org.apache.spark.sql.Row(cid, c.toSeq)
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Probe a persisted IVF index: the probes' `nprobe` cells are
    * collected (≤ nlist ints — metadata-sized) and pushed into the
    * scan as a partition `IN` filter, so only the probed inverted
    * lists are ever read. Results are identical to [[ivfTopK]] with
    * the same parameters — the layout changes the PLAN, not the
    * answer. */
  def ivfProbeIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      // driver-sized by construction: the centroid table has nlist rows
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // staged: the cell collection and the scoring join would otherwise
    // both evaluate the centroid-distance assignment; the (small,
    // probe-sized) top-k result is materialized, so the stage is
    // released before returning
    Fixpoint.scoped { blocks =>
      val probeCells = blocks.stageColumnar(ivfProbeCells(probes, vecCol, cents, nprobe))
      val wanted = probeCells.select("cell").distinct()
        // driver-sized by construction: distinct cell ids (<= nlist ints)
        .collect().map(_.getInt(0)).sorted
      val index = spark.read.parquet(s"$path/index")
        .filter(col("cell").isin(wanted.map(Integer.valueOf): _*))
      Fixpoint.materialize(ivfScore(probeCells, index, idCol, vecCol, k))
    }
  }

  /** Approximate top-k: LSH-bucketed candidate generation (union of the
    * probe's buckets across all tables), exact cosine on candidates
    * only, rank ≤ k. Recall is tunable via tables/bitsPerTable;
    * measured against [[bruteTopKWindow]] in the test suite. */
  def annTopK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      tables: Int = 8, bitsPerTable: Int = 12, seed: Long = 7L): DataFrame = {
    val cb = hyperplaneBands(corpus, idCol, vecCol, dim, tables, bitsPerTable, seed)
      .withColumnRenamed(idCol, "nbr_id")
    val pb = hyperplaneBands(probes, idCol, vecCol, dim, tables, bitsPerTable, seed)
      .withColumnRenamed(idCol, "probe_id")
    val cand = cb.join(broadcast(pb), Seq("band", "bh"))
      .filter(col("nbr_id") =!= col("probe_id"))
      .select("probe_id", "nbr_id").distinct()
    val scored = cand
      .join(corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("__cv")), Seq("nbr_id"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))),
        Seq("probe_id"))
      .withColumn("cosine", Vec.cosine(col("__pv"), col("__cv")))
    scored.withColumn("rank",
      row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("cosine").desc, col("nbr_id"))))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "nbr_id", "cosine")
  }
}
