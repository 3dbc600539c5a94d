package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = {
    val rnd = new scala.util.Random(5)
    (0 until 200).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("Vec: dot/norm/cosine basics") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 2.0f))).toDF("a", "b")
    val (d, na, c) = df.select(Vec.dot(col("a"), col("b")),
      Vec.norm(col("a")), Vec.cosine(col("a"), col("b")))
      .as[(Double, Double, Double)].head()
    assert(d == 0.0 && na == 1.0 && c == 0.0)
    val same = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(Vec.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(same - 1.0) < 1e-12)
  }

  test("Vec.whiten: per-dim mean 0 / stddev 1; constant dims whiten to 0") {
    val df = Seq(
      (0L, Array(1.0f, 10.0f, 5.0f)),
      (1L, Array(2.0f, 20.0f, 5.0f)),
      (2L, Array(3.0f, 30.0f, 5.0f)),
      (3L, Array(4.0f, 40.0f, 5.0f))
    ).toDF("id", "v")
    val z = Vec.whiten(df, "id", "v")
    val stats = z.groupBy("i")
      .agg(avg(col("z")).as("m"), stddev_pop(col("z")).as("s"))
      .orderBy("i").as[(Int, Double, Double)].collect().toSeq
    for ((i, m, s) <- stats.take(2)) {
      assert(math.abs(m) < 1e-6, s"dim $i mean $m")
      assert(math.abs(s - 1.0) < 1e-4, s"dim $i std $s")
    }
    // dim 2 is constant: sigma = 0 must yield z = 0, never a division
    val (_, m2, s2) = stats(2)
    assert(m2 == 0.0 && s2 == 0.0, "constant dim whitens to exactly 0")
    // equal z-profiles across proportional dims (0 and 1 are scalings)
    val z0 = z.filter(col("i") === 0).orderBy("id").select("z").as[Double].collect().toSeq
    val z1 = z.filter(col("i") === 1).orderBy("id").select("z").as[Double].collect().toSeq
    assert(z0 == z1, "whitening is scale-invariant per dimension")
  }

  test("Vec.topComponent: finds the dominant axis, unit norm, deterministic") {
    // variance concentrated on a 45-degree axis in dims (0, 1); dim 2
    // is low-variance noise — the top component must align with that
    // axis and carry (almost) all the variance as its eigenvalue
    val rows = (0 until 200).map { k =>
      val t = (k - 100) / 10.0
      val eps = (k % 7 - 3) / 100.0
      (k.toLong, Array((t + eps).toFloat, (t - eps).toFloat,
        ((k % 5 - 2) / 50.0).toFloat))
    }
    val df = rows.toDF("id", "v")
    val comp = Vec.topComponent(df, "id", "v", iters = 12)
      .orderBy("dim").as[(Long, Double, Double)].collect().toSeq
    val v = comp.map(_._2)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-4,
      s"unit norm, got $v")
    // aligned with (1, 1, 0)/sqrt(2) up to sign
    val c01 = math.abs(v(0) * 0.7071 + v(1) * 0.7071)
    assert(c01 > 0.999, s"must align with the planted axis, got $v")
    assert(math.abs(v(2)) < 0.05, s"noise dim stays small, got $v")
    // eigenvalue ~ variance along the axis; and the whole thing is a
    // pure function of the data
    assert(comp.head._3 > 0.9 * comp.head._3 &&
      comp == Vec.topComponent(df.repartition(7), "id", "v", iters = 12)
        .orderBy("dim").as[(Long, Double, Double)].collect().toSeq)
  }

  test("bruteTopK (bounded-heap aggregator) == bruteTopKWindow (window rank)") {
    val probes = emb.filter(col("vec_id") < 5)
    val viaWin = Similarity.bruteTopKWindow(emb, probes, "vec_id", "embedding", 7)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
    val viaAgg = Similarity.bruteTopK(emb, probes, "vec_id", "embedding", 7)
      .select("probe_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
    assert(viaWin.size == 35)
    assert(viaAgg == viaWin)
  }

  test("annTopK: recall@10 over brute force is reasonable and self-matches are excluded") {
    val probes = emb.filter(col("vec_id") < 10)
    val truth = Similarity.bruteTopKWindow(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, probes, "vec_id", "embedding", 10, dim = 32,
        tables = 16, bitsPerTable = 4)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(ann.forall { case (p, n) => p != n })
    val recall = (ann intersect truth).size.toDouble / truth.size
    assert(recall > 0.5, s"ANN recall@10 too low: $recall")
  }

  test("ivfTopK: recall@10 over brute force with nprobe=4 of nlist=8") {
    val probes = emb.filter(col("vec_id") < 10)
    val truth = Similarity.bruteTopKWindow(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 4)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(ivf.forall { case (p, n) => p != n })
    val recall = (ivf intersect truth).size.toDouble / truth.size
    assert(recall > 0.5, s"IVF recall@10 too low: $recall")
    // determinism: second run identical
    val ivf2 = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 4)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(ivf2 == ivf)
  }

  test("persisted IVF index: pruned probe equals in-memory ivfTopK") {
    val probes = emb.filter(col("vec_id") < 10)
    val path = java.nio.file.Files
      .createTempDirectory("ivf_spec").toString
    Similarity.ivfWriteIndex(emb, "vec_id", "embedding", path, nlist = 8)
    val pruned = Similarity
      .ivfProbeIndex(spark, path, probes, "vec_id", "embedding", 10, nprobe = 4)
      .select("probe_id", "rank", "nbr_id")
      .as[(Long, Int, Long)].collect().toSet
    val mem = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 4)
      .select("probe_id", "rank", "nbr_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(pruned == mem, "the layout changes the plan, not the answer")
    // the scan must actually prune: cell dirs beyond the probed set
    // exist on disk but are excluded by the partition filter (read from
    // the plans the call ran: its result is a checkpoint scan)
    val plan = plansRun(Similarity
      .ivfProbeIndex(spark, path, probes, "vec_id", "embedding", 10, nprobe = 4))
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.linesIterator.exists(l => l.contains("PartitionFilters") &&
        l.contains("cell")),
      s"probe must push a partition IN filter:\n$plan")
  }

  test("hyperplaneBands: deterministic across invocations") {
    val b1 = Similarity.hyperplaneBands(emb, "vec_id", "embedding", 32)
      .as[(Long, Int, Long)].collect().toSet
    val b2 = Similarity.hyperplaneBands(emb, "vec_id", "embedding", 32)
      .as[(Long, Int, Long)].collect().toSet
    assert(b1 == b2)
  }

  test("ivfTopK with Lloyd refinement: deterministic, recall at least as usable") {
    val probes = emb.filter(col("vec_id") < 10)
    val truth = Similarity.bruteTopKWindow(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val r1 = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 4, refineIters = 2)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    val r2 = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10,
        nlist = 8, nprobe = 4, refineIters = 2)
      .select("probe_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(r1 == r2, "refined centroids are deterministic")
    val recall = (r1 intersect truth).size.toDouble / truth.size
    assert(recall > 0.5, s"refined IVF recall@10 too low: $recall")
  }

  test("refineCentroids: means move toward cluster structure, empty cells keep old") {
    import org.apache.spark.sql.functions.lit
    // two tight clusters around (1,0) and (0,1)
    val pts = (0 until 20).map(i =>
      if (i % 2 == 0) (i.toLong, Seq(1.0 + 0.01 * i, 0.0))
      else (i.toLong, Seq(0.0, 1.0 + 0.01 * i))).toDF("id", "v")
    val init = Array(0 -> Array(0.9, 0.1), 1 -> Array(0.1, 0.9),
      2 -> Array(-5.0, -5.0)) // cell 2 captures nothing
    val out = Similarity.refineCentroids(pts, "v", init, iters = 2)
    assert(out.length == 3)
    assert(out(0)._2(0) > 0.9 && out(0)._2(1) < 0.1, "centroid 0 near cluster A")
    assert(out(1)._2(1) > 0.9 && out(1)._2(0) < 0.1, "centroid 1 near cluster B")
    assert(out(2)._2.toSeq == Seq(-5.0, -5.0), "memberless cell unchanged")
  }

  test("int8 quantization: values in [-127,127], error bounded by scale/2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq(0.5, -1.0, 0.25, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0)),   // zero vector: scale 0, q = 0
      (3L, Seq(1e-4, -3e-4, 2e-4, 5e-5))
    ).toDF("id", "v")
    val scale = Vec.int8Scale(col("v"))
    val out = df.select(col("id"), scale.as("s"),
        Vec.quantizeInt8(col("v"), scale).as("q"),
        Vec.maxAbsError(col("v"), Vec.quantizeInt8(col("v"), scale), scale)
          .as("err"))
      .as[(Long, Double, Seq[Int], Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, s1, q1, e1) = out(1L)
    assert(q1 == Seq(64, -127, 32, 0) || q1 == Seq(63, -127, 32, 0))
    assert(math.abs(s1 - 1.0 / 127) < 1e-15)
    assert(e1 <= s1 / 2 + 1e-15)
    assert(out(2L)._3 == Seq(0, 0, 0, 0) && out(2L)._2 == 0.0)
    val (_, s3, q3, e3) = out(3L)
    assert(q3.forall(q => q >= -127 && q <= 127))
    assert(e3 <= s3 / 2 + 1e-15)
    // round trip: dequantized values approximate the original
    val back = df.filter(col("id") === 1L)
      .select(Vec.dequantizeInt8(Vec.quantizeInt8(col("v"), scale), scale))
      .as[Seq[Double]].head()
    back.zip(Seq(0.5, -1.0, 0.25, 0.0)).foreach { case (b, orig) =>
      assert(math.abs(b - orig) <= 1.0 / 127 / 2 + 1e-15)
    }
  }

  test("labelCentroids: per-label per-dim means with member counts") {
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 0, Seq(3.0f, 2.0f)),
      (3L, 1, Seq(0.0f, 4.0f))).toDF("vec_id", "label", "embedding")
    val c = Vec.labelCentroids(df, "embedding", "label")
      .as[(Int, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(c((0, 0)) == ((2.0, 2L)))
    assert(c((0, 1)) == ((1.0, 2L)))
    assert(c((1, 0)) == ((0.0, 1L)))
    assert(c((1, 1)) == ((4.0, 1L)))
  }

  test("centroidCosines: member on the centroid ray scores 1, orthogonal 0") {
    // label 0 members are colinear (centroid stays on the ray → cos 1);
    // label 1 members are orthogonal axes (centroid at 45° → cos .7071)
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 0, Seq(3.0f, 0.0f)),
      (3L, 1, Seq(2.0f, 0.0f)),
      (4L, 1, Seq(0.0f, 2.0f))).toDF("vec_id", "label", "embedding")
    val cos = Vec.centroidCosines(df, "vec_id", "embedding", "label")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(math.abs(cos(1L) - 1.0) < 1e-12)
    assert(math.abs(cos(2L) - 1.0) < 1e-12)
    assert(math.abs(cos(3L) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(cos(4L) - math.sqrt(0.5)) < 1e-12)
  }

  test("kmeansCentroids: separated groups converge to group means with counts") {
    // init = 2 lowest ids → cl0 at (0,0), cl1 at (0,2); after round 1
    // cl1 drifts toward the far group; round 2 settles both clusters on
    // their true group means
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(0.0f, 2.0f)),
      (3L, Seq(10.0f, 10.0f)),
      (4L, Seq(10.0f, 12.0f))).toDF("vec_id", "embedding")
    val out = Vec.kmeansCentroids(df, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Int, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((0, 0)) == ((0.0, 2L)) && out((0, 1)) == ((1.0, 2L)), s"got $out")
    assert(out((1, 0)) == ((10.0, 2L)) && out((1, 1)) == ((11.0, 2L)), s"got $out")
  }

  test("semDedupPairs: planted near-identical vectors pair inside their cell") {
    // two tight clusters far apart; 1↔2 and 3↔4 are near-identical
    // within their cluster, cross-cluster pairs are anti-correlated
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.01f, 0.999f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Vec.semDedupPairs(df, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"got $pairs")
  }

  test("semDedupPairs: k grows with the corpus (target cell size), pinned-k mode unchanged") {
    // 120 vectors in 6 well-separated directions; targetCellSize=10
    // forces k_eff = ceil(120/10) = 12 >= the passed k=2, so cells
    // stay small; the planted near-identical pair must still emerge
    val base = (0 until 120).map { i =>
      val g = i % 6
      val v = Array.fill(4)(0.001f * i)
      v(g % 4) = if (g < 4) 1.0f else -1.0f
      (i.toLong, v.toSeq)
    }
    val df = base.toDF("vec_id", "embedding")
    val adaptive = Vec.semDedupPairs(df, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.999, targetCellSize = 10)
    // same directions pair within their cell; output is bounded well
    // below the all-pairs 120*119/2 (the k=2 cells would be ~60 rows)
    val n = adaptive.count()
    assert(n > 0, "adaptive clustering lost all near-dup pairs")
    assert(n < 1500, s"cells did not shrink with k_eff: $n pairs")
    // pinned-k mode (targetCellSize = 0) is the oracle-replay path:
    // identical to the historical fixed-k behavior
    val pinned = Vec.semDedupPairs(df, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.999, targetCellSize = 0)
    assert(pinned.count() >= n,
      "coarser fixed-k cells must superset the finer adaptive pair set here")
  }

  test("semDedupPairs: an oversized cell subdivides — bounded pairs, not m²/2") {
    // 200 bit-identical vectors: Lloyd cannot split them, every one
    // lands in one cell of ~202 > 16 × targetCellSize(10) = 160 — the
    // guard subdivides by id hash into ~target-sized sub-cells, so
    // pair work is linear in the cell population (each row pairs only
    // within its ~10-row sub-cell), never the 200·199/2 ≈ 19 900
    // quadratic explosion a naive within-cell join would mint
    val flood = (0 until 200).map(i => (i.toLong, Seq(1.0f, 0.0f)))
    val distinctPair = Seq(
      (500L, Seq(0.0f, 1.0f)), (501L, Seq(0.0f, 0.999f)))
    val df = (flood ++ distinctPair).toDF("vec_id", "embedding")
    val pairs = Vec.semDedupPairs(df, "vec_id", "embedding",
        k = 2, iters = 1, threshold = 0.99, targetCellSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val floodPairs = pairs.count(p => p._1 < 200 && p._2 < 200)
    assert(floodPairs > 0, "subdivision must keep SOME within-flood pairs")
    assert(floodPairs < 3000,
      s"pair work must stay ~linear in cell population: $floodPairs")
    // deterministic replay (hash subdivision, no RNG)
    val again = Vec.semDedupPairs(df, "vec_id", "embedding",
        k = 2, iters = 1, threshold = 0.99, targetCellSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again == pairs)
  }

  test("semDedupSharded: planted near-dups recovered through the shard hierarchy") {
    // 4 well-separated directions × 30 vectors each, plus a planted
    // near-identical twin per direction: shard routing groups same
    // direction, joined Lloyd subdivides, twins pair within their cell
    val base = (0 until 120).map { i =>
      val g = i % 4
      val v = Array.fill(4)(0.0005f * (i / 4))
      v(g) = 1.0f
      (i.toLong, v.toSeq)
    }
    val twins = (0 until 4).map { g =>
      val v = Array.fill(4)(0.0f); v(g) = 0.9995f; v((g + 1) % 4) = 0.001f
      (1000L + g, v.toSeq)
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val pairs = Vec.semDedupSharded(df, "vec_id", "embedding",
        nlist = 4, iters = 2, threshold = 0.999, targetCellSize = 8,
        kMin = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every planted twin must find at least one same-direction partner
    (0 until 4).foreach { g =>
      assert(pairs.exists { case (a, b) => a == 1000L + g || b == 1000L + g },
        s"twin $g lost: $pairs")
    }
    // pair volume stays cell-local, far below the 124·123/2 all-pairs
    assert(pairs.size < 1000, s"cells did not localize pairs: ${pairs.size}")
    // deterministic end to end (no RNG anywhere in the hierarchy)
    val again = Vec.semDedupSharded(df, "vec_id", "embedding",
        nlist = 4, iters = 2, threshold = 0.999, targetCellSize = 8,
        kMin = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again == pairs)
  }

  test("semDedupSharded: per-shard k derives from the shard count — no global ceiling") {
    // one dominant direction floods a single shard; its per-shard k
    // must grow (count/target), keeping cells small, while the sparse
    // shard keeps k = kMin. Output bounded ≪ flood²/2.
    val flood = (0 until 300).map(i =>
      (i.toLong, Seq(1.0f, 0.0001f * i, 0.0f)))
    val sparse = (0 until 6).map(i => (900L + i, Seq(0.0f, 1.0f, 0.001f * i)))
    val df = (flood ++ sparse).toDF("vec_id", "embedding")
    val n = Vec.semDedupSharded(df, "vec_id", "embedding",
        nlist = 2, iters = 2, threshold = 0.9999, targetCellSize = 10,
        kMin = 2).count()
    assert(n > 0, "flood near-dups lost")
    assert(n < 15000,
      s"per-shard k did not grow with the shard (quadratic blowup): $n")
  }

  test("semDedupLsh: planted near-identical twins pair through the LSH hierarchy") {
    // 600 vectors in 3 directions (forces bits = ceil(log2(600/128))
    // = 3 → 8 live shards) + a near-identical twin per direction;
    // same-direction vectors share every hyperplane sign with their
    // twin at cosine ≈ 1, so twins co-shard and must pair
    val base = (0 until 600).map { i =>
      val g = i % 3
      val v = Array.fill(8)(0.0002f * (i / 3))
      v(g) = 1.0f
      (i.toLong, v.toSeq)
    }
    val twins = (0 until 3).map { g =>
      val v = Array.fill(8)(0.0f); v(g) = 0.9999f; v(g + 3) = 0.0001f
      (5000L + g, v.toSeq)
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val pairs = Vec.semDedupLsh(df, "vec_id", "embedding", dim = 8,
        iters = 2, threshold = 0.999, shardTarget = 128,
        targetCellSize = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 3).foreach { g =>
      assert(pairs.exists { case (a, b) => a == 5000L + g || b == 5000L + g },
        s"twin $g lost through LSH routing: ${pairs.size} pairs")
    }
    // same-direction base vectors are legitimately near-identical, so
    // output is bounded by the 3 within-direction cliques (≤ 3·C(201,2)
    // = 60 300) — NOT the 181k all-pairs; cross-direction pairs must
    // never survive
    assert(pairs.size <= 60300, s"pairs escaped their direction: ${pairs.size}")
    assert(!pairs.exists { case (a, b) =>
      a < 600 && b < 600 && a % 3 != b % 3 }, "cross-direction pair leaked")
    // deterministic end to end (seeded planes, bit-stable Lloyd)
    val again = Vec.semDedupLsh(df, "vec_id", "embedding", dim = 8,
        iters = 2, threshold = 0.999, shardTarget = 128,
        targetCellSize = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again == pairs)
  }

  test("semDedupLsh: a small corpus degenerates to one shard (bits = 0)") {
    // n <= shardTarget → zero hyperplanes → single shard → identical
    // semantics to the unsharded joined Lloyd; pairs must still emerge
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.999f, 0.001f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.001f, 0.999f))).toDF("vec_id", "embedding")
    val pairs = Vec.semDedupLsh(df, "vec_id", "embedding", dim = 2,
        iters = 2, threshold = 0.99, shardTarget = 4096)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"got $pairs")
  }

  test("semDedupLsh: identical-vector flood subdivides instead of exploding") {
    // 2000 identical vectors land in ONE shard and ONE Lloyd cell
    // (> 16×target): the id-hash subdivision must bound pair work to
    // ~target-sized sub-cells — linear, not 2000²/2 ≈ 2M pairs
    val flood = (0 until 2000).map(i => (i.toLong, Seq(1.0f, 0.0f, 0.0f)))
    val n = Vec.semDedupLsh(flood.toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = 3, iters = 1, threshold = 0.99,
        shardTarget = 4096, targetCellSize = 32).count()
    assert(n > 0, "subdivision must keep within-sub-cell pairs")
    assert(n < 200000, s"flood pair work must stay ~linear: $n")
  }

  test("pqEncode: per-subspace codes recover the planted block structure") {
    // subspace 0 (dims 1-2) separates {1,2} from {3,4}; subspace 1
    // (dims 3-4) separates them the other way — codes must disagree
    // across subspaces, proving independent per-subspace codebooks
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 10.0f, 10.0f)),
      (2L, Seq(0.0f, 1.0f, 10.0f, 11.0f)),
      (3L, Seq(5.0f, 5.0f, 0.0f, 0.0f)),
      (4L, Seq(5.0f, 6.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Vec.pqEncode(df, "vec_id", "embedding", m = 2, k = 2, iters = 2)
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L)._1 == out(2L)._1 && out(3L)._1 == out(4L)._1 &&
      out(1L)._1 != out(3L)._1, s"subspace-0 split: $out")
    assert(out(1L)._2 == out(2L)._2 && out(3L)._2 == out(4L)._2 &&
      out(1L)._2 != out(3L)._2, s"subspace-1 split: $out")
    assert(out.values.forall(_._3 >= 0.0), s"qerr non-negative: $out")
  }

  test("pqTopK: ADC neighbors come from the probe's own cluster") {
    val mk = (base: Double, i: Int) => Seq(
      (base + i * 0.1).toFloat, (base - i * 0.1).toFloat,
      (base + i * 0.2).toFloat, (base).toFloat)
    val corpus = ((1 to 4).map(i => (i.toLong, mk(0.0, i))) ++
      (5 to 8).map(i => (i.toLong, mk(50.0, i)))).toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id").isin(1L, 5L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val out = Vec.pqTopK(corpus, probes, "vec_id", "embedding", "probe_id",
        m = 2, k = 2, iters = 2, topK = 3)
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
    assert(out.length == 6, s"got ${out.toSeq}")
    assert(out.forall { case (p, v) => (p <= 4) == (v <= 4) && p != v },
      s"neighbors must stay in-cluster, self excluded: ${out.toSeq}")
  }

  test("ivfPqTopK: routed cells prune the corpus, ADC stays in-cluster") {
    val mk = (base: Double, i: Int) => Seq(
      (base + i * 0.1).toFloat, (base - i * 0.1).toFloat,
      (base + i * 0.2).toFloat, (base).toFloat)
    // two well-separated blobs; nlist=2 must split them into the two
    // cells, nprobe=1 must route each probe to its OWN blob only
    val corpus = ((1 to 4).map(i => (i.toLong, mk(0.0, i))) ++
      (5 to 8).map(i => (i.toLong, mk(50.0, i)))).toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id").isin(1L, 5L))
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val out = Vec.ivfPqTopK(corpus, probes, "vec_id", "embedding",
        "probe_id", nlist = 2, nprobe = 1, m = 2, k = 2, iters = 2,
        topK = 10)
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
    // topK 10 >> blob size: with nprobe=1 each probe can only ever see
    // its own cell's 3 non-self members — pruning, not ranking, caps it
    assert(out.length == 6, s"cell pruning must cap candidates: ${out.toSeq}")
    assert(out.forall { case (p, v) => (p <= 4) == (v <= 4) && p != v },
      s"neighbors must come from the probe's own cell: ${out.toSeq}")
    // nprobe = nlist degrades to whole-corpus ADC = pqTopK's candidates
    val full = Vec.ivfPqTopK(corpus, probes, "vec_id", "embedding",
        "probe_id", nlist = 2, nprobe = 2, m = 2, k = 2, iters = 2,
        topK = 10).count()
    assert(full == 14, s"nprobe=nlist must see all 7 non-self per probe: $full")
  }

  test("radiusSearch returns exactly the pairs at or above tau") {
    // orthogonal + parallel fixture: 1∥2 (cos 1), 1⊥3 (cos 0),
    // 4 at 45° to 1 and 2 (cos ≈ 0.707107 after 6-dp rounding)
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(1.0, 1.0))).toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") === 1L)
    val hits = Similarity.radiusSearch(df, probes, "vec_id", "embedding",
        tau = 0.5).select("probe_id", "nbr_id")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((1L, 2L), (1L, 4L)), s"got $hits")
    // tau right AT the rounded 45° cosine includes it; just above excludes
    val at = Similarity.radiusSearch(df, probes, "vec_id", "embedding",
        tau = 0.707107).select("nbr_id").as[Long].collect().toSet
    assert(at == Set(2L, 4L), s"got $at")
    val above = Similarity.radiusSearch(df, probes, "vec_id", "embedding",
        tau = 0.707108).select("nbr_id").as[Long].collect().toSet
    assert(above == Set(2L), s"got $above")
  }

  test("kmeansCentroids: ties assign to the lowest cluster id") {
    // both points equidistant from both (identical) init centroids →
    // everything lands in cluster 0; cluster 1 is dropped, not null
    val df = Seq(
      (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Vec.kmeansCentroids(df, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Int, Int, Double, Long)].collect()
    assert(out.forall(_._1 == 0), s"got ${out.toSeq}")
    assert(out.length == 2, s"got ${out.toSeq}")
    assert(out.forall(_._4 == 2L), s"got ${out.toSeq}")
  }
}
