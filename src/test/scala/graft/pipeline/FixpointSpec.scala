package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("broadcast gate: a 10M-node state table broadcasts, 50M does not") {
    // pageRank's (node, r) row; the default 1 GiB spark.driver.maxResultSize
    val row = new StructType().add("node", LongType).add("r", DoubleType)
    val gib = 1L << 30
    assert(Fixpoint.broadcastFits(10L * 1000 * 1000, row, true, gib))
    assert(!Fixpoint.broadcastFits(50L * 1000 * 1000, row, true, gib),
      "50M rows would be collected to the driver every round past its limit")
    assert(!Fixpoint.broadcastFits(1L, row, false, gib),
      "autoBroadcastJoinThreshold = -1 disables the hint at any size")
    assert(Fixpoint.broadcastFits(50L * 1000 * 1000, row, true, 0L),
      "maxResultSize = 0 is unlimited")
  }

  test("the driver row estimate covers collected rows as SizeEstimator measures them") {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.functions._
    // the qc_review working window: a sensor series at 1-minute cadence
    // with a few nulls, opened for review
    val raw = spark.range(0, 5760, 1, 4).select(col("id").as("sample_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      when(col("id") % 1000 === 7, lit(null).cast("double"))
        .otherwise(sin(col("id") / 100.0)).as("value"))
    val opened = graft.qc.QcSession.open(graft.qc.QcFlags.addFlags(raw, Seq("value")),
      "value", "ts", winHrs = 24, tiebreakers = Seq("sample_id"))
    // booleans and ints: `defaultSize` counts 1 and 4 bytes, a row 8
    val narrow = spark.range(0, 5760, 1, 4).select(
      (0 until 8).map(i => (col("id") % (i + 2) === 0).as(s"b$i")) ++
        (0 until 8).map(i => (col("id") * i).cast("int").as(s"i$i")): _*)
    for ((name, df) <- Seq("qc_review" -> opened.base, "boolean/int" -> narrow)) {
      val rows = GraftColumnBridge.collectInternal(df)
      val heap = org.apache.spark.util.SizeEstimator.estimate(rows)
      val estimate = rows.length * Fixpoint.rowBytes(df.schema)
      assert(estimate >= heap && estimate <= heap * 1.25,
        s"$name: ${rows.length} rows estimated at $estimate bytes, measured $heap")
      assert(rows.length * df.schema.defaultSize * 2 < heap,
        s"$name: the defaultSize rule would undercount it")
    }
  }

  test("iterative operators on an empty edge list and a lone self-loop") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val loop = Seq((1L, 1L)).toDF("src", "dst")
    val seed = Seq(1L).toDF("node")
    def pairs(e: org.apache.spark.sql.DataFrame) = e.toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double)].collect().toMap
    val vecs = Seq((1L, Array(1.0, 0.0))).toDF("id", "v")

    // no edges: nothing to rank, peel, score or cluster; the seeded
    // operators return their seeds
    assert(Graph.pageRank(empty, "src", "dst", 3).isEmpty)
    assert(ranks(Graph.personalizedPageRank(empty, "src", "dst", seed, "node", 3)) ==
      Map(1L -> 0.15))
    assert(labels(Graph.bfsHops(empty, "src", "dst", seed, "node", 3)) == Map(1L -> 0L))
    assert(Graph.labelPropagation(empty, "src", "dst", 3).isEmpty)
    assert(Graph.kCore(empty, "src", "dst", 1, 2).isEmpty)
    assert(Graph.hits(empty, "src", "dst", 2).isEmpty)
    assert(Graph.connectedComponentsStar(empty, "src", "dst").isEmpty)
    assert(Dedup.nearDupClusters(pairs(empty)).isEmpty)
    assert(Vec.semDedupSharded(vecs.limit(0), "id", "v", nlist = 2, iters = 3,
      threshold = 0.9).isEmpty)

    // a lone self-loop: one node holding all the mass, labelling
    // itself; no k-core (self-loops are dropped) and no vector pair
    assert(ranks(Graph.pageRank(loop, "src", "dst", 3)) == Map(1L -> 1.0))
    assert(ranks(Graph.personalizedPageRank(loop, "src", "dst", seed, "node", 3)) ==
      Map(1L -> 1.0))
    assert(labels(Graph.bfsHops(loop, "src", "dst", seed, "node", 3)) == Map(1L -> 0L))
    assert(labels(Graph.labelPropagation(loop, "src", "dst", 3)) == Map(1L -> 1L))
    assert(Graph.kCore(loop, "src", "dst", 1, 2).isEmpty)
    assert(Graph.hits(loop, "src", "dst", 2).as[(Long, String, Double)].collect()
      .toSet == Set((1L, "hub", 1.0), (1L, "auth", 1.0)))
    assert(labels(Graph.connectedComponentsStar(loop, "src", "dst")) == Map(1L -> 1L))
    assert(labels(Dedup.nearDupClusters(pairs(loop))) == Map(1L -> 1L))
    assert(Vec.semDedupSharded(vecs, "id", "v", nlist = 2, iters = 3,
      threshold = 0.9).isEmpty)

    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(loop, "src", "dst", seed.limit(0), "node", 3)
    }
  }

  test("a call that fails mid-way leaves no cache entry or staged RDD behind") {
    import org.apache.spark.sql.functions._
    def entries(): Int = org.apache.spark.sql.GraftCacheProbe.entries(spark)
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // a column that throws when a job evaluates it: over spark.range,
    // since the optimizer folds a local relation's projections (and
    // throws) while planning, before anything is staged
    def boom(t: String) = raise_error(lit("boom")).cast(t)
    val edges = spark.range(20).select(col("id").as("src"), boom("long").as("dst"))
    val path = java.nio.file.Files.createTempDirectory("ivf_leak").toString
    Similarity.ivfWriteIndex(
      spark.range(20).select(col("id").as("vec_id"),
        array(col("id").cast("double"), lit(1.0)).as("embedding")),
      "vec_id", "embedding", path, nlist = 2)
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "Blocks.stage" -> (() => Fixpoint.scoped(_.stage(
        spark.range(20).select(boom("long").as("x")))._1)),
      "connectedComponentsStar" -> (() => Graph.connectedComponentsStar(edges, "src", "dst")),
      "bpeTrain" -> (() => TextAnalysis.bpeTrain(
        spark.range(20).select(boom("string").as("text")), "text", merges = 2)),
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(
        edges, "src", "dst", Seq(0L).toDF("node"), "node", iters = 3)),
      "ivfProbeIndex" -> (() => Similarity.ivfProbeIndex(spark, path,
        spark.range(3).select(col("id").as("vec_id"), boom("array<double>").as("embedding")),
        "vec_id", "embedding", k = 2, nprobe = 1)))
    for ((name, call) <- calls) {
      val cached = entries()
      val before = persisted()
      val e = intercept[Exception](call().collect())
      assert(e.getMessage.contains("boom"), s"$name failed otherwise: $e")
      assert(entries() == cached, s"$name left a cache entry")
      // unpersist(blocking = false) drops the registration at once
      val left = persisted() -- before
      assert(left.isEmpty, s"$name left ${left.size} persistent RDDs")
    }
  }
}
