package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.pipeline.{Grouped, Sketch}

/** RUNTIME shuffle-volume budgets: PlanShapeSpec locks what the plan
  * looks like; this suite locks what actually moved. After executing
  * a query it reads `shuffleRecordsWritten` off every exchange in the
  * final adaptive plan and asserts the record count stays bounded by
  * the OPERATOR's contract (k·groups·partitions for a bounded heap,
  * d·w·partitions for a sketch, ~groups·partitions for a combined
  * aggregate) — orders of magnitude below the input row count. A
  * regression that silently disables partial aggregation (e.g. an
  * accidental non-combinable expression in an Aggregator) passes most
  * plan-shape checks but fails these immediately.
  *
  * Record counts (not bytes) keep the assertions deterministic:
  * compression and serialization sizes drift, cardinalities don't.
  * Test session: local[4], 4 shuffle partitions.
  */
class ShuffleBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val P = 4 // spark.sql.shuffle.partitions in SparkSpec

  private def shuffleRecords(df: DataFrame): Long = {
    df.collect()
    var total = 0L
    def walk(p: SparkPlan): Unit = p.foreach {
      case q: QueryStageExec => walk(q.plan)
      case n =>
        n.metrics.get("shuffleRecordsWritten").foreach(m => total += m.value)
    }
    walk(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
    total
  }

  test("hash aggregate partial-combines: 100k rows shuffle as <= groups x partitions") {
    val agg = spark.range(100000)
      .select((col("id") % 4).as("g"), col("id").as("v"))
      .groupBy("g").agg(sum("v").as("s"))
    val rec = shuffleRecords(agg)
    assert(rec <= 4L * P, s"map-side combine broken: $rec records shuffled")
  }

  test("bounded-heap top-k shuffles <= k rows per group per partition") {
    val df = spark.range(100000)
      .select((col("id") % 8).cast("string").as("g"), col("id").as("i"),
        (col("id") % 97).cast("double").as("v"))
    val rec = shuffleRecords(Grouped.topKPerGroup(df, Seq("g"), "v", "i", 5))
    assert(rec <= 8L * P, s"heap must shuffle one buffer per group per partition: $rec")
  }

  test("count-min cells shuffle bounded by d*w per partition, not input size") {
    val df = spark.range(50000).select((col("id") % 1000).cast("string").as("k"))
    val rec = shuffleRecords(Sketch.countMinCells(df, "k", d = 2, w = 32))
    assert(rec <= 2L * 32 * P,
      s"sketch cells must combine map-side: $rec records for 100k exploded cells")
  }

  test("kmv sketch shuffles <= one k-hash buffer per group per partition") {
    val df = spark.range(60000)
      .select((col("id") % 3).cast("string").as("g"), col("id").as("u"))
    val rec = shuffleRecords(
      df.groupBy("g").agg(Sketch.kmv("u", 64).as("kmv")).select("g"))
    assert(rec <= 3L * P, s"kmv buffers: $rec rows shuffled for 60k inputs")
  }

  test("broadcast join moves zero fact rows through a shuffle") {
    val fact = spark.range(80000).select((col("id") % 50).as("k"), col("id").as("v"))
    val dim = spark.range(50).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
    val joined = fact.join(broadcast(dim), "k")
      .groupBy("name").agg(count(lit(1)).as("n"))
    val rec = shuffleRecords(joined)
    // only the post-join aggregate's combined partials shuffle
    assert(rec <= 50L * P, s"fact side must not shuffle for the join: $rec")
  }

  test("passage strip on an m-identical flood shuffles O(occurrences), not O(m^2)") {
    // 1000 identical 12-token docs = 5 span occurrences each. A
    // pair-based design would move ~m²/2 = 500k records; the strip's
    // contract is a small constant × occurrences across ALL of its
    // stages (span stats, probe join, interval merge, range fold).
    val n = 1000
    val docs = (0 until n)
      .map(i => (i.toLong, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.stripDuplicateSpans(
      docs, "doc_id", "text", spanTokens = 8)
    val rec = shuffleRecords(out)
    assert(rec <= 60000L,
      s"strip must stay linear in occurrences (~5k), got $rec")
  }

  /** `n` short docs in near-dup pairs: doc 2k is six tokens, one of
    * them unique to the pair, and doc 2k+1 adds a seventh (Jaccard 6/7). */
  private def prefixDocs(n: Int): DataFrame = (0 until n).map { i =>
    val k = i / 2
    (i.toLong, s"w${k % 7} w${k % 11} w${k % 13} w${k % 5} t${k % 17} tail$k" +
      (if (i % 2 == 1) s" extra${i % 3}" else ""))
  }.toDF("doc_id", "text")

  /** The four prefix-dedup entry points over `docs` (the incremental
    * one against a batch of edited copies), grouping forced on where it
    * is an option, so every doc-count-sized table stages. */
  private def prefixCalls(docs: DataFrame): Seq[(String, () => DataFrame)] = {
    import graft.pipeline.Dedup
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), concat(col("text"), lit(" v2")).as("text"))
    Seq(
      "candidates" -> (() => Dedup.prefixJaccardCandidatePairs(
        docs, "doc_id", "text", 0.8, groupFloor = 0)),
      "pairs" -> (() => Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8, groupFloor = 0)),
      "collapsed" -> (() => Dedup.prefixJaccardPairsCollapsed(docs, "doc_id", "text", 0.8)),
      "incremental" -> (() => Dedup.incrementalJaccardPairs(docs, batch, "doc_id", "text", 0.8)))
  }

  // 200 docs stage row blocks, 4,000 tiny docs columnar (the doc signal)
  private val bothFormats = Seq("rows" -> 200, "columnar" -> 4000)

  test("each prefix-dedup call leaves at most its result's blocks") {
    import graft.pipeline.Dedup
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // unpersist(blocking=false) drains asynchronously — poll down to a
    // target instead of reading one racy snapshot. Only RDDs the call
    // itself registered count, so earlier results freed by the
    // ContextCleaner meanwhile cannot hide a leak.
    def awaitNewAtMost(before: Set[Int], n: Int): Set[Int] = {
      val deadline = System.nanoTime + 15L * 1000 * 1000 * 1000
      var fresh = persisted() -- before
      while (fresh.size > n && System.nanoTime < deadline) {
        Thread.sleep(50); fresh = persisted() -- before
      }
      fresh
    }
    for ((format, n) <- bothFormats; (name, call) <- prefixCalls(prefixDocs(n));
         round <- 1 to 2) {
      val columnar0 = Dedup.columnarStagings.get
      val before = persisted()
      val out = call()
      assert(out.count() >= 0)
      val left = awaitNewAtMost(before, 1)
      assert(left.size <= 1,
        s"$name ($format, call $round) left ${left.size} staged RDDs, not only its result")
      // the collapse stages its groups and reps as row blocks at any
      // size, and its prefix table columnar: that table's size estimate
      // comes through the reps join, whose estimate is a product
      if (name != "collapsed")
        assert((Dedup.columnarStagings.get > columnar0) == (format == "columnar"),
          s"$name must stage $format at this size")
    }
  }

  test("a prefix-dedup result retained across later calls evaluates") {
    // the result is a cut of its own: the staged tables it was built
    // from are gone, and neither later calls nor their releases touch it
    for ((format, n) <- bothFormats) {
      val calls = prefixCalls(prefixDocs(n))
      val retained = calls.map { case (name, call) =>
        val out = call()
        val rows = out.collect().toSet
        assert(rows.nonEmpty, s"$name ($format) found no pairs to retain")
        (name, out, rows)
      }
      calls.foreach { case (_, call) => call().count() }
      for ((name, out, rows) <- retained)
        assert(out.collect().toSet == rows, s"$name ($format) changed after later calls")
    }
  }

  test("prefix staging format follows the size estimate: rows at gate " +
      "scale, columnar above the threshold") {
    import graft.pipeline.Dedup
    val (minBytes, minDocs) = (BigInt(Dedup.ColumnarMinBytes), Dedup.ColumnarMinDocs)
    // either signal alone decides: the optimizer's size estimate, or
    // the corpus doc count (near-dup text compresses 3-4x, so source
    // bytes under-read rows)
    assert(!Dedup.stagesColumnar(minBytes - 1, minDocs - 1))
    assert(Dedup.stagesColumnar(minBytes, 0L))
    assert(Dedup.stagesColumnar(0, minDocs))
    var counted = false
    assert(Dedup.stagesColumnar(minBytes, { counted = true; 0L }) && !counted,
      "a size estimate over the threshold settles it without counting the corpus")
    // end to end: a small corpus stages EVERY table as row blocks —
    // including the sig table, whose estimate flows through the staged
    // prefix's LogicalRDD leaf (a defaultSizeInBytes fallback there
    // would silently re-route sig to columnar at gate scale) — and
    // 4,000 tiny docs, far under the bytes threshold, stage columnar
    for ((format, n) <- bothFormats) {
      val r0 = Dedup.rowStagings.get; val c0 = Dedup.columnarStagings.get
      Dedup.prefixJaccardCandidatePairs(
        prefixDocs(n), "doc_id", "text", 0.8, groupFloor = 0).count()
      val (rows, columnar) = (Dedup.rowStagings.get - r0, Dedup.columnarStagings.get - c0)
      assert(if (format == "rows") rows == 2 && columnar == 0 else rows == 0 && columnar == 2,
        s"$n docs must stage prefix+sig as $format, got rows=$rows columnar=$columnar")
    }
  }

  test("a prefix-dedup call on another thread never retires this thread's blocks") {
    import graft.pipeline.Dedup
    // Spark supports concurrent actions on a shared session: a call on
    // another thread releases only what that call staged, so this
    // thread's result keeps evaluating
    val docs = prefixDocs(200)
    val mine = Dedup.prefixJaccardPairsCollapsed(docs, "doc_id", "text", 0.8)
    val expected = mine.count()
    var otherFailure: Option[Throwable] = None
    val t = new Thread(() => {
      try Dedup.prefixJaccardPairsCollapsed(docs, "doc_id", "text", 0.8).count()
      catch { case e: Throwable => otherFailure = Some(e) }
    })
    t.start(); t.join()
    assert(otherFailure.isEmpty, s"other thread's call failed: $otherFailure")
    assert(mine.count() == expected,
      "another thread's call must not invalidate this thread's result")
  }

  test("NB training shuffles bounded by buckets and doc-bucket pairs, not tokens") {
    // 2000 docs × 40 occurrences of ≤ 8 distinct tokens: the model
    // aggregate must partial-combine to ≤ buckets × partitions and the
    // scoring aggregate to ≤ distinct (doc, bucket) pairs — a
    // non-combinable regression would shuffle all 80k token rows.
    val vocab = Seq("a", "b", "c", "d", "w", "x", "y", "z")
    val docs = (0 until 2000).map { i =>
      (i.toLong,
        Seq.tabulate(40)(j => vocab((i + j) % vocab.size)).mkString(" "),
        i % 2)
    }.toDF("doc_id", "text", "y")
    val out = graft.pipeline.TextAnalysis.nbTokenClassifier(
      docs, "doc_id", "text", "y", buckets = 64)
    val rec = shuffleRecords(out)
    // pairs ≤ 2000 × 8 = 16k; model ≤ 64 × P; everything else is
    // doc-sized — 80k token rows on the wire means combine broke
    assert(rec <= 40000L,
      s"NB train+score must not shuffle raw token rows: $rec")
  }
}
