package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.qc._
import graft.pipeline._
import graft.streaming.QcStream

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 (and the LLM-pipeline extensions) is
  * registered here as a named query over the driver's parquet tables,
  * with a DuckDB-runnable ANSI oracle where the semantics are
  * SQL-expressible. Column names and types match the oracle exactly
  * (the driver compare sorts columns by name and hashes values);
  * integer outputs are cast to long where DuckDB yields BIGINT, and
  * timestamps crossing the compare boundary are rendered to strings on
  * both sides.
  */
object SparkEntry {

  import FlagSchema._

  // ------------------------------------------------------------ helpers

  /** Fixture generations of events.parquet have stored `ts` two ways:
    * TIMESTAMP(NANOS) (which Spark's reader rejects unless read as
    * long, then truncated to micros — integer DIV, no double
    * round-trip, the same truncation DuckDB applies to TIMESTAMP_NS)
    * and plain TIMESTAMP(MICROS) (read as-is). Adapt to whichever the
    * file on disk actually is; FixtureSchemaSpec pins the contract so
    * a third generation fails one named test instead of the suite. */
  private[graft] def adaptTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // every session pins spark.sql.session.timeZone=UTC, so the
        // NTZ→LTZ cast keeps the stored micros bit-identical to what
        // DuckDB reads; downstream ops (unix_micros, double casts,
        // window()) all require the tz-aware TimestampType
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already tz-aware TIMESTAMP(MICROS)
    }
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptTs(s.read.parquet(s"$dir/events.parquet"))
  }
  /** Stable per-tag scratch dir under the JVM temp root: sink queries
    * overwrite the same location on every run instead of leaking a new
    * full-dataset copy per invocation (bench runs each query twice). */
  private def scratch(tag: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch", tag)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** `table` of `dir` as a file-source stream (schema from a batch
    * peek). The source lists a DIRECTORY: a Spark-written table (the
    * stress replicas) is one and is read as it is; the driver
    * fixture's single parquet file is read from its parent directory
    * through a glob filter on its own name, since a file path is
    * refused as the source's base path. */
  private def readTableStream(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val r = s.readStream.schema(s.read.parquet(path).schema)
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path))) r.parquet(path)
    else r.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Streaming twin of [[events]]: the same table as a file-source
    * stream (nanos→micros conversion identical). */
  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptTs(readTableStream(s, dir, "events"))
  }

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Streaming twin of [[documents]] with a synthetic event time (the
    * table has none; any time inside one watermark works for the
    * drain-everything AvailableNow checks). */
  private[graft] def documentsStream(s: SparkSession, dir: String): DataFrame = {
    // +1 day: a row AT epoch 0 sits exactly on the stream's initial
    // watermark and dropDuplicatesWithinWatermark expires it as late
    readTableStream(s, dir, "documents")
      .withColumn("ts",
        timestamp_seconds(pmod(col("doc_id"), lit(3600)) + 86400L))
  }
  /** Drain a bounded streaming DataFrame through a memory sink
    * (AvailableNow trigger) and return the landed table.
    *
    * Scopes `spark.sql.shuffle.partitions` down for the stream's
    * lifetime: the value at a streaming query's FIRST micro-batch
    * fixes its state-partition count (one state-store instance per
    * partition per stateful operator, pinned in the checkpoint
    * thereafter). State partitions should be sized to keyed-state
    * volume — NOT inherited from the session's batch shuffle width:
    * at these fixture sizes 32 partitions mean 32-128 store
    * instances doing per-batch file IO to hold a few thousand keys,
    * which is pure fixed cost (measured: the stream-stream join drops
    * 10.1 s → 2.3 s going 32 → 4 partitions, identical results; 4
    * partitions still hold only ~1.5k keys each at sf0.1). A TB-scale
    * keyed stream raises the value at first
    * deployment exactly as it sizes its cluster. The session value is
    * restored afterwards, so batch queries are unaffected. */
  private[graft] def drainToTable(
      s: SparkSession, out: DataFrame, mode: String, tag: String,
      statePartitions: Int = 4): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    // State partition count is a CAPACITY-PLANNING knob in any real
    // streaming deployment (fixed for the checkpoint's lifetime,
    // sized to expected volume); the default 4 is tuned for
    // micro-batch latency at the gate scales, and the stress
    // harness's 100× phase overrides it via this system property the
    // way a deployment at that volume would size it — without the
    // override the state stage runs a 10M-event batch through 4
    // sort+state tasks and the measured scaling bends at ~2×/decade
    // from lost parallelism, not from the operator's plan.
    val sp = sys.props.get("graft.drain.statePartitions")
      .map(_.toInt).getOrElse(statePartitions)
    s.conf.set(key, sp.toString)
    try {
      // Sink selection, same deployment argument as the partition
      // knob: the default MEMORY sink collects every output row into
      // the driver — exactly right for the oracle gates (results come
      // back as a queryable table) and exactly wrong at stress scale,
      // where collecting 9M session rows into one JVM measured ~73 of
      // a 94 s drain (the operator's own state stage is ~20 s). A
      // production stream writes to a DISTRIBUTED sink, so the stress
      // harness's 100× phase selects "parquet": foreachBatch appends
      // each batch distributed, and the drained result is read back
      // as the same rows. Output contract identical either way.
      if (sys.props.get("graft.drain.sink").contains("parquet")) {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_drain_$tag"
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        // Only complete (each batch is the whole result → overwrite)
        // and append (batches are disjoint deltas → append) map onto a
        // file sink soundly. UPDATE mode re-emits superseded keys; an
        // append-mode file write would silently KEEP the stale rows, so
        // refuse loudly rather than return a wrong table. Validate
        // BEFORE the delete below — a refused drain must leave the
        // tag's previously-drained output intact, not destroy it as a
        // side effect of failing.
        val wmode = mode match {
          case "complete" => "overwrite"
          case "append" => "append"
          case other => throw new IllegalArgumentException(
            s"parquet drain supports complete/append, not '$other': " +
              "update-mode output re-emits keys and a file sink cannot " +
              "retract the superseded rows")
        }
        fs.delete(hp, true)
        val q = out.writeStream.outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((df: DataFrame, _: Long) => {
            df.write.mode(wmode).parquet(path); ()
          })
          .start()
        q.awaitTermination()
        // Zero batches written (e.g. every row late vs the watermark)
        // leaves no directory — match the memory sink's contract of an
        // empty table with the query's schema instead of surfacing an
        // AnalysisException from the read-back.
        if (fs.exists(hp)) s.read.parquet(path)
        else s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], out.schema)
      } else {
        // fixed per-tag sink name, previous drain dropped first: a
        // nanoTime-suffixed name per invocation would register a NEW
        // in-driver-memory result table every call and never free the
        // old one — across a 195-query × n-rep bench the retained
        // sinks accumulate into real driver memory pressure
        val name = s"graft_stream_$tag"
        s.catalog.dropTempView(name)
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name)
      }
    } finally s.conf.set(key, prev)
  }

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** dedup_prefix's corpus (every 7th doc + mirrors of every 14th with
    * the first word dropped) — shared with the stress harness so it
    * can audit candidate volume against the SAME input the timed query
    * ran on. */
  private[graft] def prefixCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    d.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(14)) === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\s*\\S+\\s*", "").as("text")))
  }
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** Co-supplier projection graph: an undirected edge between two
    * suppliers whenever they shipped lineitems of the SAME order.
    * Unlike the customer-supplier bipartite (triangle-free by
    * construction) this is unipartite and has real triangles and
    * community structure. The projection is safe at scale because
    * TPC-H orders carry a BOUNDED number of lineitems (≤ 7), so the
    * per-order pair fan-out is O(1) and the projection stays linear
    * in |lineitem|. */
  private def coSupplierEdges(
      s: SparkSession, dir: String,
      supplierPred: Option[Column] = None): DataFrame = {
    // Optional node-induced subgraph (supplierPred on l_suppkey):
    // filtering LINEITEM before the group is exactly the induced
    // co-supplier subgraph — edge (a,b) exists iff some order carries
    // both surviving suppliers — and the predicate pushes to the
    // parquet scan instead of filtering the built projection.
    val li0 = lineitem(s, dir)
    val li = supplierPred.fold(li0)(li0.filter)
    // One scan, not a self-join: group suppliers per order (TPC-H
    // orders carry ≤ 7 lineitems, so the per-group set and its pair
    // fan-out are O(1)-bounded) and explode the sorted in-group pairs.
    // Same distinct (a < b) edge set as the equivalent
    // l1 ⋈ l2 ON orderkey self-join, but the fact table is read ONCE
    // instead of twice and the join's co-shuffle of both sides
    // becomes a single keyed aggregate — at 100 TB that halves the
    // scan IO feeding every graph query built on this projection.
    // Pair expansion as TWO chained generators (posexplode the left
    // endpoint, explode the tail slice) instead of one nested
    // `transform` lambda: higher-order functions run interpreted,
    // and the AQE-coalesced post-aggregate stage runs only a few
    // partitions wide, so the interpreted lambda sat on the critical
    // path — the generator+slice form stays in whole-stage codegen
    // (measured 1.4 → 1.0 s at sf0.1, identical edge set).
    li
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_suppkey"))).as("__ss"))
      .select(col("__ss"), posexplode(col("__ss")).as(Seq("i", "a")))
      .select(col("a"),
        explode(expr("slice(__ss, i + 2, size(__ss))")).as("b"))
      .distinct()
  }

  /** The driver's events table has no missing values, so QC scenarios
    * synthesize `value2`: null on event_id % 19 == 0, NaN on % 23 == 0
    * (exercising the NA-vs-NaN trichotomy, SURVEY §1.3). */
  private def withValue2(df: DataFrame): DataFrame =
    df.withColumn("value2",
      when(pmod(col("event_id"), lit(19)) === 0, lit(null).cast("double"))
        .when(pmod(col("event_id"), lit(23)) === 0, lit(Double.NaN))
        .otherwise(col("value")))

  /** Deterministic seeded flag state: addFlags (missing → -1), then
    * M1-flag outliers (> 150 → -2), then M2-approve the low range
    * (< 100 → 1); [100, 150] stays unchecked (0). */
  private def seeded(df: DataFrame): DataFrame = {
    val f = QcFlags.addFlags(withValue2(df), Seq("value2"))
    val flagged = QcActions.flagSelected(f, "value2", col("value2") > 150)
    QcActions.approveSelected(flagged, "value2", col("value2") < 100)
  }

  /** DuckDB twin of [[withValue2]] + [[seeded]] (CASE order mirrors the
    * guard order: missing wins, then outlier, then approve). */
  private val SeededCte =
    """WITH e2 AS (
      |  SELECT *, CASE WHEN event_id % 19 = 0 THEN NULL
      |                 WHEN event_id % 23 = 0 THEN 'NaN'::DOUBLE
      |                 ELSE value END AS value2
      |  FROM events),
      |seeded AS (
      |  SELECT *, CASE WHEN value2 IS NULL OR isnan(value2) THEN -1
      |                 WHEN value2 > 150 THEN -2
      |                 WHEN value2 < 100 THEN 1
      |                 ELSE 0 END AS value2_qcflag
      |  FROM e2)""".stripMargin

  // DuckDB twin of [[coSupplierEdges]]: distinct supplier pairs that
  // shipped the same order (a < b), plus symmetrized edges and degrees
  private val CoSupplierCte =
    """e0 AS (
      |  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_suppkey < l2.l_suppkey),
      |und AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
      |deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY 1)""".stripMargin

  /** Transitive-closure CC oracle over the co-supplier graph — shared
    * by `graph_cc` (min-label propagation) and `graph_cc_star`
    * (large-star/small-star contraction): converged components are
    * algorithm-independent. */
  private lazy val CcOracle: String =
    s"""WITH RECURSIVE $CoSupplierCte,
       |reach AS (
       |  SELECT a AS id, a AS lab FROM und
       |  UNION
       |  SELECT und.a, r.lab FROM und JOIN reach r ON und.b = r.id)
       |SELECT id, min(lab) AS cluster FROM reach GROUP BY id
       |ORDER BY id""".stripMargin

  private val WinCte = // 24 h tumbling windows from the global min time
    """win AS (
      |  SELECT *, CAST(floor(epoch(ts - (SELECT min(ts) FROM events)) / 86400.0) AS BIGINT) AS win_id
      |  FROM seeded)""".stripMargin

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS" // Spark side
  private val TsFmtDk = "%Y-%m-%d %H:%M:%S.%f" // DuckDB side

  private def seededWin(s: SparkSession, dir: String): DataFrame =
    QcWindows.withWinId(seeded(events(s, dir)), "ts", 24.0)

  private val selPred: Column = pmod(col("event_id"), lit(7)) === 0
  private val win3: Column = col(QcWindows.WinIdCol) === 3

  private def mOut(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("value2_qcflag")).orderBy("event_id")

  /** Shared near-dup fixture (dedup_minhash, dedup_spans): docs 0-49
    * re-appear with their last two tokens dropped, ids offset by 1e6,
    * so near-dup paths have guaranteed positives at every SF. Mirrored
    * verbatim in the oracle CTEs. */
  /** NB train+score over the weak "quality top half" label — shared by
    * `text_nb_clf` (the scored corpus) and `text_clf_pr` (its
    * threshold-sweep evaluation). */
  private def nbScored(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.nbTokenClassifier(
      documents(s, dir).withColumn("hi_q",
        (TextAnalysis.qualityZ(col("text"), Seq("the", "a")) > 0.75)
          .cast("int")),
      "doc_id", "text", "hi_q", buckets = 1024)

  private def nearDupFixture(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val toks = TextAnalysis.tokens(col("text"))
    val perturbed = documents(s, dir).filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1))))
          .as("text"))
    docs.unionByName(perturbed)
  }

  /** Shared PII fixture (text_pii, pipeline_curate): plant the three
    * pattern classes on doc_id%4 classes. The oracle CTEs mirror this
    * verbatim — change both together. */
  private def plantPii(text: Column): Column =
    when(pmod(col("doc_id"), lit(4)) === 0,
        concat(text, lit(" contact bob@example.com from 10.0.0.1")))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(text, lit(" see https://mirror.example.net/path?who=eve@x.org")))
      .when(pmod(col("doc_id"), lit(4)) === 3,
        concat(text, lit(" at http://10.0.0.7/idx and carol@y.io")))
      .otherwise(text)

  /** Shared decontamination fixture (cur_decontam, cur_decontam_keep):
    * bench = every 50th doc; corpus = the rest plus planted
    * contaminated copies (bench docs truncated to their first 12
    * tokens, ids offset by 2e6) so the overlap join has guaranteed
    * positives at every SF. Mirrored verbatim in the oracle CTEs. */
  private def decontamFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = documents(s, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id"), col("text"))
    val toks = TextAnalysis.tokens(col("text"))
    val planted = bench.select((col("doc_id") + 2000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), lit(12))).as("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select(col("doc_id"), col("text")).unionByName(planted)
    (corpus, bench)
  }

  private def mOracle(caseExpr: String): String =
    s"""$SeededCte, $WinCte
       |SELECT event_id, $caseExpr AS value2_qcflag FROM win ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------ queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("qc_e2e")(spark, "/root/testdata/sf0.001")

  /** The UNSAMPLED exact triangle count on the full co-supplier
    * projection — kept OUT of the bench registry (the registered
    * `graph_triangles` runs on a node-sampled subgraph; at sf0.1 the
    * full projection's ~1.7e8 triangles made the bench measure output
    * volume, not plan quality) but still the 10×/100× STRESS point,
    * where the O(m^1.5) output-bound scaling curve is exactly what's
    * being pinned. */
  def exactTriangles(s: SparkSession, dir: String): DataFrame =
    Graph.triangleCount(coSupplierEdges(s, dir), "a", "b").orderBy("node")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- sanity / bench headline -------------------------------------
    "q1_agg" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "skew_salted_join" -> ((s, dir) => {
      // salt-invariance proof: the salted co-located join aggregates to
      // exactly what the plain join would
      val li = lineitem(s, dir).select(col("l_suppkey").as("suppkey"),
        col("l_quantity"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, Seq("suppkey"), salt = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("s_nationkey")
    }),
    "skew_salted_agg" -> ((s, dir) =>
      Skew.saltedSumCount(lineitem(s, dir), Seq("l_returnflag"),
          "l_quantity", salt = 8)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_qty"), col("n"))
        .orderBy("l_returnflag")),
    "skew_join_card" -> ((s, dir) =>
      // pre-flight explosion check for events ⋈ purchases on user_id:
      // exact output cardinality + the 5 hottest keys, WITHOUT running
      // the join — two per-key count scans and a count-keyed join
      Skew.joinCardinality(
          events(s, dir),
          events(s, dir).filter(col("event_type") === "purchase"),
          "user_id", topK = 5)
        .orderBy(col("pairs").desc, col("key"))),

    "q6_filter_agg" -> ((s, dir) =>
      // TPC-H Q6-shaped: the pure pushdown showcase — every predicate
      // must reach the parquet scan, the agg is a one-row fold
      lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n"))),
    "q5_region_join" -> ((s, dir) => {
      // TPC-H Q5-shaped: the fact-fact shuffle join (lineitem ⋈ orders)
      // under a chain of BROADCAST dims (customer, supplier, nation,
      // region) — the join-order / broadcast-planning competence probe
      val r = s.read.parquet(s"$dir/region.parquet")
        .filter(col("r_name") === "ASIA")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val sup = s.read.parquet(s"$dir/supplier.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("n_name")
    }),
    "q14_promo" -> ((s, dir) => {
      // TPC-H Q14-shaped: conditional aggregation over a broadcast
      // part join — promo revenue share in one pass
      val part = s.read.parquet(s"$dir/part.parquet")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      lineitem(s, dir)
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)), 2)
            .as("promo_rev"),
          round(sum(rev), 2).as("total_rev"))
        .select(col("promo_rev"), col("total_rev"),
          round(col("promo_rev") / col("total_rev") * 100.0, 6)
            .as("promo_pct"))
    }),
    "q8_no_orders" -> ((s, dir) => {
      // anti-join breadth: customers with no RECENT order, by segment
      // (unfiltered, the synthetic data gives every customer an order)
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),
    "q17_small_qty" -> ((s, dir) => {
      // TPC-H Q17-shaped: the correlated-subquery pattern decorrelated
      // into a per-part aggregate joined back (broadcast — the agg
      // output is dim-sized); avg yearly revenue lost if small orders
      // were dropped
      val perPart = lineitem(s, dir)
        .groupBy(col("l_partkey").as("agg_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      lineitem(s, dir)
        .join(broadcast(perPart), col("l_partkey") === col("agg_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),
    "q3_join" -> ((s, dir) => {
      // TPC-H Q3-shaped: big fact (lineitem) joined to orders and a
      // BROADCAST customer dim — the join competence the reference
      // never needed but any engine replacement must have.
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("c_nationkey"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    }),

    // --- P operators (flag lifecycle) --------------------------------
    // NaN-bearing value columns are rendered null in query OUTPUTS (the
    // NaN detection itself is proven by the flag column = -1); this
    // keeps the cross-engine compare independent of NaN-equality
    // handling in the driver.
    "p1_add_flags" -> ((s, dir) =>
      QcFlags.addFlags(withValue2(events(s, dir)), Seq("value2"))
        .select(col("event_id"),
          when(isnan(col("value2")), lit(null)).otherwise(col("value2"))
            .as("value2"),
          col("value2_qcflag"))
        .orderBy("event_id")),
    "p3_remove_flags" -> ((s, dir) =>
      QcFlags.removeFlags(QcFlags.addFlags(withValue2(events(s, dir)), Seq("value2")))
        .select(col("event_id"),
          when(isnan(col("value2")), lit(null)).otherwise(col("value2"))
            .as("value2"))
        .orderBy("event_id")),
    "p4_transfer" -> ((s, dir) =>
      QcFlags.transfer(seeded(events(s, dir)), "value2", "value")
        .select(col("event_id"), col("value_qcflag")).orderBy("event_id")),
    "p5_apply_flags" -> ((s, dir) =>
      QcFlags.applyFlags(seeded(events(s, dir)))
        .select(col("event_id"), col("value2")).orderBy("event_id")),
    "p6_clean_mask" -> ((s, dir) =>
      QcFlags.cleanForPlot(seeded(events(s, dir)))
        .select(col("event_id"), col("value2")).orderBy("event_id")),
    "p7_hide_bad" -> ((s, dir) =>
      QcPlotFeed.hideBad(seeded(events(s, dir)), "value2")
        .select(col("event_id")).orderBy("event_id")),
    "p9_flag_class" -> ((s, dir) =>
      QcPlotFeed.flagClass(seeded(events(s, dir)), "value2", Approved)
        .select(col("event_id")).orderBy("event_id")),
    "p10_secondary" -> ((s, dir) =>
      QcPlotFeed.secondaryOverlay(seeded(events(s, dir)), "value2")
        .select(col("event_id")).orderBy("event_id")),
    "p8_nonmissing" -> ((s, dir) =>
      QcPlotFeed.nonMissing(withValue2(events(s, dir)), "value2", "ts")
        .select(col("event_id")).orderBy("event_id")),
    "p2_auto_discover" -> ((s, dir) => {
      // vars = Nil ⇒ every numeric column gets a flag (P2); the created
      // flag-column set is the operator's observable output
      import s.implicits._
      QcFlags.addFlags(withValue2(events(s, dir)), Nil)
        .columns.filter(_.endsWith(DefaultSuffix)).sorted.toSeq
        .toDF("flag_col")
    }),
    "p11_choices" -> ((s, dir) => {
      // P11: the variable list offered in the UI — flagged vars only,
      // flag/bookkeeping columns excluded (qc_window_app.R choices)
      import s.implicits._
      FlagSchema.flaggedVars(
          QcFlags.addFlags(withValue2(events(s, dir)), Nil))
        .sorted.toSeq.toDF("var")
    }),
    "p13_is_flagged" -> ((s, dir) => {
      // P13: the schema predicate gating every qc_* entry point
      import s.implicits._
      val ev = withValue2(events(s, dir))
      Seq(
        ("flagged", FlagSchema.isFlaggedDf(QcFlags.addFlags(ev, Nil))),
        ("raw", FlagSchema.isFlaggedDf(ev)))
        .toDF("case", "is_flagged").orderBy("case")
    }),
    "p12_by_ids" -> ((s, dir) =>
      QcPlotFeed.byIds(seeded(events(s, dir)),
          Seq(3L, 14L, 159L, 2653L, 5897L), idCol = "event_id")
        .select(col("event_id"), col("value2_qcflag")).orderBy("event_id")),
    "p14_auto_suffix" -> ((s, dir) => {
      // qc_vars/qc_suffix carriage (qc_flags.R:87-92): a custom suffix
      // is threaded ONCE at addFlags; every downstream call (actions,
      // applyFlags) resolves it from the stamped column Metadata. Same
      // seeded scenario as p5, so the oracle is the p5 mask.
      val f = QcFlags.addFlags(
        withValue2(events(s, dir)), Seq("value2"), suffix = "_chk")
      val flagged = QcActions.flagSelected(f, "value2", col("value2") > 150)
      val approved = QcActions.approveSelected(flagged, "value2", col("value2") < 100)
      QcFlags.applyFlags(approved)
        .select(col("event_id"), col("value2")).orderBy("event_id")
    }),

    // --- A operators (aggregations) ----------------------------------
    "a1_progress" -> ((s, dir) =>
      QcProgress.summary(seeded(events(s, dir)), Seq("value2"))
        .orderBy("variable")),
    "a2_consistency" -> ((s, dir) =>
      QcProgress.consistency(seeded(events(s, dir)), Seq("value2"))
        .select(col("variable"), col("na_count"), col("flag_na_count"),
          col("na_consistent"))
        .orderBy("variable")),
    "a3_domain" -> ((s, dir) => {
      // Inject an out-of-domain flag value so the check has something
      // to catch (the seeded state is domain-clean by construction).
      val corrupted = seeded(events(s, dir)).withColumn("value2_qcflag",
        when(pmod(col("event_id"), lit(101)) === 0, lit(7))
          .otherwise(col("value2_qcflag")))
      QcProgress.consistency(corrupted, Seq("value2"))
        .select(col("variable"), explode(col("bad_flags")).as("bad_flag"))
    }),
    "a4_hide_complete" -> ((s, dir) => {
      // `value` has no missing values; approving everything makes it
      // 100% checked, so hideComplete must drop its row and keep value2.
      val two = QcActions.approveSelected(
        QcFlags.addFlags(seeded(events(s, dir)), Seq("value")),
        "value", lit(true))
      QcProgress.summary(two, Seq("value", "value2"), hideComplete = true)
        .orderBy("variable")
    }),
    "a5_min_time" -> ((s, dir) =>
      events(s, dir).agg(date_format(min(col("ts")), TsFmt).as("t0"))),
    "a7_win_range" -> ((s, dir) =>
      QcWindows.windowCatalog(
        QcWindows.withWinId(events(s, dir), "ts", 24.0), "ts", "value")
        .select(col("win_id"),
          concat(date_format(col("t_min"), "yyyy-MM-dd HH:mm"), lit(" - "),
            date_format(col("t_max"), "yyyy-MM-dd HH:mm")).as("label"))
        .orderBy("win_id")),
    "a8_y_range" -> ((s, dir) =>
      QcWindows.yRangePadded(events(s, dir), "value")
        .select(round(col("y_min"), 6).as("y_min"),
          round(col("y_max"), 6).as("y_max"))),
    "a10_value_stats" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"),
          round(avg(col("value")), 6).as("v_avg"),
          round(expr("percentile(value, 0.5)"), 6).as("v_median"),
          count(col("value")).as("n"))
        .orderBy("event_type")),
    "a12_histogram" -> ((s, dir) =>
      Sketch.fixedHistogram(events(s, dir), "value",
          lo = 0.0, hi = 200.0, nBins = 20, groupCols = Seq("event_type"))
        .select(col("event_type"), col("bucket").cast("long").as("bucket"),
          col("n"))
        .orderBy("event_type", "bucket")),
    "drift_psi" -> ((s, dir) =>
      // distribution drift of value between the first and second half
      // of the month, per event_type — the model-monitoring score
      Sketch.psiDrift(events(s, dir), "value",
          cohort = col("ts") < lit("2024-01-16").cast("timestamp"),
          lo = 0.0, hi = 200.0, nBins = 20, groupCols = Seq("event_type"))
        .select(col("event_type"), round(col("psi"), 6).as("psi"))
        .orderBy("event_type")),
    "a11_agreement" -> ((s, dir) => {
      // manual (seeded) flags vs a deliberately-miscalibrated auto
      // range rule (>140 / <90 instead of >150 / <100)
      val auto = when(col("value2").isNull || isnan(col("value2")), -1)
        .when(col("value2") > 140, -2)
        .when(col("value2") < 90, 1)
        .otherwise(0)
      QcProgress.agreement(
        seeded(events(s, dir)).withColumn("auto_qcflag", auto),
        "value2_qcflag", "auto_qcflag")
    }),
    "a9_win_count" -> ((s, dir) =>
      QcWindows.windowCatalog(
        QcWindows.withWinId(events(s, dir), "ts", 24.0), "ts", "value")
        .agg(count(lit(1)).as("n"))),

    // --- W operators (windowing) -------------------------------------
    "w1_rowid" -> ((s, dir) =>
      QcWindows.withRowId(events(s, dir), Seq("ts", "event_id"))
        .select(col("event_id"), qcol(QcWindows.RowIdCol).as("rowid"))
        .orderBy("event_id")),
    "w2_win_id" -> ((s, dir) =>
      QcWindows.withWinId(events(s, dir), "ts", 24.0)
        .select(col("event_id"), col("win_id")).orderBy("event_id")),
    "w3_catalog" -> ((s, dir) =>
      QcWindows.windowCatalog(
        QcWindows.withWinId(events(s, dir), "ts", 24.0), "ts", "value")
        .select(col("win_id"), col("win_dense"), col("n_rows"),
          date_format(col("t_min"), TsFmt).as("t_min_s"),
          date_format(col("t_max"), TsFmt).as("t_max_s"))
        .orderBy("win_id")),
    "a6_win_filter" -> ((s, dir) =>
      QcWindows.windowCatalog(seededWin(s, dir), "ts", "value2",
          include = Seq(Unchecked))
        .select(col("win_id")).orderBy("win_id")),
    "w4_xrange" -> ((s, dir) => {
      // W4 is pure driver-side arithmetic from the A5 origin; surfaced
      // as epoch-millis so the oracle can replicate it exactly.
      val t0 = QcWindows.minTime(events(s, dir), "ts")
      val (lo, hi) = QcWindows.windowXRange(t0, 24.0, 3)
      import s.implicits._
      Seq((lo.getTime, hi.getTime)).toDF("x_lo_ms", "x_hi_ms")
    }),
    "o1_win_slice" -> ((s, dir) => {
      val w = QcWindows.withWinId(events(s, dir), "ts", 24.0)
      val cat = QcWindows.windowCatalog(w, "ts", "value")
      QcWindows.slice(QcWindows.withDenseId(w, cat), 3L)
        .select(col("event_id")).orderBy("event_id")
    }),

    // --- S operators (sources/sinks): real write → read-back ----------
    "s1_checkpoint" -> ((s, dir) => {
      val tmp = scratch("s1")
      QcExport.writeParquet(seeded(events(s, dir)), s"$tmp/ckpt")
      QcExport.readCheckpoint(s, s"$tmp/ckpt")
        .select(col("event_id"), col("value2_qcflag")).orderBy("event_id")
    }),
    "s2_csv_source" -> ((s, dir) => {
      val tmp = scratch("s2")
      QcExport.writeCsv(
        events(s, dir).select(col("event_id"), col("ts"), col("value"),
          col("event_type")),
        s"$tmp/ev_csv", timeCol = Some("ts"))
      QcExport.readCsv(s, s"$tmp/ev_csv", timeCol = "ts",
          timeFormat = Some("yyyy-MM-dd'T'HH:mm:ss'Z'"),
          select = Seq("event_id", "ts", "value"))
        .select(col("event_id").cast("long").as("event_id"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts_s"),
          round(col("value"), 6).as("value"))
        .orderBy("event_id")
    }),
    "s4_parquet_sink" -> ((s, dir) => {
      val tmp = scratch("s4")
      QcExport.writeParquet(events(s, dir), s"$tmp/ev_zstd",
        compression = "zstd")
      s.read.parquet(s"$tmp/ev_zstd")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }),
    "s7_dual_export" -> ((s, dir) => {
      val tmp = scratch("s7")
      QcExport.writeExports(seeded(events(s, dir)), tmp, "ev",
        formats = Seq("parquet"))
      def summ(name: String, d: DataFrame) =
        d.agg(lit(name).as("variant"), count(lit(1)).as("n"),
          sum(when(col("value2").isNotNull && !isnan(col("value2")), 1L)
            .otherwise(0L)).as("n_good"),
          lit(d.columns.contains("value2_qcflag")).as("has_flag"))
      summ("qc", s.read.parquet(s"$tmp/ev_qc.parquet"))
        .unionByName(summ("clean", s.read.parquet(s"$tmp/ev_clean.parquet")))
        .orderBy("variant")
    }),
    "s9_bucketed_slice" -> ((s, dir) => {
      // the scale layout (SURVEY §4.2a): day-partitioned parquet makes a
      // window slice a partition-pruned scan; verified by slicing one
      // day out of the bucketed copy and matching the unbucketed oracle
      val tmp = scratch("s9")
      QcExport.writeTimeBucketed(events(s, dir), "ts", s"$tmp/ev_days")
      val d0 = events(s, dir).agg(min(to_date(col("ts")))).head().getDate(0)
      s.read.parquet(s"$tmp/ev_days")
        .filter(col("qc_date") === date_add(lit(d0), 3))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }),
    "s10_split_layout" -> ((s, dir) => {
      // the training-corpus layout: write split-partitioned parquet so
      // reading one split is a partition-pruned scan (no full-corpus
      // pass to assemble a training set); slice 'val' and match the
      // unpartitioned oracle
      val tmp = scratch("s10")
      Curation.withSplit(documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .withColumn("n_tokens",
          TextAnalysis.nTokens(col("text")).cast("long"))
        .write.mode("overwrite").partitionBy("split")
        .parquet(s"$tmp/docs_by_split")
      s.read.parquet(s"$tmp/docs_by_split")
        .filter(col("split") === "val")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("lang")
    }),
    "s15_dpp_join" -> ((s, dir) => {
      // DYNAMIC partition pruning: the fact table is day-partitioned,
      // the dim (top-5 purchase days) exists only at runtime — static
      // pruning can't help, so Catalyst injects a dynamicpruning#
      // subquery that broadcasts the dim's day set to the fact SCAN,
      // reading 5 of ~30 partitions instead of all. PlanShapeSpec
      // asserts the pruning subquery is actually in the plan — at
      // 100 TB this is the difference between a 5-day and a full scan.
      val tmp = scratch("s15")
      events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("day")
        .parquet(s"$tmp/events_by_day")
      val fact = s.read.parquet(s"$tmp/events_by_day")
      val topDays = fact.filter(col("event_type") === "purchase")
        .groupBy(col("day")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("day")).limit(5)
        .select(col("day").as("d"))
      fact.join(topDays, col("day") === col("d"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("day")
    }),
    "s11_upsert" -> ((s, dir) => {
      // checkpoint maintenance: merge a 10%-of-keys delta (doubled
      // value, bumped version) into the base snapshot; latest wins
      val base = events(s, dir)
        .select(col("event_id"), col("value"), lit(0L).as("version"))
      val delta = events(s, dir)
        .filter(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_id"), (col("value") * 2).as("value"),
          lit(1L).as("version"))
      QcExport.upsertByKey(base, delta, Seq("event_id"), "version")
        .orderBy("event_id")
    }),
    "s12_json_source" -> ((s, dir) => {
      // JSON-lines roundtrip: write a projection as json, read it back
      // with an explicit schema (no inference pass), aggregate — the
      // third source format after parquet and csv
      val tmp = scratch("s12")
      events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(s"$tmp/ev_json")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      s.read.schema(schema).json(s"$tmp/ev_json")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),
    "s14_bucket_join" -> ((s, dir) => {
      // bucketed-layout co-located join: both fact tables are written
      // bucketBy(orderkey) (DROP + overwrite keeps bench reps clean),
      // so the hinted sort-merge join reads bucket-aligned sorted
      // files with NO exchange and NO sort on either side — the
      // layout-as-index pattern that turns a 100 TB fact-fact join
      // from a full shuffle into local merges. PlanShapeSpec asserts
      // the exchange-free join.
      val wh = scratch("s14")
      s.sql("DROP TABLE IF EXISTS g_orders_b")
      s.sql("DROP TABLE IF EXISTS g_lineitem_b")
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable("g_orders_b")
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").saveAsTable("g_lineitem_b")
      s.table("g_orders_b").hint("merge")
        .join(s.table("g_lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),
    "s13_orc_source" -> ((s, dir) => {
      // ORC roundtrip — the fourth source/sink format (parquet, csv,
      // json, orc): columnar like parquet, so projection pushdown
      // applies on re-read; the aggregate must match the parquet
      // oracle exactly (lossless roundtrip)
      val tmp = scratch("s13")
      events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(s"$tmp/ev_orc")
      s.read.orc(s"$tmp/ev_orc")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),
    "s8_manifest" -> ((s, dir) => {
      // S8 with a Spark-independent content check (r14 verdict task 2):
      // the manifest's lines are re-derived from scratch — a fresh
      // directory walk + java.security.MessageDigest over every written
      // file — and string-compared against what md5Manifest wrote
      // (reference: R/qc_exports.R:135-145, tools::md5sum). Output is
      // one verdict row per export dataset plus one for the manifest
      // text as a whole, so the DuckDB oracle is an exact constant
      // table: a wrong digest, a missed file, or an extra line flips a
      // boolean and fails the hash compare — no longer rows-only.
      val tmp = scratch("s8")
      val manifest = QcExport.writeExports(seeded(events(s, dir)), tmp, "ev",
        formats = Seq("parquet", "csv"))
      QcExport.verifyManifest(s, tmp, manifest,
        Seq("ev_qc.csv", "ev_qc.parquet", "ev_clean.csv", "ev_clean.parquet"))
    }),
    "s5_xlsx" -> ((s, dir) => {
      // S5: XLSX-shaped chunked export (R/qc_exports.R:92-122) — sheet
      // chunks of ≤2048 data rows in (ts, event_id) order (the Excel
      // 1,048,576 limit scaled down so every fixture SF exercises
      // multi-sheet naming), one partitionBy(sheet) CSV write, sheet
      // index re-derived from the files on disk. maxRows small enough
      // that sf0.01 yields 5 sheets incl. a ragged tail (10000 = 4×2048
      // + 1808) — the chunk-boundary arithmetic is what's under test.
      val tmp = scratch("s5")
      QcExport.writeXlsxChunked(seeded(events(s, dir)), tmp, "ev_qc",
        orderCols = Seq("ts", "event_id"), timeCol = Some("ts"),
        maxRows = 2048L)
    }),

    // --- M operators (mutation algebra) ------------------------------
    "m1_flag_selected" -> ((s, dir) =>
      mOut(QcActions.flagSelected(seededWin(s, dir), "value2", selPred))),
    "m2_approve_selected" -> ((s, dir) =>
      mOut(QcActions.approveSelected(seededWin(s, dir), "value2", selPred))),
    "m3_unflag_selected" -> ((s, dir) =>
      mOut(QcActions.unflagSelected(seededWin(s, dir), "value2", selPred))),
    "m4_flag_window" -> ((s, dir) =>
      mOut(QcActions.flagWindow(seededWin(s, dir), "value2", win3))),
    "m5_approve_unflagged" -> ((s, dir) =>
      mOut(QcActions.approveUnflagged(seededWin(s, dir), "value2", win3))),
    "m6_reset_window" -> ((s, dir) =>
      mOut(QcActions.resetWindow(seededWin(s, dir), "value2", win3))),
    "m7_flag_approve_next" -> ((s, dir) =>
      mOut(QcActions.flagAndApproveRest(seededWin(s, dir), "value2",
        selPred && win3, win3))),
    "m8_reset_all" -> ((s, dir) =>
      mOut(QcActions.resetAll(seededWin(s, dir), "value2"))),
    "m9_event_fold" -> ((s, dir) => {
      // Event-sourced mutation (SURVEY §7.3): reset-all, then flag a
      // brushed id set, then approve window 3's unflagged — as three
      // appended log events folded in seq order, proven here to equal
      // the sequential action chain the DuckDB oracle spells out.
      import QcFlagLog._, QcActions.{ApproveUnflagged, Flag, Unflag}
      val ids = (0L until 1000L by 91L).toSeq
      val log = toLog(s, globalEvent(1, "value2", Unflag) +:
        (pointEvents(2, "value2", ids, Flag) :+
          windowEvent(3, "value2", 3L, ApproveUnflagged)))
      QcFlagLog.fold(seededWin(s, dir), log, idCol = "event_id")
        .select(col("event_id"), col("value2_qcflag")).orderBy("event_id")
    }),
    "qc_session_e2e" -> ((s, dir) => {
      // A scripted eight-action M1-M8 review over row-id'd data as
      // QcFlagLog events, compacted mid-script: the events of actions
      // 1-5 fold into an eager checkpoint, those of actions 6-8 fold
      // onto it. The oracle is the plain sequential CASE chain, so the
      // compaction must be semantically invisible (fold(fold(base,
      // log₁), log₂) ≡ sequential application). Its selections reach
      // rows of any window and M7's is unguarded, which a QcSession
      // brush cannot do. The require makes the compaction load-bearing.
      import QcFlagLog._, QcActions._
      val base = QcWindows.withRowId(seededWin(s, dir), Seq("ts", "event_id"))
      val log1 = Seq(globalEvent(1, "value2", Unflag)) ++ //           M8
        pointEvents(2, "value2", 0L until 1000L by 91L, Flag) ++ //      M1
        Seq(windowEvent(3, "value2", 3L, ApproveUnflagged), //           M5
          windowEvent(4, "value2", 5L, Flag)) ++ //                      M4
        pointEvents(5, "value2", 0L until 1000L by 182L, Unflag) //      M3
      val log2 = pointEvents(6, "value2", 0L until 500L by 97L, FlagUnguarded) ++
        Seq(windowEvent(7, "value2", 2L, ApproveUnflagged), //           M7
          windowEvent(8, "value2", 5L, Unflag)) ++ //                    M6
        pointEvents(9, "value2", 91L until 800L by 182L, Approve) //     M2
      val cut = fold(base, toLog(s, log1)).localCheckpoint(eager = true)
      val leaf = cut.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l }
      require(log1.size == 20 && log2.size == 12 && leaf.nonEmpty,
        s"qc_session_e2e: compaction not as scripted (${log1.size}, ${log2.size}, $leaf)")
      fold(cut, toLog(s, log2))
        .select(col("event_id"), col("value2_qcflag")).orderBy("event_id")
    }),

    // --- streaming (Structured Streaming, batch-oracle-verified) -----
    "stream_enrich" -> ((s, dir) => {
      // stream-static broadcast join: purchases stream enriched with a
      // static per-user signup dimension, bucketed by days-since-signup
      // (null bucket = purchase by a user with no signup event)
      val dim = events(s, dir).filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
      val enriched = graft.streaming.QcStream
        .enrichStatic(purchases, dim, Seq("user_id"))
        .withColumn("days_since",
          floor((col("ts").cast("double") - col("signup_ts").cast("double"))
            / 86400.0).cast("long"))
      val agg = enriched.groupBy(col("days_since"))
        .agg(count(lit(1)).as("n"))
      drainToTable(s, agg, "complete", "stream_enrich").orderBy("days_since")
    }),
    "stream_progress" -> ((s, dir) => {
      // The continuous-ingest path (SURVEY §7.5): flag init + auto-flag
      // + watermarked tumbling progress over a FILE STREAM of the same
      // events table, drained with AvailableNow into a memory sink —
      // so the streaming semantics are checked against the batch oracle.
      val flagged = QcStream.withFlags(withValue2(eventsStream(s, dir)),
        Seq("value2"), autoFlag = Map("value2" -> (col("value2") > 150)))
      val agg = QcStream.windowedProgress(flagged, "ts", "value2",
        windowWidth = "24 hours", watermark = "48 hours")
      drainToTable(s, agg, "complete", "stream_progress")
        .select(unix_timestamp(col("win_start")).as("win_start_s"),
          col("n_rows"), col("n_approved"), col("n_unchecked"),
          col("n_missing"), col("n_flagged"))
        .orderBy("win_start_s")
    }),
    "stream_sessionize" -> ((s, dir) => {
      // flatMapGroupsWithState sessionization over the events file
      // stream, drained AvailableNow; session_id = opening event's
      // epoch millis, checked against the batch lag/running-max oracle
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
      val out = QcStream.streamingSessionize(ev, gapSecs = 3600.0)
      drainToTable(s, out.toDF(), "append", "stream_sessionize")
        .select(col("key").as("user_id"),
          expr("unix_micros(ts) DIV 1000").as("ts_ms"),
          col("sessionId").as("session_id"))
        .orderBy("user_id", "ts_ms", "session_id")
    }),
    "stream_session_native" -> ((s, dir) => {
      // the BUILT-IN session_window twin of stream_sessionize (prefer
      // native operators to custom state where semantics allow):
      // 1h-gap sessions merged by the engine, append mode — a session
      // emits when the watermark passes its end (last event + gap), so
      // the drained table holds exactly the CLOSED sessions; the
      // oracle encodes that same predicate against the global max ts
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
      drainToTable(s, agg, "append", "stream_session_native")
        .select(col("user_id"),
          expr("unix_micros(session_window.start) DIV 1000").as("start_ms"),
          expr("unix_micros(session_window.end) DIV 1000").as("end_ms"),
          col("n_events"))
        .orderBy("user_id", "start_ms")
    }),
    "stream_clf" -> ((s, dir) => {
      // train-offline / score-online: the NB model trains on the
      // STATIC corpus (exact integer counts), exports to the driver
      // (model-sized: ≤1024 weights), and rides the STREAMING plan as
      // a map literal — scoring is a stateless per-row fold, so the
      // stream needs no state, no watermark, no shuffle. The fold is
      // left-to-right over the token array: the double order is
      // defined, and the oracle replays it term by term.
      val docs = documents(s, dir).withColumn("hi_q",
        (TextAnalysis.qualityZ(col("text"), Seq("the", "a")) > 0.75)
          .cast("int"))
      val (w, prior) = TextAnalysis.nbTokenModel(
        docs, "doc_id", "text", "hi_q", buckets = 1024)
      val scored = documentsStream(s, dir)
        .select(col("doc_id"),
          TextAnalysis.nbScore(col("text"), w, prior, 1024).as("nb_logit"))
      drainToTable(s, scored, "append", "stream_clf")
        .orderBy("doc_id")
    }),
    "stream_dedup" -> ((s, dir) => {
      // streaming exact dedup via dropDuplicatesWithinWatermark:
      // per-key state is ONE timestamp evicted at the watermark, so
      // state is bounded by keys-per-watermark-window, not stream
      // length. Only the dedup keys are projected out (which physical
      // duplicate survives is arrival-order dependent; the key set is
      // not), so the drained result is exactly the batch DISTINCT
      val dedup = QcStream.streamingExactDedup(
        eventsStream(s, dir).select(col("user_id"), col("event_type"), col("ts")),
        Seq("user_id", "event_type"), "ts", "2 days")
      drainToTable(s, dedup, "append", "stream_dedup")
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")
    }),
    "stream_incremental" -> ((s, dir) => {
      // streaming incremental mode: only keys NOT in the static
      // known-key corpus pass (broadcast anti-join, stateless), each
      // emitted once via watermarked dedup — corpus keys never enter
      // the state store
      val known = events(s, dir).filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_type")).distinct()
      val out = QcStream.streamingNewKeys(
        eventsStream(s, dir).select(col("user_id"), col("event_type"), col("ts")),
        known, Seq("user_id", "event_type"), "ts", "2 days")
      drainToTable(s, out, "append", "stream_incremental")
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")
    }),
    "stream_join" -> ((s, dir) => {
      // STREAM-STREAM inner join: purchases matched to same-user
      // signups within the preceding day. Watermarks + the time-range
      // predicate bound the join state (each side keeps ≤ watermark +
      // range of history); inner-join rows emit as matched, so the
      // AvailableNow drain yields exactly the batch join
      val signups = eventsStream(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
        .withWatermark("s_ts", "2 days")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_event"))
        .withWatermark("p_ts", "2 days")
      val joined = purchases.join(signups,
        col("p_user") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 1 DAY"))
      drainToTable(s, joined, "append", "stream_join")
        .select(col("p_event").as("event_id"),
          col("p_user").as("user_id"),
          expr("unix_micros(s_ts) DIV 1000").as("s_ts_ms"))
        .orderBy("event_id", "s_ts_ms")
    }),
    "stream_kmv" -> ((s, dir) => {
      // the KMV sketch as STREAMING state: per-day distinct-user
      // estimates with O(k) state per window — the mergeable-sketch
      // property is exactly what lets it ride a streaming aggregate
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .groupBy(window(col("ts"), "24 hours").as("win"))
        .agg(Sketch.kmv("user_id", 64).as("__kmv"))
      val (n, est) = Sketch.kmvEstimate(col("__kmv"), 64)
      drainToTable(s, agg, "complete", "stream_kmv")
        .select(unix_timestamp(col("win.start")).as("win_start_s"), n, est)
        .orderBy("win_start_s")
    }),
    "stream_hll" -> ((s, dir) => {
      // HLL registers as STREAMING state: register-max is mergeable
      // (commutative, associative, idempotent), so the per-(window,
      // register) max-rank rides ONE watermarked streaming aggregate
      // with <= 256 rows of state per window; the harmonic
      // finalization is batch arithmetic on the drained register
      // catalog — the mergeable-sketch pattern KMV uses, at fixed
      // state even for billion-user windows
      val regs = Sketch.hllRegisters(
        eventsStream(s, dir)
          .withWatermark("ts", "48 hours")
          .withColumn("win", window(col("ts"), "24 hours"))
          .select(col("win"), col("user_id")),
        "user_id", Seq("win"))
      Sketch.hllFinalize(
          drainToTable(s, regs, "complete", "stream_hll"), Seq("win"))
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          col("hll_est"))
        .orderBy("win_start_s")
    }),
    "stream_topk" -> ((s, dir) => {
      // windowed top-k: the heavy-hitter dashboard shape — a
      // watermarked per-(window, type) count is the only STREAMING
      // state; the rank over the drained (windows x types)-sized
      // result is batch work on a tiny table
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .groupBy(window(col("ts"), "24 hours").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      drainToTable(s, agg, "complete", "stream_topk")
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          col("event_type"), col("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("win_start_s")
            .orderBy(col("n").desc, col("event_type"))).cast("long"))
        .filter(col("rk") <= 3)
        .select("win_start_s", "rk", "event_type", "n")
        .orderBy("win_start_s", "rk")
    }),
    "stream_expectations" -> ((s, dir) => {
      // the expectations gate as a STREAMING monitor: per-day
      // windowed violation counters — same one-aggregate shape, state
      // is one row of counters per window
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .groupBy(window(col("ts"), "24 hours").as("win"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("value") >= 0 && col("value") <= 200, 0L)
            .otherwise(1L)).as("__f_range"),
          sum(when(col("user_id") > 0, 0L).otherwise(1L)).as("__f_user"))
      drainToTable(s, agg, "complete", "stream_expectations")
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          explode(array(
            struct(lit("user_id_positive").as("rule"),
              col("__f_user").as("n_fail"), col("__n").as("n_rows")),
            struct(lit("value_in_range").as("rule"),
              col("__f_range").as("n_fail"), col("__n").as("n_rows"))))
            .as("__r"))
        .select(col("win_start_s"), col("__r.rule").as("rule"),
          col("__r.n_fail").as("n_fail"), col("__r.n_rows").as("n_rows"))
        .orderBy("win_start_s", "rule")
    }),
    "stream_cms" -> ((s, dir) => {
      // count-min cells as STREAMING state: a per-day event-type
      // frequency sketch — state is d*w cells per window no matter
      // the stream volume (the mergeable-sketch property again); the
      // drained sketch is point-queried exactly like the batch one
      val d = 2; val w = 64
      val cellsAgg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .select(col("ts"),
          explode(Sketch.cmsCells(col("event_type"), d, w)).as("__c"))
        .groupBy(window(col("ts"), "24 hours").as("win"),
          col("__c.row").as("row"), col("__c.pos").as("pos"))
        .agg(count(lit(1)).as("cnt"))
      val cells = drainToTable(s, cellsAgg, "complete", "stream_cms")
        .select(unix_timestamp(col("win.start")).as("c_win"),
          col("row"), col("pos"), col("cnt"))
      events(s, dir)
        .select((floor(col("ts").cast("long") / 86400L) * 86400)
          .cast("long").as("win_start_s"), col("event_type"))
        .distinct()
        .select(col("win_start_s"), col("event_type"),
          explode(Sketch.cmsCells(col("event_type"), d, w)).as("__c"))
        .join(broadcast(cells),
          col("win_start_s") === col("c_win") &&
            col("__c.row") === col("row") && col("__c.pos") === col("pos"))
        .groupBy(col("win_start_s"), col("event_type"))
        .agg(min(col("cnt")).as("cms_est"))
        .orderBy("win_start_s", "event_type")
    }),
    "stream_anomaly" -> ((s, dir) => {
      // streaming z-score monitor: per-type mean/std baselines come
      // from history as EXACT integer sums (2-dp values → tick longs;
      // one IEEE division each, bit-identical on any engine — a float
      // avg/stddev would drift with summation order), broadcast onto
      // the stream; each day's windowed agg counts |z| > 3 outliers.
      // State: one counter row per (window, type).
      val ticks = round(col("value") * 100d).cast("long")
      val base = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), ticks.as("__tk"))
        .groupBy(col("event_type"))
        .agg(sum(col("__tk")).as("__st"),
          sum(col("__tk") * col("__tk")).as("__ssq"),
          count(lit(1)).as("__n"))
        .select(col("event_type"),
          (col("__st").cast("double") / (lit(100.0) * col("__n")))
            .as("__mean"),
          sqrt(col("__ssq").cast("double") / (lit(10000.0) * col("__n")) -
            (col("__st").cast("double") / (lit(100.0) * col("__n"))) *
              (col("__st").cast("double") / (lit(100.0) * col("__n"))))
            .as("__std"))
      val agg = eventsStream(s, dir)
        .filter(col("value").isNotNull)
        .join(broadcast(base), "event_type")
        .withColumn("__anom",
          (abs(col("value") - col("__mean")) >
            lit(3.0) * col("__std")).cast("long"))
        .withWatermark("ts", "48 hours")
        .groupBy(window(col("ts"), "24 hours").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__anom")).as("n_anom"))
      drainToTable(s, agg, "complete", "stream_anomaly")
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          col("event_type"), col("n"), col("n_anom"))
        .orderBy("win_start_s", "event_type")
    }),
    "stream_decontam" -> ((s, dir) => {
      // the decontamination gate at INGESTION time: each arriving
      // doc's distinct 5-grams join the static benchmark gram table
      // (broadcast, stream-static), matched counts aggregate per
      // (doc, bench) pair — leakage is caught before the doc ever
      // lands in the lake. Same fixture as cur_decontam, so the
      // stream must reproduce the batch gate exactly. Both gram sets
      // are per-doc DISTINCT (wordShingles), so the join stream is
      // already distinct per (doc, bench, gram) and plain count(*)
      // equals the count(DISTINCT) streaming aggs can't run.
      val stream = documentsStream(s, dir)
      val toks = TextAnalysis.tokens(col("text"))
      val planted = stream.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), lit(12))).as("text"))
      val corpus = stream.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .select(col("doc_id"), col("text")).unionByName(planted)
      val bench = documents(s, dir)
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("bench_id"),
          explode(Dedup.wordShingles(col("text"), 5)).as("__g"))
      val cand = corpus
        .select(col("doc_id"),
          explode(Dedup.wordShingles(col("text"), 5)).as("__g"))
        .join(broadcast(bench), "__g")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_matched"))
      drainToTable(s, cand, "complete", "stream_decontam")
        .orderBy("doc_id", "bench_id")
    }),
    "stream_psi" -> ((s, dir) => {
      // PSI drift as a STREAMING monitor: per-day value-histogram
      // counts ride the watermarked windowed agg (state ≤ nBins+2
      // rows per window — a sketch, like stream_cms); each drained
      // day is scored against the full-history baseline with the
      // Sketch.psiDrift smoothing. The model-monitoring loop (alert
      // when a day drifts past 0.2) as one bounded-state stream.
      val nBins = 20
      val b = (v: Column) => width_bucket(v, lit(0.0), lit(200.0), lit(nBins))
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .filter(col("value").isNotNull)
        .groupBy(window(col("ts"), "24 hours").as("win"),
          b(col("value")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val winB = drainToTable(s, agg, "complete", "stream_psi")
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          col("bucket"), col("cnt"))
      val refB = events(s, dir).filter(col("value").isNotNull)
        .groupBy(b(col("value")).as("bucket"))
        .agg(count(lit(1)).as("ref_cnt"))
      // post-drain arithmetic on (days × ≤22 buckets): the grid gives
      // every drained day every baseline bucket, so bins empty on
      // either side keep their eps floor exactly like psiDrift
      val grid = winB.select(col("win_start_s")).distinct()
        .crossJoin(broadcast(refB))
      val wWin = Window.partitionBy(col("win_start_s"))
      val denom = lit(0.5 * (nBins + 2))
      val j = grid.join(winB, Seq("win_start_s", "bucket"), "full_outer")
        .select(col("win_start_s"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"))
      val pw = (col("cnt") + lit(0.5)) / (sum(col("cnt")).over(wWin) + denom)
      val pr = (col("ref_cnt") + lit(0.5)) /
        (sum(col("ref_cnt")).over(wWin) + denom)
      j.withColumn("__term", (pw - pr) * log(pw / pr))
        .groupBy(col("win_start_s"))
        .agg(round(sum(col("__term")), 6).as("psi"))
        .orderBy("win_start_s")
    }),
    "stream_ohlc" -> ((s, dir) => {
      // the streaming face of Resample.ohlc: per event-time window,
      // open/close via min_by/max_by on the total (ts, event_id)
      // order — ordinary streaming-safe aggregates, no window
      // functions, so the bars ride a watermarked tumbling groupBy
      // with bounded state (complete mode here so the drained table
      // covers the fixture for the batch oracle)
      val ord = struct(col("ts"), col("event_id"))
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .groupBy(col("event_type"), window(col("ts"), "6 hours").as("win"))
        .agg(
          min_by(col("value"), ord).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), ord).as("close"),
          count(col("value")).as("n"))
      drainToTable(s, agg, "complete", "stream_ohlc")
        .select(col("event_type"),
          unix_timestamp(col("win.start")).as("bucket_start_s"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "bucket_start_s")
    }),
    "stream_sliding" -> ((s, dir) => {
      // OVERLAPPING event-time windows (24h width, 6h slide): every
      // event lands in 4 windows; state is bounded by the watermark at
      // a real trigger (complete mode here so the drained table covers
      // the whole fixture for the oracle)
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "48 hours")
        .groupBy(window(col("ts"), "24 hours", "6 hours").as("win"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("value")), 4).as("sum_value"))
      drainToTable(s, agg, "complete", "stream_sliding")
        .select(unix_timestamp(col("win.start")).as("win_start_s"),
          col("n_rows"), col("sum_value"))
        .orderBy("win_start_s")
    }),

    // --- time-series relational ops ----------------------------------
    "ts_asof" -> ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      graft.timeseries.TimeSeriesOps.asofJoin(
          purchases, signups, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "ts")
        .select(col("event_id"), col("r_event_id"))
        .orderBy("event_id")
    }),
    "ts_asof_tol" -> ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      graft.timeseries.TimeSeriesOps.asofJoin(
          purchases, signups, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          toleranceSecs = Some(7 * 86400.0)) // matches older than a week drop
        .select(col("event_id"), col("r_event_id"))
        .orderBy("event_id")
    }),
    "ts_asof_fwd" -> ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      graft.timeseries.TimeSeriesOps.asofJoin(
          purchases, signups, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "ts", direction = "forward")
        .select(col("event_id"), col("r_event_id"))
        .orderBy("event_id")
    }),
    "ts_asof_near" -> ((s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts")
      graft.timeseries.TimeSeriesOps.asofJoin(
          purchases, signups, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "ts", direction = "nearest")
        .select(col("event_id"), col("r_event_id"))
        .orderBy("event_id")
    }),
    "ts_funnel" -> ((s, dir) =>
      graft.timeseries.TimeSeriesOps.funnelCounts(
          events(s, dir), "user_id", "event_type", "ts",
          Seq("signup", "view", "purchase"))
        .orderBy("step_idx")),
    "sketch_kmv" -> ((s, dir) =>
      Sketch.kmvDistinct(events(s, dir), "user_id", 64, Seq("event_type"))
        .orderBy("event_type")),
    "sketch_kmv_setops" -> ((s, dir) => {
      // cohort-overlap analytics WITHOUT re-reading the data: two
      // bottom-64 sketches (one scan each) answer |A|, |B|, |A∪B|,
      // |A∩B| as pure array arithmetic on two k-length rows
      val ev = events(s, dir)
      val a = ev.filter(col("event_type") === "click")
        .agg(Sketch.kmv("user_id", 64).as("__ka"))
      val b = ev.filter(col("event_type") === "view")
        .agg(Sketch.kmv("user_id", 64).as("__kb"))
      a.crossJoin(b)
        .select(Sketch.kmvSetOps(col("__ka"), col("__kb"), 64).as("__s"))
        .select(round(col("__s.est_a"), 6).as("est_a"),
          round(col("__s.est_b"), 6).as("est_b"),
          round(col("__s.est_union"), 6).as("est_union"),
          round(col("__s.est_intersection"), 6).as("est_intersection"))
    }),
    "sketch_hll" -> ((s, dir) => {
      // HyperLogLog distinct users per event type + overall: fixed
      // 256-register state per group at any cardinality; the 'ALL'
      // row rides the same aggregate via an input union (a global HLL
      // is NOT the sum of per-group HLLs — users appear in many types)
      val ev = events(s, dir).select(col("event_type"), col("user_id"))
      Sketch.hllEstimate(
          ev.unionByName(
            ev.select(lit("ALL").as("event_type"), col("user_id"))),
          "user_id", Seq("event_type"), p = 8)
        .orderBy("event_type")
    }),
    "sketch_cms" -> ((s, dir) => {
      // count-min sketch of per-user event counts (4 rows x 256 cells
      // — 1024 cells no matter the corpus size), point-queried for
      // every user and joined to the exact count: the estimate is an
      // upper bound, exact wherever no cell collides
      val ev = events(s, dir)
      val cells = Sketch.countMinCells(ev, "user_id", d = 4, w = 256)
      Sketch.countMinEstimate(
          cells, ev.select("user_id").distinct(), "user_id", d = 4, w = 256)
        .join(ev.groupBy("user_id").agg(count(lit(1)).as("true_n")),
          "user_id")
        .select(col("user_id"), col("cms_est"), col("true_n"))
        .orderBy("user_id")
    }),
    "cur_expectations" -> ((s, dir) =>
      // the whole rulebook in ONE scan: per-rule violation counters
      // fold into a single map-side-combined aggregate; NULL
      // predicates count as failures (three-valued-logic guard)
      Expectations.check(events(s, dir), Seq(
        "type_in_domain" -> col("event_type").isin(
          "click", "error", "purchase", "signup", "view"),
        "user_id_positive" -> (col("user_id") > 0),
        "value_not_null" -> col("value").isNotNull,
        "value_in_range" -> (col("value") >= 0 && col("value") <= 200)))
        .orderBy("rule")),
    "q4_semi" -> ((s, dir) =>
      // TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join — the
      // probe side never duplicates rows (no distinct needed, no
      // fan-out), then one small aggregate
      s.read.parquet(s"$dir/orders.parquet")
        .join(lineitem(s, dir).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),
    "q_cube" -> ((s, dir) =>
      // CUBE grouping sets: all four (status, priority) subtotal
      // levels in ONE pass — Expand x4 + a single hash aggregate with
      // map-side combine, not four scans; subtotal NULLs coalesce to
      // an explicit marker so both engines sort them identically
      s.read.parquet(s"$dir/orders.parquet")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 4).as("revenue"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("revenue"))
        .orderBy("status", "priority")),
    "graph_pagerank" -> ((s, dir) => {
      // PageRank over the customer-supplier bipartite graph (edge:
      // customer ordered a part this supplier shipped) — 5 exact
      // deterministic iterations, each O(|edges|) keyed join + sum
      // iterate on LONG node ids (even = customer, odd = supplier) and
      // re-stringify once at the end: 5 iterations of join+groupBy on
      // 8-byte keys instead of strings — same graph, same ranks
      val edges = s.read.parquet(s"$dir/orders.parquet")
        .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.pageRank(edges, "src", "dst", iters = 5)
        .select(concat(
            when(pmod(col("node"), lit(2)) === 0, lit("c")).otherwise(lit("s")),
            (col("node") / 2).cast("long")).as("node"),
          col("r"))
        .orderBy("node")
    }),
    "graph_ppr" -> ((s, dir) =>
      // trust propagation: teleport only to the %100==1 seed suppliers;
      // rank table stays sparse (seed neighborhood only), 4 iterations
      Graph.personalizedPageRank(coSupplierEdges(s, dir), "a", "b",
          s.read.parquet(s"$dir/supplier.parquet")
            .filter(col("s_suppkey") % 100 === 1),
          "s_suppkey", iters = 4)
        .orderBy("node")),
    "graph_triangles" -> ((s, dir) =>
      // exact per-supplier triangle counts, degree-ordered orientation
      // (each triangle found once, at its lowest-degree corner — the
      // O(m^1.5) bound that survives hubs) — on the NODE-SAMPLED
      // co-supplier projection (suppkey % 5 == 0 induced subgraph).
      // The full sf0.1 projection is near-complete (~500k edges on 1k
      // suppliers → ~1.7e8 triangles) and the exact count is
      // OUTPUT-bound: 59 s of bench budget measured triangle volume,
      // not plan quality (r14 verdict task 5). The sample keeps every
      // plan feature — orientation join, wedge self-join, closing
      // join — at <1% of the output; the UNSAMPLED query stays the
      // 10×/100× STRESS point ([[exactTriangles]]), where output-bound
      // scaling IS the claim under test.
      Graph.triangleCount(
        coSupplierEdges(s, dir, Some(col("l_suppkey") % 5 === 0)),
        "a", "b")
        .orderBy("node")),
    "graph_bfs" -> ((s, dir) =>
      // min hop distance from the %100==1 supplier seed set, ≤ 3 hops
      Graph.bfsHops(coSupplierEdges(s, dir), "a", "b",
          s.read.parquet(s"$dir/supplier.parquet")
            .filter(col("s_suppkey") % 100 === 1),
          "s_suppkey", maxHops = 3)
        .orderBy("node")),
    "graph_jaccard" -> ((s, dir) => {
      // neighborhood Jaccard between suppliers over the
      // customer-supplier BIPARTITE graph (who serves the same
      // customers — the collaborative-filtering item-similarity
      // shape): |C(a)∩C(b)| / |C(a)∪C(b)| for pairs sharing ≥2
      // customers. Wedge fan-out per customer is (suppliers per
      // customer)², bounded by purchase behavior, NOT graph size —
      // the co-supplier PROJECTION is near-complete at sf0.1+ and
      // its Σdeg² wedge count explodes (measured 419 s; this shape
      // is seconds). Common counts via the generic fingerprint-
      // bucket join (flood cap included); the score is an
      // exact-integer IEEE division (never rounded: small-integer
      // ratios sit ON round-6 tie boundaries).
      val nbrs = s.read.parquet(s"$dir/orders.parquet")
        .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("l_suppkey").as("id"), col("o_custkey").as("fp"))
        .distinct()
      val deg = nbrs.groupBy(col("id")).agg(count(lit(1)).as("deg"))
      Dedup.sharedFingerprintPairs(nbrs, "id", "fp", minShared = 2)
        .join(broadcast(deg.select(col("id").as("id_a"),
          col("deg").as("deg_a"))), "id_a")
        .join(broadcast(deg.select(col("id").as("id_b"),
          col("deg").as("deg_b"))), "id_b")
        .select(col("id_a"), col("id_b"), col("n_shared"),
          (col("n_shared") /
            (col("deg_a") + col("deg_b") - col("n_shared"))).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "graph_cc" -> ((s, dir) =>
      // connected components of the co-supplier graph — min-label
      // propagation to fixpoint (the dedup-cluster routine on a real
      // graph); supply-chain blast-radius analysis in one call
      Dedup.nearDupClusters(
          coSupplierEdges(s, dir)
            .select(col("a").as("id_a"), col("b").as("id_b")))
        .orderBy("id")),
    "graph_cc_star" -> ((s, dir) =>
      // the SAME components via large-star/small-star contraction —
      // the O(log n)-round web-scale path (min-label propagation is
      // O(diameter)); output contract is identical (id → component
      // min), so the one transitive-closure oracle checks both
      Graph.connectedComponentsStar(coSupplierEdges(s, dir), "a", "b")
        .orderBy("id")),
    "graph_lpa" -> ((s, dir) =>
      // 3 synchronous label-propagation rounds, modal neighbor label,
      // ties to the smallest — deterministic community detection
      Graph.labelPropagation(coSupplierEdges(s, dir), "a", "b", iters = 3)
        .orderBy("node")),
    "graph_kcore" -> ((s, dir) => {
      // k-core peel of the customer-supplier bipartite graph (long
      // node ids, even = customer / odd = supplier, like pagerank):
      // 4 fixed peeling rounds at k=20 — drops casual customers and
      // the suppliers only they touch, the densest-activity core
      // no .distinct() here: kCore canonicalizes + distincts the edge
      // set itself — an outer distinct would be a second full shuffle
      val edges = s.read.parquet(s"$dir/orders.parquet")
        .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.kCore(edges, "src", "dst", k = 20, rounds = 4)
        .select(concat(
            when(pmod(col("node"), lit(2)) === 0, lit("c")).otherwise(lit("s")),
            (col("node") / 2).cast("long")).as("node"),
          col("deg"))
        .orderBy("node")
    }),
    "graph_hits" -> ((s, dir) => {
      // HITS hubs/authorities on the DIRECTED customer→supplier
      // bipartite (same long-id encoding): hubs score customers by
      // the authority of the suppliers they buy from and vice versa —
      // 3 L1-normalized iterations, 6dp-rounded for exact replay
      // no .distinct() here: hits distincts the edge list itself — an
      // outer distinct would be a second full shuffle of the same set
      val edges = s.read.parquet(s"$dir/orders.parquet")
        .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.hits(edges, "src", "dst", iters = 3)
        .select(concat(
            when(pmod(col("node"), lit(2)) === 0, lit("c")).otherwise(lit("s")),
            (col("node") / 2).cast("long")).as("node"),
          col("side"), col("score"))
        .orderBy("side", "node")
    }),
    "ts_new_users" -> ((s, dir) => {
      // daily active / new / cumulative-distinct users: first-seen day
      // per user (one keyed aggregate) turns cumulative COUNT DISTINCT
      // — which no engine windows cheaply — into a running SUM over
      // the day catalog; the only global window runs on that
      // catalog-sized result, never the data
      val ev = events(s, dir).select(
        (floor(unix_timestamp(col("ts")) / 86400) * 86400)
          .cast("long").as("day"),
        col("user_id")).distinct()
      val active = ev.groupBy("day").agg(count(lit(1)).as("n_active"))
      val news = ev.groupBy("user_id").agg(min(col("day")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new"))
      active.join(news, Seq("day"), "left_outer")
        .select(col("day"), col("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_users", sum(col("n_new")).over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    }),
    "ivm_merge" -> ((s, dir) => {
      // incremental view maintenance: the standing per-user rollup
      // absorbs a delta batch by MERGING partial aggregates — cost is
      // |keys touched|, the base data is never rescanned. The oracle
      // recomputes the FULL aggregate from scratch: merge(agg(A),
      // agg(B)) must equal agg(A ∪ B)
      val ev = events(s, dir)
      def rollup(df: DataFrame) = df.groupBy(col("user_id")).agg(
        count(col("value")).as("n"), sum(col("value")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      val view = rollup(ev.filter(pmod(col("event_id"), lit(2)) === 0))
      val delta = rollup(ev.filter(pmod(col("event_id"), lit(2)) === 1))
      // the reassociated (merged) float sum differs from the oracle's
      // single-pass sum by ulps, and the cent-quantized values put
      // many averages EXACTLY on round-6 half-points — so stabilize
      // to integer cents first; after that every derived double is
      // bit-identical on both engines
      val svStable = round(col("sv") * 100) / 100.0
      Ivm.merge(view, delta, Seq("user_id"), Seq(
          "n" -> Ivm.Add, "sv" -> Ivm.Add,
          "mn" -> Ivm.TakeMin, "mx" -> Ivm.TakeMax))
        .select(col("user_id"), col("n"), svStable.as("sv"),
          col("mn"), col("mx"), round(svStable / col("n"), 6).as("avg_v"))
        .orderBy("user_id")
    }),
    "cdc_apply" -> ((s, dir) => {
      // MERGE-INTO semantics over a synthetic changelog: every 10th
      // event deletes its user key, the rest upsert; the last change
      // by (ts, event_id) wins. One keyed max_by aggregate — the
      // shuffle carries |keys| candidate rows, not the whole log
      val ch = events(s, dir).select(
        col("user_id"), col("ts"), col("event_id"),
        when(pmod(col("event_id"), lit(10)) === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value"))
      graft.timeseries.TimeSeriesOps.cdcApply(
          ch, Seq("user_id"), Seq("ts", "event_id"), "op", "D")
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id")
    }),
    "sketch_quantile" -> ((s, dir) =>
      // constant-state quantiles: 512-bin histogram + in-bin linear
      // interpolation — two map-side-combined scans; everything past
      // the bin counts is model-sized
      Sketch.histogramQuantiles(events(s, dir), "value", 512,
          (1 to 9).map(_ / 10.0))
        .select(col("q"), round(col("quantile"), 6).as("quantile"))
        .orderBy("q")),
    "sketch_quantile_grouped" -> ((s, dir) =>
      // the per-key p50/p90/p99: the same constant-state histogram
      // pipeline, every stage keyed by the group
      Sketch.histogramQuantiles(events(s, dir), "value", 256,
          Seq(0.5, 0.9, 0.99), groupCols = Seq("event_type"))
        .select(col("event_type"), col("q"),
          round(col("quantile"), 6).as("quantile"))
        .orderBy("event_type", "q")),
    "text_inverted_index" -> ((s, dir) =>
      // retrieval-index build: posting lists capped BEFORE collecting
      // (keyed row_number), so no token ever aggregates more than
      // maxPostings doc ids — boilerplate tokens can't flood a group
      TextAnalysis.invertedIndex(documents(s, dir), "doc_id", "text",
          maxPostings = 20)
        .orderBy("token")),
    "grouped_topk" -> ((s, dir) =>
      // top-5 events by value per type WITHOUT a window sort: the
      // bounded-heap aggregate shuffles <= k rows per type per
      // partition (the plan-shape spec pins no Window operator)
      Grouped.topKPerGroup(
          events(s, dir).filter(col("value").isNotNull),
          Seq("event_type"), "value", "event_id", k = 5)
        .orderBy("event_type", "rank")),
    "ts_retention" -> ((s, dir) => {
      // cohort retention: users grouped by first-seen week, counted
      // in each later week they return — two user-keyed aggregates
      // plus one co-partitioned user join, nothing driver-sized
      val ev = events(s, dir)
        .select(col("user_id"),
          floor(col("ts").cast("long") / 604800L).as("__wk"))
      val cohort = ev.groupBy("user_id")
        .agg(min(col("__wk")).as("cohort_week"))
      ev.distinct()
        .join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("__wk") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),
    "layout_skip_stats" -> ((s, dir) => {
      // the Z-order payoff, quantified: 64 files per layout, same
      // data, same 16×16 predicate square. Linear-on-x keeps y
      // full-width in every file (y never prunes); the Morton tiling
      // keeps BOTH tight, so files_read/rows_scanned collapse while
      // rows_matched (the invariant) stays identical.
      val ev = events(s, dir)
      val x = pmod(col("user_id"), lit(256L))
      val y = pmod(col("event_id"), lit(256L))
      val base = ev.select(x.as("__x"), y.as("__y"),
        graft.pipeline.Layout.zValue(x, y, 8).as("__z"))
      val lin = base.withColumn("__file", floor(col("__x") / 4))
      val zo = base.withColumn("__file", shiftright(col("__z"), 10))
      def stats(df: DataFrame, tag: String) =
        graft.pipeline.Layout.skipStats(df, "__file", "__x", "__y",
            32, 47, 64, 79)
          .select(lit(tag).as("layout"), col("n_files"), col("files_read"),
            col("rows_scanned"), col("rows_matched"))
      stats(lin, "linear").unionByName(stats(zo, "zorder"))
        .orderBy("layout")
    }),
    "layout_zorder" -> ((s, dir) => {
      // 8-bit x/y interleaved to a 16-bit Morton z; the top 6 bits
      // tile the plane into 64 "files" — each tile's extents show
      // BOTH dimensions stay tight, the property that makes parquet
      // footer pruning work on either predicate after a z-order write
      val ev = events(s, dir)
      val x = pmod(col("user_id"), lit(256L))
      val y = pmod(col("event_id"), lit(256L))
      ev.select(graft.pipeline.Layout.zValue(x, y, 8).as("__z"),
          x.as("__x"), y.as("__y"))
        .groupBy(shiftright(col("__z"), 10).as("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("__x")).as("min_x"), max(col("__x")).as("max_x"),
          min(col("__y")).as("min_y"), max(col("__y")).as("max_y"))
        .orderBy("tile")
    }),
    "ts_ewma" -> ((s, dir) =>
      graft.timeseries.TimeSeriesOps.ewma(
          events(s, dir), keys = Seq("user_id"), t = "ts", v = "value",
          alpha = 0.2, lookback = 50, orderCols = Seq("event_id"))
        .select(col("event_id"), round(col("ewma"), 4).as("ewma"))
        .orderBy("event_id")),
    "ts_xcorr" -> ((s, dir) => {
      // lagged cross-correlation: does the error rate lead the
      // purchase rate? Hourly counts per type, then Pearson corr of
      // (errors at h, purchases at h+lag) for lags 0..6 — corr over
      // co-observed hours (inner join; absent hours are missing, not 0)
      val hourly = events(s, dir)
        .groupBy(floor(unix_timestamp(col("ts")) / 3600L).cast("long").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val err = hourly.filter(col("event_type") === "error")
        .select(col("h"), col("n").as("n_err"))
      val pur = hourly.filter(col("event_type") === "purchase")
        .select(col("h").as("h2"), col("n").as("n_pur"))
      val lags = s.range(0, 7).select(col("id").as("lag"))
      err.crossJoin(broadcast(lags))
        .join(pur, col("h") + col("lag") === col("h2"))
        .groupBy(col("lag"))
        .agg(round(corr(col("n_err"), col("n_pur")), 6).as("xcorr"),
          count(lit(1)).as("n_hours"))
        .orderBy("lag")
    }),
    "ts_gap_stats" -> ((s, dir) =>
      // 4-dp rounding happens in exact INTEGER micro space — double
      // round() hits half-ulp ties the two engines split differently
      // (71.91035 s → 71.9104 vs 71.9103 at sf0.1); `(us+50) DIV 100`
      // is the same half-up integer on both. avg folds the division
      // into one integer expression: ⌊sum/(100n) + ½⌋ =
      // (2·sum + 100·n) DIV (200·n).
      graft.timeseries.TimeSeriesOps.gapStats(
          events(s, dir), keys = Seq("user_id"), t = "ts",
          orderCols = Seq("event_id"))
        .select(col("user_id"), col("n_gaps"),
          (expr("(sum_gap_us + 50) DIV 100") / lit(10000.0)).as("sum_gap_s"),
          (expr("(2 * sum_gap_us + 100 * n_gaps) DIV (200 * n_gaps)")
            / lit(10000.0)).as("avg_gap_s"),
          (expr("(min_gap_us + 50) DIV 100") / lit(10000.0)).as("min_gap_s"),
          (expr("(max_gap_us + 50) DIV 100") / lit(10000.0)).as("max_gap_s"))
        .orderBy("user_id")),
    "ts_rolling" -> ((s, dir) =>
      graft.timeseries.TimeSeriesOps.rollingStats(
          events(s, dir), keys = Seq("user_id"), t = "ts", v = "value",
          windowSecs = 3600L, carry = Seq("event_id"))
        .select(col("event_id"), col("roll_n").cast("long").as("roll_n"),
          round(col("roll_sum"), 4).as("roll_sum"),
          round(col("roll_avg"), 6).as("roll_avg"),
          col("roll_min"), col("roll_max"))
        .orderBy("event_id")),
    "ts_decompose" -> ((s, dir) =>
      // classical additive decomposition per event type: ±12 h centered
      // trend, hour-of-day seasonal profile, residual anomaly channel
      graft.timeseries.TimeSeriesOps.decompose(
          events(s, dir).filter(col("value").isNotNull),
          keys = Seq("event_type"), t = "ts", v = "value",
          halfWindowSecs = 43200L)
        .select(col("event_id"), col("trend"), col("seasonal"),
          col("residual"))
        .orderBy("event_id")),
    "ts_sessionize" -> ((s, dir) =>
      graft.timeseries.TimeSeriesOps.sessionize(
          events(s, dir), keys = Seq("user_id"), t = "ts",
          gapSecs = 3600.0, orderCols = Seq("event_id"))
        .select(col("event_id"), col("session_id"))
        .orderBy("event_id")),
    "ts_scd2" -> ((s, dir) => {
      // Type-2 slowly-changing-dimension build: per-user "tier"
      // (value quantized to 50-wide bands) versioned over event time —
      // consecutive equal tiers collapse into one version carrying its
      // validity interval [valid_from, valid_to); open interval =
      // current version
      val tiered = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 50).cast("long").as("tier"))
      graft.timeseries.TimeSeriesOps.scd2History(tiered,
          keys = Seq("user_id"), t = "ts", attrs = Seq("tier"),
          orderCols = Seq("event_id"))
        .select(col("user_id"), col("tier"),
          expr("unix_micros(valid_from) DIV 1000").as("valid_from_ms"),
          expr("unix_micros(valid_to) DIV 1000").as("valid_to_ms"),
          col("is_current"))
        .orderBy("user_id", "valid_from_ms", "tier")
    }),
    "ts_cusum" -> ((s, dir) =>
      // two-sided CUSUM drift detection per event_type series; the
      // windowed closed form (running sum minus its running minimum)
      // replaces the sequential max(0, ...) recursion — rows where
      // either side's statistic exceeds the threshold. 4 dp rounding
      // on OUTPUT AND FILTER: both engines compare identically
      // rounded values, so borderline membership cannot diverge on
      // float summation-order noise
      graft.timeseries.TimeSeriesOps.cusumChangepoints(
          events(s, dir), keys = Seq("event_type"), t = "ts", v = "value",
          slack = 0.25, threshold = 3.0, orderCols = Seq("event_id"))
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 1000").as("ts_ms"),
          col("value"), col("s_pos"), col("s_neg"))
        .orderBy("event_type", "ts_ms")),
    "ts_ohlc" -> ((s, dir) =>
      // OHLC bars: first/max/min/last NON-NULL value per (event_type,
      // 6 h bucket) under the total (ts, event_id) order, so tied
      // timestamps stay deterministic
      graft.timeseries.Resample.ohlc(
          events(s, dir), "ts", "value", widthSecs = 21600L,
          keys = Seq("event_type"), orderCols = Seq("event_id"))
        .select(col("event_type"), col("bucket_start_s"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
        .orderBy("event_type", "bucket_start_s")),
    "ts_resample" -> ((s, dir) =>
      graft.timeseries.Resample.resampleMean(
          seeded(events(s, dir)).transform(d => QcFlags.applyFlags(d)),
          "ts", "value2", widthSecs = 21600L) // 6h grid over the CLEAN series
        .select(col("bucket_start_s"),
          round(col("v_mean"), 6).as("v_mean"),
          col("v_min"), col("v_max"), col("n"))
        .orderBy("bucket_start_s")),
    "ts_resample_dense" -> ((s, dir) =>
      graft.timeseries.Resample.resampleDense(
          events(s, dir).filter(col("event_type") === "error"),
          "ts", "value", widthSecs = 3600L) // sparse series → empty buckets appear
        .select(col("bucket_start_s"),
          round(col("v_mean"), 6).as("v_mean"), col("n"))
        .orderBy("bucket_start_s")),
    "ts_ffill" -> ((s, dir) =>
      graft.timeseries.Resample.ffill(
          seeded(events(s, dir)).transform(d => QcFlags.applyFlags(d)),
          "ts", "value2", orderCols = Seq("event_id"),
          keys = Seq("user_id"))
        .select(col("event_id"), col("v_ffill"))
        .orderBy("event_id")),
    "ts_interp" -> ((s, dir) =>
      graft.timeseries.Resample.interpolateLinear(
          seeded(events(s, dir)).transform(d => QcFlags.applyFlags(d)),
          "ts", "value2", keys = Seq("user_id"), orderCols = Seq("event_id"))
        .select(col("event_id"), round(col("v_interp"), 6).as("v_interp"))
        .orderBy("event_id")),
    "ts_rangejoin" -> ((s, dir) => {
      import graft.timeseries.TimeSeriesOps
      val e = events(s, dir)
      val sess = TimeSeriesOps.sessionStats(
        TimeSeriesOps.sessionize(e, Seq("user_id"), "ts", 3600.0, Seq("event_id")),
        Seq("user_id"), "ts")
        .select("user_id", "session_id", "t_start", "t_end")
      val errors = e.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      TimeSeriesOps.rangeJoin(errors, sess, "ts", "t_start", "t_end",
          keys = Seq("user_id"))
        .select(col("event_id"), col("session_id"))
        .orderBy("event_id", "session_id")
    }),

    // --- rolling auto-QC detectors (SURVEY §7.5) ---------------------
    "auto_spike" -> ((s, dir) => {
      val flagged = QcFlags.addFlags(events(s, dir), Seq("value"))
      QcAuto.flagSpikes(flagged, "value", Seq("ts", "event_id"),
          bucket = to_date(col("ts")), halfWindow = 12, z = 3.0)
        .filter(col("value_qcflag") === ManualFlag)
        .select(col("event_id")).orderBy("event_id")
    }),
    "auto_flatline" -> ((s, dir) => {
      val v3 = events(s, dir).withColumn("v3",
        when(pmod(col("event_id"), lit(50)) < 6, lit(77.0)).otherwise(col("value")))
      val flagged = QcFlags.addFlags(v3, Seq("v3"))
      QcAuto.flagFlatlines(flagged, "v3", Seq("ts", "event_id"),
          bucket = to_date(col("ts")), minRun = 4)
        .filter(col("v3_qcflag") === ManualFlag)
        .select(col("event_id")).orderBy("event_id")
    }),
    "auto_step" -> ((s, dir) => {
      // plant a +50 level shift at noon of every day, detect the
      // boundary rows where leading vs trailing 12-row means diverge
      val v3 = events(s, dir).withColumn("v3",
        col("value") + when(hour(col("ts")) >= 12, lit(50.0)).otherwise(lit(0.0)))
      val flagged = QcFlags.addFlags(v3, Seq("v3"))
      QcAuto.flagSteps(flagged, "v3", Seq("ts", "event_id"),
          bucket = to_date(col("ts")), halfWindow = 12, minShift = 30.0)
        .filter(col("v3_qcflag") === ManualFlag)
        .select(col("event_id")).orderBy("event_id")
    }),
    "auto_mad" -> ((s, dir) => {
      // plant heavy-tail contamination (every 97th event +500) — the
      // base synthetic is uniform, whose max modified z is ~1.3
      val ev = events(s, dir).withColumn("v_mad",
        col("value") + when(pmod(col("event_id"), lit(97)) === 0, 500.0)
          .otherwise(0.0))
      val flagged = QcFlags.addFlags(ev, Seq("v_mad"))
      QcAuto.flagMadOutliers(flagged, "v_mad", col("event_type"))
        .filter(col("v_mad_qcflag") === ManualFlag)
        .select(col("event_id")).orderBy("event_id")
    }),
    "auto_seasonal" -> ((s, dir) => {
      // plant +2000 on every 97th event: the diurnal profile absorbs
      // the rhythm, the residual z flags only the plant (uniform base
      // keeps normal z <= ~1, planted z ~ 8 — both far from 3.0)
      val ev = events(s, dir).withColumn("v_seas",
        col("value") + when(pmod(col("event_id"), lit(97)) === 0, 2000.0)
          .otherwise(0.0))
      val flagged = QcFlags.addFlags(ev, Seq("v_seas"))
      QcAuto.flagSeasonalResiduals(flagged, "v_seas", "ts",
          col("event_type"))
        .filter(col("v_seas_qcflag") === ManualFlag)
        .select(col("event_id")).orderBy("event_id")
    }),
    "auto_range" -> ((s, dir) => {
      val flagged = QcFlags.addFlags(events(s, dir), Seq("value"))
      QcAuto.flagRange(flagged, "value", 10.0, 400.0)
        .filter(col("value_qcflag") === ManualFlag)
        .select(col("event_id")).orderBy("event_id")
    }),
    "plot_m4" -> ((s, dir) =>
      // weekly buckets per event_type: each bucket keeps only the rows
      // carrying its min/max value and first/last time
      QcPlotFeed.m4Downsample(events(s, dir), "ts", "value",
          widthSecs = 604800L, keys = Seq("event_type"))
        .select(col("event_id")).orderBy("event_id")),
    "plot_tz_labels" -> ((s, dir) =>
      // display-timezone label rendering (tz_user): UTC store → user's
      // named zone, DST-correct via the IANA rules on both engines
      QcPlotFeed.windowLabels(events(s, dir), "ts", "America/New_York")
        .select(col("event_id"), col("t_label")).orderBy("event_id")),
    "sql_api" -> ((s, dir) => {
      // the pure-SQL surface: native graft expressions resolved inside
      // spark.sql after GraftExtensions registration — what a SQL-only
      // user of the engine runs
      graft.GraftExtensions.register(s)
      documents(s, dir).createOrReplaceTempView("graft_docs")
      s.sql("""
        SELECT doc_id,
          CAST(size(char_ngrams(concat(' ',
            trim(lower(regexp_replace(text, '[^\\p{L}]+', ' '))), ' '), 3))
            AS BIGINT) AS n_grams,
          CAST(size(token_set(
            CASE WHEN length(trim(text)) = 0 THEN array()
                 ELSE split(trim(text), '\\s+') END)) AS BIGINT)
            AS n_distinct_tokens
        FROM graft_docs ORDER BY doc_id""")
    }),
    "u3_pivot" -> ((s, dir) =>
      // pivot with an EXPLICIT value list: no collect-distinct
      // pre-job, the plan is a single hash aggregate with one
      // conditional-count column per type — wide-format feature
      // extraction at fact-table scale
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .select(col("user_id"), col("click"), col("error"),
          col("purchase"), col("signup"), col("view"))
        .orderBy("user_id")),
    "a1_multi" -> ((s, dir) =>
      QcProgress.summary(
        QcFlags.addFlags(withValue2(events(s, dir)), Seq("value", "value2")))
        .orderBy("variable")),

    // --- U / S operators ---------------------------------------------
    "u1_union" -> ((s, dir) =>
      QcPlotFeed.rawCleanUnion(seeded(events(s, dir)))
        .select(col("event_id"), col("panel"), col("value2"))
        .orderBy("event_id", "panel")),
    "u2_melt" -> ((s, dir) =>
      QcPlotFeed.meltVars(
          QcFlags.addFlags(withValue2(events(s, dir)), Seq("value", "value2")),
          idCols = Seq("event_id"))
        .withColumn("value",
          when(isnan(col("value")), lit(null)).otherwise(col("value")))
        .orderBy("event_id", "variable")),
    "s3_iso_utc" -> ((s, dir) =>
      QcExport.isoUtc(events(s, dir), "ts")
        .select(col("event_id"), col("ts")).orderBy("event_id")),

    // --- flagship end-to-end -----------------------------------------
    "qc_e2e" -> ((s, dir) => {
      val flagged = QcFlags.addFlags(withValue2(events(s, dir)), Seq("value2"))
      val swept = QcActions.approveUnflagged(
        QcActions.flagSelected(flagged, "value2", col("value2") > 150),
        "value2", lit(true))
      QcFlags.applyFlags(swept)
        .groupBy(col("event_type"))
        .agg(count(col("value2")).as("n_clean"),
          round(avg(col("value2")), 4).as("avg_clean"))
        .orderBy("event_type")
    }),

    // --- LLM pipeline flagship: filter → dedup → per-lang stats ------
    "pipeline_e2e" -> ((s, dir) => {
      val docs = documents(s, dir)
      val scored = docs
        .withColumn("n_tokens",
          TextAnalysis.nTokens(col("text")).cast("long"))
        .withColumn("stop_ratio",
          TextAnalysis.stopwordRatio(col("text"), Seq("the", "a")))
      val kept = scored.filter(col("n_tokens") >= 20 && col("stop_ratio") > 0)
      val deduped = Dedup.exactKeepFirst(kept, Seq("text"), "doc_id")
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("lang")
    }),

    "pipeline_curate" -> ((s, dir) => {
      // the full curation chain over the text_pii fixture: scrub →
      // token-length filter → exact dedup → decontaminate against the
      // doc_id%50 benchmark slice (organic overlap only) → md5 split →
      // per-(split, lang) corpus accounting
      val scrub = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Curation.scrubPii(plantPii(col("text"))).as("text"))
      val kept = scrub
        .withColumn("n_tokens", TextAnalysis.nTokens(col("text")).cast("long"))
        .filter(col("n_tokens") >= 20)
      val deduped = Dedup.exactKeepFirst(kept, Seq("text"), "doc_id")
      val bench = scrub.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"), col("text"))
      val corpus = deduped.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val clean = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      Curation.withSplit(clean, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("split", "lang")
    }),

    // --- LLM pipeline: dedup -----------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactCanonical(documents(s, dir), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_dups")).orderBy("doc_id")),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minHashNearDupPairs(nearDupFixture(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")),
    "dedup_minhash_prune" -> ((s, dir) => {
      // the ACTION for the MinHash family: LSH pairs → components →
      // keep the LONGEST member per cluster (originals beat their
      // truncated copies; tie → min id), singletons survive untouched
      val fx = nearDupFixture(s, dir)
      Dedup.keepBestPerCluster(
          fx.withColumn("q", length(col("text")).cast("long")),
          Dedup.minHashNearDupPairs(fx, "doc_id", "text",
              shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5)
            .select(col("id_a"), col("id_b")),
          "doc_id", "q")
        .orderBy("id")
    }),
    "dedup_spans" -> ((s, dir) =>
      // truncated copies share nearly all their 8-token spans with the
      // originals
      Dedup.sharedSpanPairs(nearDupFixture(s, dir), "doc_id", "text",
          spanTokens = 8, minShared = 3)
        .select(col("id_a"), col("id_b"), col("n_shared"))
        .orderBy("id_a", "id_b")),
    "dedup_strip_spans" -> ((s, dir) =>
      // the Lee et al. removal ACTION over the same planted corpus:
      // the truncated copies (+1e6 ids, so never owners) lose every
      // 8-token span they share with their originals; everything else
      // passes through whitespace-normalized with dup_tokens = 0
      Dedup.stripDuplicateSpans(nearDupFixture(s, dir), "doc_id", "text",
          spanTokens = 8, minDf = 2)
        .orderBy("doc_id")),
    "dedup_top_spans" -> ((s, dir) =>
      // boilerplate discovery over the planted corpus: the passages
      // every truncated copy shares with its original surface as the
      // highest-reach spans
      Dedup.topDuplicatedSpans(nearDupFixture(s, dir), "doc_id", "text",
          spanTokens = 8, minDf = 2, k = 20)),
    "pipeline_curate2" -> ((s, dir) => {
      // curation v2, composed from this round's operators on the RAW
      // corpus: exact-substring STRIP first, then the quality rule
      // evaluated over the STRIPPED text, rolled into the per-source
      // attrition report — what each stage costs every source, in
      // docs and tokens. All exact integers but the one z-threshold
      // compare (the same documented boundary class as its label
      // rule).
      val d = documents(s, dir)
      Dedup.stripDuplicateSpans(d.select(col("doc_id"), col("text")),
          "doc_id", "text", spanTokens = 8, minDf = 2)
        .withColumn("__keep",
          TextAnalysis.qualityZ(col("stripped_text"), Seq("the", "a")) > 0.75)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_in"),
          sum(when(col("__keep"), 1L).otherwise(0L)).as("docs_kept"),
          sum(col("total_tokens")).cast("long").as("tokens_in"),
          sum(col("total_tokens") - col("dup_tokens")).cast("long")
            .as("tokens_after_strip"),
          sum(when(col("__keep"),
              col("total_tokens") - col("dup_tokens")).otherwise(0L))
            .cast("long").as("tokens_kept"))
        .orderBy("source")
    }),
    "dedup_span_profile" -> ((s, dir) => {
      // per-source duplicated-token telemetry (the dashboard a corpus
      // build reads before weighting sources): the strip output rolls
      // up by source, with the planted copies as their own 'planted'
      // source so organic vs injected duplication separates. The
      // dup_frac division is long/long through identical doubles —
      // exact and engine-identical (sums ≪ 2^53).
      val d = documents(s, dir)
      val srcMap = d.select(col("doc_id"), col("source"))
        .unionByName(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("planted").as("source")))
      Dedup.stripDuplicateSpans(nearDupFixture(s, dir), "doc_id", "text",
          spanTokens = 8, minDf = 2)
        .join(srcMap, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("total_tokens")).as("tokens"),
          sum(col("dup_tokens")).as("dup_tokens"))
        .withColumn("dup_frac",
          col("dup_tokens").cast("double") / col("tokens").cast("double"))
        .orderBy("source")
    }),
    "dedup_clusters" -> ((s, dir) =>
      // pairs → connected components → canonical (min-id) cluster label
      Dedup.nearDupClusters(
          Dedup.sharedSpanPairs(nearDupFixture(s, dir), "doc_id", "text",
            spanTokens = 8, minShared = 3))
        .orderBy("id")),
    "dedup_keep_best" -> ((s, dir) => {
      // quality-aware canonical: within each near-dup cluster keep the
      // LONGEST member (the planted copies are truncated originals, so
      // the original wins its cluster); singletons survive untouched
      val fx = nearDupFixture(s, dir)
      Dedup.keepBestPerCluster(
          fx.withColumn("q", length(col("text")).cast("long")),
          Dedup.sharedSpanPairs(fx, "doc_id", "text",
            spanTokens = 8, minShared = 3),
          "doc_id", "q")
        .orderBy("id")
    }),
    "er_match" -> ((s, dir) => {
      // entity resolution: every %7==1 customer re-appears with two
      // middle name chars swapped; blocking on the (unchanged) last-4
      // suffix pairs each typo with its original (edit distance ≤ 2)
      // without ever comparing across blocks
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val typo = cust.filter(col("id") % 7 === 1)
        .select((col("id") + 1000000L).as("id"),
          concat(substring(col("name"), 1, 11),
            substring(col("name"), 13, 1), substring(col("name"), 12, 1),
            substring(col("name"), 14, 5)).as("name"))
      Dedup.blockedFuzzyPairs(cust.unionByName(typo), "id", "name",
          substring(col("name"), 15, 4), maxDist = 2)
        .orderBy("id_a", "id_b")
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.withSimHash(documents(s, dir), "text")
        .select(col("doc_id"), col("simhash")).orderBy("doc_id")),
    "dedup_embed" -> ((s, dir) => {
      // Near-dups planted like dedup_minhash: vecs 0-24 re-appear with a
      // +0.01 component shift (cosine ≈ 0.997 on these unit vectors; the
      // natural corpus has no pair above 0.95). LSH-bucketed candidates
      // with exact cosine verification — never all-pairs.
      val dbl = (c: Column) => c.cast("array<double>")
      val e = embeddings(s, dir)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
      val planted = embeddings(s, dir).filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(dbl(col("embedding")), x => x + lit(0.01)).as("embedding"))
      Dedup.embeddingNearDupPairs(e.unionByName(planted), "vec_id",
          "embedding", threshold = 0.99)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_prefix" -> ((s, dir) => {
      // EXACT jaccard-threshold self-join over the whole (reduced)
      // corpus — no probe restriction: prefix filtering generates the
      // candidates. Mirrors planted with the first word dropped.
      Dedup.prefixJaccardPairs(prefixCorpus(s, dir), "doc_id", "text",
          threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "dedup_prefix_collapsed" -> ((s, dir) => {
      // the dedup_prefix corpus PLUS a planted exact-duplicate flood
      // (3 extra byte-identical copies of every %35 doc): the collapse
      // folds each flood to its one representative BEFORE the join, so
      // the flood contributes group size, not m²/2 pairs. Replica id
      // offsets are spaced 1e9 apart (doc ids are < 1e4 at the shipped
      // SFs, < 1e9 under any replica corpus) so synthesized ids can
      // never collide across offset classes
      val d = documents(s, dir)
      val base = d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(14)) === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            regexp_replace(col("text"), "^\\s*\\S+\\s*", "").as("text")))
      val flood = (1 to 3).map(i =>
        d.filter(pmod(col("doc_id"), lit(35)) === 0)
          .select((col("doc_id") + (i + 1) * 1000000000L).as("doc_id"),
            col("text"))).reduce(_ unionByName _)
      Dedup.prefixJaccardPairsCollapsed(base.unionByName(flood),
          "doc_id", "text", threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "dedup_ngram" -> ((s, dir) => {
      val docs = documents(s, dir)
      // token SETS pre-hashed to sorted longs (native tokenSet expr):
      // the pairwise intersect is an O(n+m) merge over longs instead of
      // per-pair hash sets over strings (same jaccard value; collisions
      // are negligible and would equally affect num and denom)
      val toks = (c: Column) => graft.functions.tokenSet(TextAnalysis.tokens(c))
      val a = docs.filter(col("doc_id") < 200)
        .select(col("doc_id").as("id_a"), toks(col("text")).as("__ta"))
      val b = docs.select(col("doc_id").as("id_b"), toks(col("text")).as("__tb"))
      // size-ratio prefilter: jaccard >= t implies |small| >= t * |large|,
      // so this cheap int comparison prunes pairs BEFORE the set
      // intersection without changing the result set (oracle-neutral)
      a.join(b, col("id_a") < col("id_b") &&
          least(size(col("__ta")), size(col("__tb"))).cast("double") >=
            lit(0.9) * greatest(size(col("__ta")), size(col("__tb"))))
        .withColumn("jaccard", Dedup.jaccardSorted(col("__ta"), col("__tb")))
        .filter(col("jaccard") >= 0.9)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // --- LLM pipeline: similarity ------------------------------------
    "sim_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteTopKWindow(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"))
        .orderBy("probe_id", "rank")
    }),
    "sim_radius" -> ((s, dir) => {
      // range search: ALL neighbors with 6dp-rounded cosine >= 0.2 for
      // the first 10 vectors — one broadcast-probe corpus scan, output
      // pair-sized; cosine itself stays out of the result (float) and
      // the pair set is exact after rounding
      val emb = embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("embedding"))
      Similarity.radiusSearch(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", tau = 0.2)
        .select(col("probe_id"), col("nbr_id"))
        .orderBy("probe_id", "nbr_id")
    }),
    "sim_topk_q8" -> ((s, dir) => {
      // retrieval over the 4×-compressed int8 store: quantize →
      // dequantize → exact top-k. Proves the quantized path preserves
      // ranking end-to-end (same output contract as sim_topk).
      val deq = Vec.withInt8(
          embeddings(s, dir)
            .select(col("vec_id"), col("embedding").cast("array<double>")
              .as("embedding")),
          "embedding")
        .select(col("vec_id"),
          Vec.dequantizeInt8(col("int8_q"), col("int8_scale"))
            .as("embedding"))
      Similarity.bruteTopKWindow(deq, deq.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"))
        .orderBy("probe_id", "rank")
    }),
    "sim_topk_agg" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"))
        .orderBy("probe_id", "rank")
    }),
    "sim_ann" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      // 6-bit tables: bucket occupancy stays useful at the test corpus
      // sizes (hundreds-thousands of vectors); production corpora raise
      // bitsPerTable with corpus size.
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, dim = 64,
          tables = 8, bitsPerTable = 6)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"))
        .orderBy("probe_id", "rank")
    }),
    "sim_ivf_pruned" -> ((s, dir) => {
      // the persisted IVF layout: write corpus partitionBy(cell), probe
      // via a partition-IN filter — must return exactly sim_ivf's rows
      val emb = embeddings(s, dir)
      val path = scratch("ivf_index")
      Similarity.ivfWriteIndex(emb, "vec_id", "embedding", path, nlist = 16)
      Similarity.ivfProbeIndex(s, path, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, nprobe = 4)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"))
        .orderBy("probe_id", "rank")
    }),
    "sim_ivf" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, nlist = 16, nprobe = 4)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"))
        .orderBy("probe_id", "rank")
    }),
    "embed_norm" -> ((s, dir) =>
      embeddings(s, dir)
        .select(col("vec_id"),
          round(Vec.norm(col("embedding")), 6).as("norm"))
        .orderBy("vec_id")),
    "embed_whiten" -> ((s, dir) =>
      // per-dimension standardization (whitening): dim-sized stats
      // broadcast back over the exploded corpus; 6-dp rounds on mu and
      // sigma BEFORE z keep the result engine-exact
      Vec.whiten(embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), col("i").cast("long").as("i"), col("z"))
        .orderBy("vec_id", "i")),
    "embed_pca" -> ((s, dir) =>
      // top principal component by power iteration: one distributed
      // covariance pass, then a model-sized (d^2 doubles) driver loop
      // whose every step is 6-dp rounded so the oracle replays it
      Vec.topComponent(embeddings(s, dir), "vec_id", "embedding",
          iters = 8)
        .orderBy("dim")),

    // --- LLM pipeline: text analysis ---------------------------------
    "text_tokens" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"),
          TextAnalysis.stopwordRatio(col("text"), Seq("the", "a"))
            .as("stopword_ratio"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.qualityScore(col("text"), Seq("the", "a")), 6)
            .as("quality"))
        .orderBy("doc_id")),
    "text_bpe_tokens" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id")),
    "text_langid" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "text_langid_ngram" -> ((s, dir) =>
      TextAnalysis.langIdNgramProfile(documents(s, dir),
          "doc_id", "text", "lang", n = 3, topK = 300)
        .orderBy("doc_id")),
    "text_winnow" -> ((s, dir) =>
      // rows-only (FNV k-gram family has no DuckDB twin); the winnowing
      // guarantee + density are locked by WinnowExprSpec
      documents(s, dir)
        .select(col("doc_id"),
          size(graft.functions.winnow(
            lower(regexp_replace(col("text"), "\\s+", " ")), 5, 4))
            .cast("long").as("n_fingerprints"))
        .orderBy("doc_id")),
    "cur_rollup" -> ((s, dir) =>
      // grand-total / per-lang / per-(lang, source) in ONE pass: the
      // rollup expands grouping sets inside a single hash aggregate —
      // no union of three scans. grouping() flags exported explicitly
      // (bit order of grouping_id differs across engines).
      documents(s, dir)
        .select(col("lang"), col("source"),
          TextAnalysis.nTokens(col("text")).as("nt"))
        .rollup("lang", "source")
        .agg(grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("sum_tokens"))
        .select(col("lang"), col("source"), col("g_lang"), col("g_source"),
          col("n_docs"), col("sum_tokens"))
        .orderBy("g_lang", "g_source", "lang", "source")),
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("entropy_bits"), 6).as("entropy_bits"))
        .orderBy("doc_id")),
    "text_corpus_stats" -> ((s, dir) =>
      documents(s, dir)
        .select(col("lang"), TextAnalysis.nTokens(col("text")).as("nt"),
          col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("sum_tokens"),
          round(avg(col("nt")), 4).as("avg_tokens"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")),
    "text_fingerprint" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    "text_perplexity" -> ((s, dir) =>
      // corpus-self-trained char-bigram LM cross-entropy (CCNet-style
      // perplexity quality signal); model is vocabulary-sized and
      // broadcast — two corpus scans, zero corpus-sized shuffles
      TextAnalysis.bigramCrossEntropy(documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("xent_bits"), 6).as("xent_bits"))
        .orderBy("doc_id")),
    "text_chunks" -> ((s, dir) =>
      // RAG token-window chunking (32-token windows, stride 24):
      // narrow scan-bound map, output grows ~size/stride ×
      TextAnalysis.chunkTokens(documents(s, dir), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")),
    "text_line_dedup" -> ((s, dir) => {
      // CORPUS-WIDE line dedup (CCNet global pass): every %5==0 doc
      // carries the same planted footer; with maxDup=10 the footer
      // (thousands of copies) is stripped everywhere while each doc's
      // unique body line survives. clean text is md5'd to keep the
      // compare row-sized.
      val planted = documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit("\nsubscribe to our newsletter")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.corpusLineDedup(planted, "doc_id", "text", maxDup = 10)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id")
    }),
    "text_perplexity_xfer" -> ((s, dir) => {
      // transfer scoring (the real CCNet setup): LM trained on the
      // even-id half scores the odd-id half; unseen bigrams take the
      // add-one floor and are counted as the oov_bigrams OOD signal
      val train = documents(s, dir).filter(col("doc_id") % 2 === 0)
      val score = documents(s, dir).filter(col("doc_id") % 2 === 1)
      TextAnalysis.bigramCrossEntropyWith(score, "doc_id", "text",
          TextAnalysis.bigramLm(train, "text"))
        .select(col("doc_id"), col("n_bigrams"), col("oov_bigrams"),
          round(col("xent_bits"), 6).as("xent_bits"))
        .orderBy("doc_id")
    }),
    "text_bpe_train" -> ((s, dir) =>
      // distributed BPE tokenizer training, 6 merge rounds; the
      // oracle replays the identical double-space replace semantics
      TextAnalysis.bpeTrain(documents(s, dir), "text", merges = 6)
        .orderBy("merge_rank")),
    "text_bpe_encode" -> ((s, dir) => {
      // tokenizer inference: the 6 trained merges ride the plan as
      // literal replace calls — encode is a scan-bound map + one
      // doc-keyed count aggregate
      val docs = documents(s, dir)
      val merges = TextAnalysis.bpeTrain(docs, "text", merges = 6)
      TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),
    "text_quality_clf" -> ((s, dir) =>
      // linear-model scoring at scale: the weights ride as literals in
      // the plan — a pure scan-bound map, the same shape a trained
      // fastText-style quality classifier runs with
      documents(s, dir)
        .select(col("doc_id"),
          round(TextAnalysis.qualityLogit(col("text"), Seq("the", "a")), 6)
            .as("clf_score"))
        .orderBy("doc_id")),
    "text_nb_clf" -> ((s, dir) =>
      // the engine TRAINS its own filter (weak supervision / rule
      // distillation): the quality heuristic's top half (linear score
      // z > 0.75 — the corpus median, so classes balance) becomes the
      // weak label, and NB over 1024 hashed token buckets learns to
      // reproduce it from tokens alone. Training is pure counting
      // (exact integers), so model and scores replay in SQL.
      nbScored(s, dir).orderBy("doc_id")),
    "text_clf_pr" -> ((s, dir) =>
      // the threshold sweep that picks the filter cutoff: quarter-logit
      // bins, cumulative TP/FP over the BIN catalog (never a global
      // document sort), exact-integer precision/recall
      TextAnalysis.classifierPrCurve(nbScored(s, dir), "nb_logit", "label",
          binsPerUnit = 4)
        .orderBy(desc("thr"))),
    "text_clf_pr_degenerate" -> ((s, dir) =>
      // the degenerate-corpus contract, cross-engine: a ZERO-POSITIVE
      // corpus (scored rows filtered to label = 0 — model still
      // trained on the full corpus) must yield rec = NULL (x/0 → NULL
      // via nullif, never NaN) while tp/fp/fn/prec stay exact — the
      // contract an unlucky partition of a 100 TB corpus hits in
      // production, proven here against DuckDB's native x/NULL
      // semantics rather than only unit-tested
      TextAnalysis.classifierPrCurve(
          nbScored(s, dir).filter(col("label") === 0), "nb_logit", "label",
          binsPerUnit = 4)
        .orderBy(desc("thr"))),
    "text_clf_auc" -> ((s, dir) =>
      // the run-over-run scalar: binned trapezoid ROC-AUC from the
      // same bin catalog
      TextAnalysis.classifierAuc(nbScored(s, dir), "nb_logit", "label",
          binsPerUnit = 4)),

    "text_len_pctl" -> ((s, dir) =>
      // exact per-lang token-length percentiles (linear interpolation,
      // matching DuckDB quantile_cont). Exact percentile buffers each
      // group's values — right for telemetry over grouped samples; at
      // full corpus scale swap in approx_percentile (t-digest, bounded
      // memory), which no exact oracle can check.
      documents(s, dir)
        .select(col("lang"),
          TextAnalysis.nTokens(col("text")).cast("double").as("nt"))
        .groupBy("lang")
        .agg(
          round(expr("percentile(nt, 0.5)"), 6).as("p50"),
          round(expr("percentile(nt, 0.9)"), 6).as("p90"),
          round(expr("percentile(nt, 0.99)"), 6).as("p99"))
        .orderBy("lang")),
    "text_repetition" -> ((s, dir) => {
      // corpus is single-line; plant multi-line docs (dup full line for
      // doc_id%3=0, distinct 5-token second line for %3=1)
      val docs = documents(s, dir)
      val toks = TextAnalysis.tokens(col("text"))
      val mt = when(pmod(col("doc_id"), lit(3)) === 0,
          concat_ws("\n", col("text"), col("text")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat_ws("\n", col("text"),
            concat_ws(" ", slice(toks, lit(1), lit(5)))))
        .otherwise(col("text"))
      TextAnalysis.repetitionStats(
          docs.select(col("doc_id"), mt.as("text")), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_top2gram" -> ((s, dir) =>
      TextAnalysis.topNgramCharFrac(documents(s, dir), "doc_id", "text", n = 2)
        .orderBy("doc_id")),
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(documents(s, dir), "doc_id", "text", k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("doc_id", "rank")),
    "text_bm25" -> ((s, dir) =>
      // retrieval scoring: query terms ride as a literal IN filter,
      // df broadcasts, doc-length joins co-keyed — no corpus
      // self-join; scores are a fixed double expression (oracle
      // replays the identical Lucene-parameterized formula)
      TextAnalysis.bm25(documents(s, dir), "doc_id", "text",
          Seq("hash", "join", "vector"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy("doc_id")),
    "text_rouge" -> ((s, dir) => {
      // generation-eval metric: ROUGE-2 with CLIPPED multiset counts
      // between two overlapping word-slices of every 13th doc (words
      // 1-30 as the "candidate", words 11-60 as the "reference" — the
      // 20-word overlap region gives non-trivial clipped counts, and
      // any within-slice repetition exercises the clipping that
      // separates ROUGE from set containment). prec/rec/f1 are raw
      // IEEE divisions of exact integers — never rounded
      val toks = split(trim(col("text")), "\\s+")
      val pairs = documents(s, dir)
        .filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(col("doc_id"),
          array_join(slice(toks, 1, 30), " ").as("cand"),
          array_join(slice(toks, 11, 50), " ").as("ref"))
      TextAnalysis.rougeN(pairs, "doc_id", "cand", "ref", n = 2)
        .orderBy("doc_id")
    }),
    "cur_table_diff" -> ((s, dir) => {
      // snapshot reconciliation: b mutates every 11th doc, drops every
      // 13th, and re-adds every 17th under a shifted key — the diff
      // moves (key, md5) rows only, never payloads
      val a = documents(s, dir).select("doc_id", "text", "lang", "source")
      val b = a.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" changed"))).otherwise(col("text")))
        .unionByName(a.filter(pmod(col("doc_id"), lit(17)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Curation.tableDiff(a, b, Seq("doc_id"))
        .groupBy("diff_status").agg(count(lit(1)).as("n"))
        .orderBy("diff_status")
    }),
    "text_heavy_hitters" -> ((s, dir) =>
      // corpus-level document-frequency top-k (vocabulary pruning /
      // boilerplate spotting); top-k runs as TakeOrderedAndProject —
      // no global sort materializes
      TextAnalysis.docFreqTopK(documents(s, dir), "doc_id", "text", k = 50)
        .orderBy(col("df").desc, col("token"))),
    "text_sentences" -> ((s, dir) => {
      // corpus is punctuation-free; plant a sentence break + terminal
      val planted = concat(substring(col("text"), 1, 40), lit(". "),
        substring(col("text"), 41, 1000000), lit("!"))
      val (n, avg) = TextAnalysis.sentenceStats(planted)
      documents(s, dir)
        .select(col("doc_id"), n.cast("long").as("n_sentences"),
          avg.as("avg_sentence_chars"))
        .orderBy("doc_id")
    }),
    "text_c4_lines" -> ((s, dir) => {
      // plant multi-line docs: %3==0 → one of two lines ends in '.',
      // %3==1 → both lines terminal, else single unpunctuated line
      val planted = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(".\n"), col("text")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("text"), lit("!\n"), col("text"), lit("?")))
        .otherwise(col("text"))
      val (n, fracLines, fracChars) = TextAnalysis.lineQualityStats(planted)
      documents(s, dir)
        .select(col("doc_id"), n.cast("long").as("n_lines"),
          fracLines.as("frac_terminal_lines"),
          fracChars.as("frac_chars_kept"))
        .orderBy("doc_id")
    }),

    "stream_curate" -> ((s, dir) => {
      // streaming curation drained with AvailableNow; the split keys on
      // md5(text) (content, not id) so the aggregate is invariant to
      // WHICH of two identical docs the racy stream dedup keeps
      val out = graft.streaming.QcStream.streamingCurate(
        documentsStream(s, dir), "text", "ts", splitKeyCol = "text",
        minTokens = 20, watermark = "2 hours")
      // split only (not lang): at larger SFs a few identical texts span
      // languages, and which one the stream dedup keeps is racy — the
      // content-keyed split and token sums are invariant either way
      drainToTable(s, out, "append", "stream_curate")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("split")
    }),

    // --- LLM pipeline: dataset curation ------------------------------
    "cur_decontam" -> ((s, dir) => {
      val (corpus, bench) = decontamFixture(s, dir)
      Curation.contaminatedPairs(corpus, bench, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("bench_id"), col("n_matched"))
        .orderBy("doc_id", "bench_id")
    }),
    "cur_contam_report" -> ((s, dir) => {
      // per-benchmark-doc leakage audit: every bench doc appears, clean
      // ones with zeros — proves the benchmark clean, not just lists
      // the dirty rows
      val (corpus, bench) = decontamFixture(s, dir)
      Curation.contaminationReport(corpus, bench, "doc_id", "text", n = 5)
        .orderBy("bench_id")
    }),
    "cur_shuffle" -> ((s, dir) =>
      // deterministic training-order shuffle: md5(seed|id)-ranged sort
      // + pure-Catalyst zipWithIndex — same epoch order on any engine
      // or partition layout
      Curation.shuffleOrder(documents(s, dir), "doc_id", "ep0")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy("doc_id")),
    "cur_split" -> ((s, dir) =>
      Curation.withSplit(documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),
    "cur_domain_cap" -> ((s, dir) =>
      // RefinedWeb-style per-source cap: ≤ 15 docs per source by
      // deterministic md5 priority — one keyed window, engine-stable
      Curation.capPerSource(documents(s, dir), "source", "doc_id", cap = 15)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),
    "cur_pack" -> ((s, dir) => {
      val d = documents(s, dir)
        .withColumn("tokens", TextAnalysis.nTokens(col("text")).cast("long"))
      Curation.packByBudget(d, "tokens", "lang", "doc_id", 512L)
        .select(col("doc_id"), col("lang"), col("tokens"), col("bin"))
        .orderBy("doc_id")
    }),
    "cur_pack_spans" -> ((s, dir) => {
      // sequence packing with the trainer-facing layout: each doc's
      // half-open token span inside its (lang, bin) packed sequence —
      // the offsets that drive cross-doc attention masking
      val d = documents(s, dir)
        .withColumn("tokens", TextAnalysis.nTokens(col("text")).cast("long"))
      Curation.packSpans(d, "tokens", "lang", "doc_id", 512L)
        .select(col("doc_id"), col("lang"), col("tokens"), col("bin"),
          col("tok_start"), col("tok_end"))
        .orderBy("doc_id")
    }),
    "cur_sample" -> ((s, dir) =>
      Curation.deterministicSample(documents(s, dir), "doc_id", 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),
    "cur_group_sample" -> ((s, dir) =>
      // EXACTLY 20 docs per language, md5-rank deterministic — the
      // fixed-count twin of cur_stratified's fixed-rate sampling
      Curation.groupSample(documents(s, dir), "lang", "doc_id", k = 20)
        .select(col("doc_id"), col("lang"))
        .orderBy("lang", "doc_id")),
    "cur_weighted_sample" -> ((s, dir) =>
      // derandomized Efraimidis–Spirakis: length-proportional sample
      // of 100 docs, reproducible on any engine/layout
      Curation.weightedSample(documents(s, dir), "doc_id", "n_chars", 100)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")),
    "cur_dsir" -> ((s, dir) => {
      // DSIR importance weights: target distribution = the English
      // docs, raw = the whole corpus; en-looking docs score high and
      // get picked by weight-ordered resampling downstream
      val docs = documents(s, dir)
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
    "cur_dsir_sample" -> ((s, dir) => {
      // DSIR's selection step: keep the 100 most target-like docs by
      // weight (derandomized — rounded weight desc, id tiebreak, so
      // the kept set replays on any engine; the paper's Gumbel top-k
      // is this with noise added to the key). orderBy+limit plans as
      // TakeOrderedAndProject: each partition keeps 100 rows, no
      // global sort ever materializes (the heavy-hitters shape)
      val docs = documents(s, dir)
      Curation.dsirWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(col("dsir_w").desc, col("doc_id")).limit(100)
        .select(col("doc_id"), col("dsir_w"))
        .orderBy("doc_id")
    }),
    "cur_source_report" -> ((s, dir) =>
      // per-source curation telemetry: the go/no-go dashboard a corpus
      // build reads before mixing sources
      documents(s, dir)
        .select(col("source"),
          round(TextAnalysis.qualityScore(col("text"), Seq("the", "a")), 6)
            .as("quality"),
          TextAnalysis.nTokens(col("text")).cast("long").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 6).as("avg_quality"),
          sum(when(col("quality") >= 0.8, 1L).otherwise(0L)).as("n_high"),
          sum("nt").as("sum_tokens"))
        .orderBy("source")),
    "cur_stratified" -> ((s, dir) =>
      Curation.stratifiedSample(documents(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),
    "cur_temperature" -> ((s, dir) =>
      Curation.temperatureWeights(documents(s, dir), "lang", alpha = 0.3)
        .select(col("lang"), col("n").cast("long").as("n_docs"),
          round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
          round(col("keep_rate"), 6).as("keep_rate"))
        .orderBy("lang")),
    "cur_temp_sample" -> ((s, dir) => {
      // weights → downsample, entirely on-cluster (no collect between)
      val d = documents(s, dir)
      val rates = Curation.temperatureWeights(d, "lang", alpha = 0.3)
        .select(col("lang"), col("keep_rate"))
      Curation.rateSample(d, "doc_id", "lang", rates, "keep_rate")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),
    "cur_mix_report" -> ((s, dir) =>
      Curation.temperatureMixReport(documents(s, dir), "doc_id", "lang",
          alpha = 0.3)
        .select(col("lang"), col("n_kept"),
          round(col("achieved_q"), 6).as("achieved_q"),
          round(col("target_q"), 6).as("target_q"))
        .orderBy("lang")),
    "dedup_matrix" -> ((s, dir) => {
      // corpus texts are (near-)unique at small SFs; plant a 'mirror'
      // source republishing every 7th doc (every 21st twice) so the
      // matrix has both cross-source and same-source duplicate mass
      val d = documents(s, dir)
      val m1 = d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("source", lit("mirror"))
      val m2 = d.filter(pmod(col("doc_id"), lit(21)) === 0)
        .withColumn("doc_id", col("doc_id") + 20000000L)
        .withColumn("source", lit("mirror"))
      Dedup.exactDupMatrix(d.unionByName(m1).unionByName(m2),
          "text", "source")
        .orderBy("source_a", "source_b")
    }),
    "text_pii" -> ((s, dir) => {
      // corpus is synthetic prose with no PII; plant the three classes
      val src = documents(s, dir)
        .select(col("doc_id"), plantPii(col("text")).as("text"))
      val (u, e, i) = Curation.piiCounts(col("text"))
      src.select(col("doc_id"),
          u.cast("long").as("n_urls"), e.cast("long").as("n_emails"),
          i.cast("long").as("n_ips"),
          Curation.scrubPii(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    }),
    "cur_decontam_keep" -> ((s, dir) => {
      // same fixture as cur_decontam; the left-anti wrapper proves the
      // surviving-corpus side
      val (corpus, bench) = decontamFixture(s, dir)
      Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // --- LLM pipeline: multimodal plumbing ---------------------------
    "embed_centroids" -> ((s, dir) =>
      Vec.labelCentroids(embeddings(s, dir), "embedding", "label")
        .select(col("label"), col("i").cast("long").as("i"),
          round(col("c"), 6).as("c"), col("n"))
        .orderBy("label", "i")),
    "dedup_incremental" -> ((s, dir) => {
      // batch-vs-corpus near-dup join (the daily-increment mode):
      // every 7th doc re-arrives with a one-token edit; the prefix
      // machinery pairs only cross-side, never corpus×corpus
      val corpus = documents(s, dir).select(col("doc_id"), col("text"))
      val batch = documents(s, dir).filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" v2xyz")).as("text"))
      Dedup.incrementalJaccardPairs(corpus, batch, "doc_id", "text",
          threshold = 0.8)
        // raw ratio of exact ints — identical doubles on both engines
        // (rounding would re-introduce HALF_UP/HALF_EVEN boundary risk)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_containment" -> ((s, dir) => {
      // quote/snippet detection: the first 20 words of every 9th doc,
      // re-id'd as probes, found INSIDE their source (containment 1.0
      // — a token-subset by construction) and any other doc covering
      // ≥90% of the snippet's distinct tokens; Jaccard would score
      // snippet-in-page near zero, which is exactly why the
      // asymmetric join exists
      val d = documents(s, dir)
      val probes = d.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 20), " ")
            .as("text"))
      Dedup.containmentPairs(probes,
          d.select(col("doc_id"), col("text")),
          "doc_id", "text", threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "dedup_semdedup" -> ((s, dir) => {
      // SemDeDup: k-means cells + within-cell exact cosine. Same
      // planted +0.01-shift duplicates as dedup_embed; the oracle
      // replays the identical bit-stable clustering, so the
      // within-cell pair set matches exactly. PINNED k=16
      // (targetCellSize = 0, oracle-replay mode): the adaptive-k path
      // would silently diverge from the k=16 oracle beyond ~1024 rows
      // (k_eff = ⌈n/64⌉ > 16), so the SQL-gated query pins k and the
      // adaptive/scale behavior is exercised by `dedup_semdedup_sharded`
      // (count-derived per-shard k, oracled) plus the 10× stress run.
      val dbl = (c: Column) => c.cast("array<double>")
      val e = embeddings(s, dir)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
      val planted = embeddings(s, dir).filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(dbl(col("embedding")), x => x + lit(0.01)).as("embedding"))
      Vec.semDedupPairs(e.unionByName(planted), "vec_id", "embedding",
          k = 16, iters = 2, threshold = 0.99, targetCellSize = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_semdedup_sharded" -> ((s, dir) => {
      // Hierarchical SemDeDup — the 100 TB composition: tier 1 routes
      // every vector to one of `nlist` IVF shards (md5-sampled
      // deterministic centroids, broadcast-literal assignment); tier 2
      // runs a per-shard JOINED Lloyd (centroids live in a DataFrame
      // keyed by shard — never collected, so the per-shard cluster
      // count k = ⌈shard/64⌉ is unbounded: nothing model-sized caps
      // corpus size, which was the flat path's 4096-cell ceiling);
      // pairs are enumerated within (shard, cell) only. Fully
      // deterministic: the oracle replays shard sample, shard
      // assignment, count-derived k, seed ranks, one 6-dp-rounded
      // Lloyd update, and the final cosine threshold.
      val dbl = (c: Column) => c.cast("array<double>")
      val e = embeddings(s, dir)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
      val planted = embeddings(s, dir).filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(dbl(col("embedding")), x => x + lit(0.01)).as("embedding"))
      Vec.semDedupSharded(e.unionByName(planted), "vec_id", "embedding",
          nlist = 4, iters = 2, threshold = 0.99, targetCellSize = 64,
          kMin = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "dedup_semdedup_prune" -> ((s, dir) => {
      // the SemDeDup ACTION, not just the pair list: drop the higher
      // id of every semantic near-dup pair, keep the rest — the
      // pruned-corpus output a training pipeline actually consumes.
      // Same pinned-k clustering as dedup_semdedup, so the oracle
      // replays pairs exactly and prunes with an anti-join.
      val dbl = (c: Column) => c.cast("array<double>")
      val e = embeddings(s, dir)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
      val planted = embeddings(s, dir).filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(dbl(col("embedding")), x => x + lit(0.01)).as("embedding"))
      val corpus = e.unionByName(planted)
      val pairs = Vec.semDedupPairs(corpus, "vec_id", "embedding",
        k = 16, iters = 2, threshold = 0.99, targetCellSize = 0)
      Dedup.dropNearDups(corpus, pairs, "vec_id")
        .select(col("vec_id")).orderBy("vec_id")
    }),
    "cur_decontam_semantic" -> ((s, dir) => {
      // SEMANTIC decontamination: the n-gram decontam family
      // (cur_decontam*) misses paraphrases; this sweeps the corpus for
      // vectors within cosine 0.98 of ANY benchmark embedding — the
      // SemDeDup-style eval-leakage gate. Benchmark = every 50th
      // vector; planted leaks = +0.01-shifted benchmark copies
      // (cosine ≈ 0.997, above the bar; the natural corpus sits
      // below). Scale shape: one corpus scan with the (small)
      // benchmark set broadcast — radiusSearch's plan, corpus never
      // shuffles. 6-dp round BEFORE the τ compare keeps the boundary
      // cross-engine exact.
      val dbl = (c: Column) => c.cast("array<double>")
      val bench = embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
      val corpus = embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
        .unionByName(bench.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.01)).as("embedding")))
      Similarity.radiusSearch(corpus, bench, "vec_id", "embedding",
          tau = 0.98)
        .select(col("nbr_id").as("corpus_id"), col("probe_id").as("bench_id"),
          col("cosine"))
        .orderBy("corpus_id", "bench_id")
    }),
    "dedup_semdedup_lsh" -> ((s, dir) => {
      // the fully LINEAR SemDeDup: LSH hyperplane shard routing
      // (bits = ⌈log2⌈n/shardTarget⌉⌉ from one count — O(bits) per
      // row, vs IVF's n·nlist) + the same per-shard joined Lloyd.
      // shardTarget 128 keeps several LSH bits live at the oracle
      // gate scales so the routing is genuinely exercised
      // cross-engine (sf0.01 → 3 bits, sf0.1 → 5).
      val dbl = (c: Column) => c.cast("array<double>")
      val e = embeddings(s, dir)
        .select(col("vec_id"), dbl(col("embedding")).as("embedding"))
      val planted = embeddings(s, dir).filter(col("vec_id") < 25)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(dbl(col("embedding")), x => x + lit(0.01)).as("embedding"))
      Vec.semDedupLsh(e.unionByName(planted), "vec_id", "embedding",
          dim = 64, iters = 2, threshold = 0.99, shardTarget = 128,
          targetCellSize = 64, kMin = 2, kMax = 4096, seed = 7L)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "embed_kmeans" -> ((s, dir) =>
      // deterministic distributed Lloyd k-means (k=8, 2 update
      // rounds): the oracle unrolls both iterations in SQL with the
      // identical left-to-right squared-L2 fold and 6-dp centroid
      // rounding between rounds, so the doubles match bit-for-bit
      Vec.kmeansCentroids(embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("cluster"), col("dim").cast("long").as("dim"),
          col("c"), col("n"))
        .orderBy("cluster", "dim")),
    "embed_pq" -> ((s, dir) =>
      // product quantization (m=2 subspaces, k=4, 2 Lloyd rounds each
      // via the bit-stable loop): codes + reconstruction error, all
      // computed in one encoding pass with codebooks as literals
      Vec.pqEncode(embeddings(s, dir), "vec_id", "embedding",
          m = 2, k = 4, iters = 2)
        .select(col("vec_id"), col("code_0"), col("code_1"),
          round(col("qerr"), 6).as("qerr"))
        .orderBy("vec_id")),
    "sim_pq" -> ((s, dir) => {
      // PQ-ADC search: per-probe m×k lookup tables staged once, every
      // (probe, corpus) pair costs m element_at lookups; ranked by
      // asymmetric distance with a deterministic (dist, id) order
      val probes = embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Vec.pqTopK(embeddings(s, dir), probes, "vec_id", "embedding",
          "probe_id", m = 2, k = 4, iters = 2, topK = 5)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), round(col("adist"), 6).as("adist"))
        .orderBy("probe_id", "rank")
    }),
    "sim_ivfpq" -> ((s, dir) => {
      // IVF-PQ, the FAISS production ANN shape: the coarse quantizer
      // (full-vector k-means = PQ with m=1) routes each probe to its
      // 2 nearest of 8 cells; ADC then ranks only those cells' codes.
      // Fully deterministic, so the oracle replays the whole index.
      val probes = embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Vec.ivfPqTopK(embeddings(s, dir), probes, "vec_id", "embedding",
          "probe_id", nlist = 8, nprobe = 2, m = 2, k = 4, iters = 2,
          topK = 5)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), round(col("adist"), 6).as("adist"))
        .orderBy("probe_id", "rank")
    }),
    "embed_dispersion" -> ((s, dir) =>
      Vec.centroidCosines(embeddings(s, dir), "vec_id", "embedding", "label")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg("cos"), 6).as("mean_cos"),
          round(min("cos"), 6).as("min_cos"))
        .orderBy("label")),
    "embed_outliers" -> ((s, dir) =>
      // data-pruning pass, SemDeDup's complement: vectors
      // ANTI-correlated with their own label centroid are suspect
      // (mislabeled / noise). Threshold on the RAW cosine (round only
      // for display); nearest fixture value sits 1.1e-3 away, so ulp
      // noise cannot flip membership
      Vec.centroidCosines(embeddings(s, dir), "vec_id", "embedding",
          "label")
        .filter(col("cos") < 0.0)
        .select(col("vec_id"), col("label"),
          round(col("cos"), 6).as("cos"))
        .orderBy("vec_id")),
    "embed_quantize" -> ((s, dir) => {
      Vec.withInt8(
          embeddings(s, dir)
            .select(col("vec_id"), col("embedding").cast("array<double>")
              .as("v")),
          "v")
        .select(col("vec_id"), col("int8_scale").as("scale"),
          Vec.maxAbsError(col("v"), col("int8_q"), col("int8_scale"))
            .as("max_abs_err"))
        .orderBy("vec_id")
    }),
    "mm_meta" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          Multimodal.byteLength(encode(col("text"), "UTF-8")).cast("long")
            .as("n_bytes"))
        .orderBy("doc_id")),
    "mm_decode" -> ((s, dir) => {
      // REAL decode round-trip: synthesize a PNG (even doc_id) or WAV
      // (odd doc_id) with dimensions derived from doc_id, decode it
      // back with the pure-JDK decoder (ImageIO / AudioSystem) on
      // executors, and emit the DECODED values. The oracle recomputes
      // the expected dims from doc_id arithmetic — a hash-exact check
      // that the decoder really read the container.
      import s.implicits._
      val payloads = documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val b =
            if (id % 2 == 0)
              Multimodal.makePng((id % 64 + 1).toInt, (id % 48 + 1).toInt,
                (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)
            else
              Multimodal.makeWav((8000 + (id % 8) * 1000).toInt,
                (id % 100 + 1).toInt)
          (id, b)
        }
      Multimodal.decodeBatched(payloads)(_.map(Multimodal.jdkDecode))
        .map { case (id, m) =>
          (id, m.format, m.width.toLong, m.height.toLong,
            m.nFrames.toLong, m.sampleRateHz.toLong)
        }
        .toDF("doc_id", "format", "width", "height", "n_frames",
          "sample_rate_hz")
        .orderBy("doc_id")
    }),
    "mm_pixels" -> ((s, dir) => {
      // REAL pixel feature extraction: solid-fill PNG per doc decoded
      // with ImageIO; per-channel pixel means equal the fill exactly,
      // so the oracle checks real raster decode, not just headers.
      import s.implicits._
      val payloads = documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.makePng((id % 32 + 1).toInt, (id % 24 + 1).toInt,
            (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt))
        }
      Multimodal.decodeBatched(payloads)(_.map(Multimodal.pixelStats))
        .map { case (id, p) =>
          (id, p.width.toLong, p.height.toLong, math.round(p.meanR),
            math.round(p.meanG), math.round(p.meanB))
        }
        .toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")
        .orderBy("doc_id")
    }),
    "mm_resize" -> ((s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          (pmod(col("n_chars"), lit(1920L)) + 1).as("w"),
          (pmod(col("n_chars"), lit(1080L)) + 1).as("h"))
        .withColumn("plan", Multimodal.resizePlan(col("w"), col("h"), 256, 256))
        .select(col("doc_id"), col("w"), col("h"),
          col("plan.out_w").cast("long").as("out_w"),
          col("plan.out_h").cast("long").as("out_h"))
        .orderBy("doc_id")),
    "mm_features" -> ((s, dir) =>
      // FULLY SQL-oracled: the payload scan is FNV-1a 64 (the fnvSql
      // family's replayable hash) and the per-component splitmix64
      // finalizer + L1 quantization are replayed step-for-step in
      // DuckDB 128-bit arithmetic (see the oracle). posexplode'd to
      // scalar rows (doc_id, pos, q): the driver's pandas compare
      // can't sort an array column. Components ship as HALF_UP
      // micro-units `floor(v·1e6 + 0.5)` — both engines compute the
      // floor on the SAME IEEE double (component/norm arithmetic is
      // order-pinned), so there is no round(double, dp) half-ulp tie
      // class (the hits/gap_stats integer-space recipe).
      documents(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          posexplode(Multimodal.hashFeatures(col("payload"), 16))
            .as(Seq("pos", "value")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).as("q"))
        .orderBy("doc_id", "pos")),
    "mm_frames" -> ((s, dir) =>
      // synthetic frame counts (the corpus has no real video); the
      // explode fan-out shape ahead of per-frame feature extraction
      Multimodal.sampleFrames(
          documents(s, dir)
            .select(col("doc_id"),
              pmod(col("doc_id"), lit(11)).cast("int").as("n_frames")),
          "n_frames", stride = 3)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("doc_id", "frame_idx")),
    "mm_phash" -> ((s, dir) => {
      // REAL perceptual-hash image dedup end to end: five jittered
      // variants of one noise raster per group (brightness shift is
      // DC-only and a one-pixel edit perturbs ≤ 2 hash bits; distinct
      // groups give iid 63-bit hashes), PNG-encoded, ImageIO-decoded,
      // DCT-pHashed on executors, then paired via the pigeonhole
      // hamming equi-join. Exact planted recovery: the oracle
      // recomputes the within-group pairs from id arithmetic alone.
      import s.implicits._
      val payloads = documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.makeNoisePng(
            id / 5, (id % 5).toInt * 8, (id % 5).toInt))
        }
      // undecodable payloads hash to null and drop out of decodeBatched
      val hashed = Multimodal.decodeBatched(payloads)(_.map(Multimodal.pHash64))
        .map { case (id, h) => (id, h.longValue) }
        .toDF("doc_id", "phash")
      // maxHamming 6: planted variants differ by ≤ ~4 bits (brightness
      // is DC-only; two one-pixel edits); iid cross-group hashes have
      // P(≤6 of 63) ≈ 1e-11 — stray-pair expectation stays ≪ 1 even
      // at millions of documents (10 would be ~4e-8/pair: ~0.5
      // EXPECTED strays at a 5000-doc corpus — a coin-flip oracle)
      Dedup.hammingNearDupPairs(hashed, "doc_id", "phash", maxHamming = 6)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    "mm_phash_wide" -> ((s, dir) => {
      // The SCALE path for perceptual image dedup: 256-bit pHash
      // (Multimodal.pHashWide) + the wide pigeonhole hamming join.
      // Same planted fixture as mm_phash (five jittered noise-raster
      // variants per group), but the wider hash both sharpens the
      // separation (measured: within-group ≤ 8 bits of 255, cross-
      // group ≥ 96) and — the reason it exists — keeps the banding
      // join's bucket space growing with the hash width instead of
      // shrinking with the allowed distance: 64-bit chunking at
      // maxHamming 6 is 512 buckets/band (quadratic past ~10⁵ rows),
      // while the wide join's chunks are 2^16 here and 2^32 in the
      // scale configuration the 100× stress point times. maxHamming
      // 15 with 16-bit chunks: the planted ball with margin, still
      // astronomically below the iid cross-group distance.
      import s.implicits._
      val payloads = documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          (id, Multimodal.makeNoisePng(
            id / 5, (id % 5).toInt * 8, (id % 5).toInt))
        }
      val hashed = Multimodal.decodeBatched(payloads)(_.map(Multimodal.pHashWide))
        .toDF("doc_id", "phash")
      Dedup.hammingNearDupPairsWide(hashed, "doc_id", "phash",
          maxHamming = 15, words = 4, chunkBits = 16)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    "mm_video_dedup" -> ((s, dir) => {
      // REAL frame-fingerprint video dedup: 10-frame synthetic videos
      // (one per doc id < 200 — a BOUNDED fixture, so the decode cost
      // is constant at any sf), adjacent video pairs share 8 frames
      // (trim/re-insert simulation), every frame renders as a real
      // PNG and round-trips ImageIO decode + DCT pHash on executors;
      // videos pair on >= 6 shared exact frame hashes. The oracle
      // recomputes the planted pairs from id arithmetic alone.
      import s.implicits._
      val payloads = documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
        .flatMap { vid =>
          (0 until 10).map { f =>
            val seed = if (f < 8) (vid / 2) * 100L + 7000000L + f
                       else vid * 1000L + 9000000L + f
            (vid, Multimodal.makeNoisePng(seed, 0, 0))
          }
        }
      val frames = Multimodal.decodeBatched(payloads)(_.map(Multimodal.pHash64))
        .map { case (vid, h) => (vid, h.longValue) }
        .toDF("video_id", "fhash")
      Dedup.sharedFingerprintPairs(frames, "video_id", "fhash",
          minShared = 6, maxBucket = 100)
        .orderBy("id_a", "id_b")
    }),
    "mm_audio_stats" -> ((s, dir) => {
      // REAL audio-content analysis: a sawtooth PCM waveform per doc
      // is WAV-encoded, decoded back through AudioSystem (container
      // parse + endianness from the decoded format), and the DECODED
      // samples are window-aggregated. The waveform is id-arithmetic,
      // so the oracle recomputes the exact windowed sums — proof the
      // sample path reads real PCM, not headers.
      import s.implicits._
      documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val n = (400 + id % 100).toInt
          val samples = Array.tabulate(n)(i => (((id + i) % 2000) - 1000).toShort)
          (id, Multimodal.makeWavPcm(8000, samples))
        }
        .map { case (id, wav) =>
          (id, Multimodal.decodePcm16(wav).map(_.toInt))
        }
        .toDF("doc_id", "samples")
        .select(col("doc_id"), posexplode(col("samples")).as(Seq("i", "v")))
        .withColumn("win", floor(col("i") / 160).cast("long"))
        .groupBy("doc_id", "win")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_s"),
          max(abs(col("v"))).cast("long").as("peak"))
        .orderBy("doc_id", "win")
    }))

  /** DuckDB replay of one PQ subspace's Lloyd chain (shared by the
    * `embed_pq` and `sim_pq` oracles): slice → lowest-id init → one
    * 6-dp-rounded update → final assignment keeping the min distance.
    * Mirrors [[graft.pipeline.Vec.pqTrain]]+`pqEncodeWith` for m=2,
    * k=4, iters=2 over 64-dim embeddings. */
  private def PqOracleSub(j: Int): String = PqSub(j.toString, j * 32 + 1, 32, 4)

  /** One PQ-style k-means replay (seed = lowest-id vectors, one
    * round-6-dp Lloyd round, (dist, cl) tie-break) over embedding
    * slice [lo, lo+len) with `k` clusters; CTE names suffixed `tag`.
    * `tag`="g", len=64 gives the full-vector COARSE quantizer of
    * sim_ivfpq; numeric tags give sim_pq's subspace codebooks. */
  private def PqSub(tag: String, lo: Int, len: Int, k: Int): String = {
    val j = tag; val hi = lo + len - 1
    s"""x$j AS (
       |  SELECT vec_id,
       |    list_transform(list_slice(embedding, $lo, $hi),
       |      e -> CAST(e AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0$j AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
       |  FROM (SELECT vec_id, v FROM x$j ORDER BY vec_id LIMIT $k)),
       |d1$j AS (
       |  SELECT x$j.vec_id, c0$j.cl,
       |    list_reduce(list_transform(list_zip(x$j.v, c0$j.v),
       |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
       |  FROM x$j CROSS JOIN c0$j),
       |a1$j AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT vec_id, cl,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
       |    FROM d1$j) WHERE rk = 1),
       |u$j AS (
       |  SELECT vec_id, unnest(v) AS e, generate_subscripts(v, 1) AS i
       |  FROM x$j),
       |m1$j AS (
       |  SELECT a1$j.cl, u$j.i, round(avg(u$j.e), 6) AS c
       |  FROM a1$j JOIN u$j USING (vec_id) GROUP BY a1$j.cl, u$j.i),
       |c1$j AS (SELECT cl, list(c ORDER BY i) AS v FROM m1$j GROUP BY cl),
       |d2$j AS (
       |  SELECT x$j.vec_id, c1$j.cl,
       |    list_reduce(list_transform(list_zip(x$j.v, c1$j.v),
       |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
       |  FROM x$j CROSS JOIN c1$j),
       |a2$j AS (
       |  SELECT vec_id, cl, dist FROM (
       |    SELECT vec_id, cl, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
       |    FROM d2$j) WHERE rk = 1)""".stripMargin
  }

  /** The pinned-k (k=16) SemDeDup replay — corpus fixture, both
    * bit-stable Lloyd rounds, and the within-cell cosine pair table
    * `p` — shared by `dedup_semdedup` (the pair list) and
    * `dedup_semdedup_prune` (the anti-joined survivor corpus). */
  private val SemDedupPinnedCtes: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |planted AS (
      |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
      |  FROM e WHERE vec_id < 25),
      |x AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
      |  FROM (SELECT vec_id, v FROM x ORDER BY vec_id LIMIT 16)),
      |d1 AS (
      |  SELECT x.vec_id, c0.cl,
      |    list_reduce(list_transform(list_zip(x.v, c0.v),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
      |  FROM x CROSS JOIN c0),
      |a1 AS (
      |  SELECT vec_id, cl FROM (
      |    SELECT vec_id, cl,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
      |    FROM d1) WHERE rk = 1),
      |u AS (SELECT vec_id, unnest(v) AS e, generate_subscripts(v, 1) AS i FROM x),
      |m1 AS (
      |  SELECT a1.cl, u.i, round(avg(u.e), 6) AS c
      |  FROM a1 JOIN u USING (vec_id) GROUP BY a1.cl, u.i),
      |c1 AS (SELECT cl, list(c ORDER BY i) AS v FROM m1 GROUP BY cl),
      |d2 AS (
      |  SELECT x.vec_id, c1.cl,
      |    list_reduce(list_transform(list_zip(x.v, c1.v),
      |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
      |  FROM x CROSS JOIN c1),
      |a2 AS (
      |  SELECT vec_id, cl FROM (
      |    SELECT vec_id, cl,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
      |    FROM d2) WHERE rk = 1),
      |p AS (
      |  SELECT xa.vec_id AS id_a, xb.vec_id AS id_b,
      |    list_dot_product(xa.v, xb.v) /
      |      (sqrt(list_dot_product(xa.v, xa.v)) *
      |       sqrt(list_dot_product(xb.v, xb.v))) AS cos_raw
      |  FROM a2 aa JOIN a2 ab ON aa.cl = ab.cl AND aa.vec_id < ab.vec_id
      |  JOIN x xa ON xa.vec_id = aa.vec_id
      |  JOIN x xb ON xb.vec_id = ab.vec_id)""".stripMargin

  /** DuckDB twin of [[graft.functions.Fnv64Expr]]: FNV-1a 64 of a
    * string expression as a signed BIGINT, via a list_reduce fold in
    * 128-bit arithmetic mod 2^64 (the xor rides on the low byte only,
    * so BIGINT xor suffices). `ord`/`substr` walk CHARACTERS while the
    * engine hashes UTF-8 BYTES — identical on the all-ASCII fixtures
    * (asserted: zero multi-byte docs at both gate scales); the engine
    * itself is byte-correct for any input. */
  private def fnvSql(e: String): String =
    s"""(SELECT CASE WHEN u_ >= 9223372036854775808::HUGEINT
       |      THEN (u_ - 18446744073709551616::HUGEINT)::BIGINT
       |      ELSE u_::BIGINT END
       |   FROM (SELECT list_reduce(
       |     list_prepend(14695981039346656037::HUGEINT,
       |       list_transform(range(1, length($e) + 1),
       |         i_ -> ord(substr($e, i_, 1))::HUGEINT)),
       |     (h_, b_) -> ((h_ - (h_ % 256)) +
       |        xor((h_ % 256)::BIGINT, b_::BIGINT)::HUGEINT)
       |       * 1099511628211::HUGEINT
       |       % 18446744073709551616::HUGEINT) AS u_))""".stripMargin

  /** `mm_features` replayed in SQL: [[graft.functions.HashFeaturesExpr]]
    * step for step in DuckDB 128-bit arithmetic — one unsigned FNV-1a
    * pass over the text (the [[fnvSql]] fold minus its sign
    * conversion), then per component i ∈ [0,16): the splitmix64
    * finalizer over `seed ⊕ i·golden-gamma`, the HALF_UP floorMod
    * quantization into (-1, 1], the order-pinned left-to-right L2
    * norm (ordered list_reduce), and the final `floor(v·1e6 + 0.5)`
    * micro-unit — every double op in the same IEEE order as the
    * engine, so the integer output matches exactly with NO rounding
    * contract. 64-bit unsigned tricks: HUGEINT carries values in
    * [0, 2^64); xor drops to signed BIGINT and back (bit-identical);
    * `>>> k` is unsigned division by 2^k; the 64×64 multiply splits
    * the left operand into 32-bit halves so no intermediate exceeds
    * HUGEINT's 127-bit headroom:
    * (a·b) mod 2^64 = (a_lo·b + ((a_hi·b) mod 2^32)·2^32) mod 2^64. */
  private lazy val MmFeaturesOracle: String = {
    val M = "18446744073709551616::HUGEINT" // 2^64
    def ux(a: String) = // unsigned HUGEINT → the same 64 bits as signed BIGINT
      s"(CASE WHEN $a >= 9223372036854775808::HUGEINT THEN ($a - $M)::BIGINT ELSE ($a)::BIGINT END)"
    def sx(b: String) = // signed BIGINT → unsigned HUGEINT
      s"(CASE WHEN $b < 0 THEN ($b)::HUGEINT + $M ELSE ($b)::HUGEINT END)"
    def xor64(a: String, b: String) = sx(s"xor(${ux(a)}, ${ux(b)})")
    def mul64(a: String, b: String) =
      s"((($a % 4294967296::HUGEINT) * $b + (($a // 4294967296::HUGEINT) * $b % 4294967296::HUGEINT) * 4294967296::HUGEINT) % $M)"
    val fnvU =
      """list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(range(1, length(text) + 1),
        |        i_ -> ord(substr(text, i_, 1))::HUGEINT)),
        |    (h_, b_) -> ((h_ - (h_ % 256)) +
        |       xor((h_ % 256)::BIGINT, b_::BIGINT)::HUGEINT)
        |      * 1099511628211::HUGEINT
        |      % 18446744073709551616::HUGEINT)""".stripMargin
    s"""WITH f AS (
       |  SELECT doc_id, $fnvU AS u FROM documents),
       |p AS (
       |  SELECT doc_id, u, r.pos FROM f, range(0, 16) r(pos)),
       |g AS (
       |  SELECT doc_id, pos,
       |    ${xor64("u", s"((pos::HUGEINT * 11400714819323198485::HUGEINT) % $M)")} AS z0
       |  FROM p),
       |g1 AS (SELECT doc_id, pos,
       |  ${xor64("z0", "(z0 // 1073741824::HUGEINT)")} AS x1 FROM g),
       |s1 AS (SELECT doc_id, pos,
       |  ${mul64("x1", "13787848793156543929::HUGEINT")} AS z1 FROM g1),
       |g2 AS (SELECT doc_id, pos,
       |  ${xor64("z1", "(z1 // 134217728::HUGEINT)")} AS x2 FROM s1),
       |s2 AS (SELECT doc_id, pos,
       |  ${mul64("x2", "10723151780598845931::HUGEINT")} AS z2 FROM g2),
       |s3 AS (SELECT doc_id, pos,
       |  ${xor64("z2", "(z2 // 2147483648::HUGEINT)")} AS z3 FROM s2),
       |c AS (
       |  SELECT doc_id, pos,
       |    (((${ux("z3")} % 2000001) + 2000001) % 2000001 - 1000000) / 1000000.0 AS comp
       |  FROM s3),
       |n AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(comp * comp ORDER BY pos)),
       |      (a_, b_) -> a_ + b_) AS n2
       |  FROM c GROUP BY doc_id)
       |SELECT c.doc_id, c.pos::BIGINT AS pos,
       |  CAST(floor((CASE WHEN n.n2 > 0 THEN c.comp * (1.0 / sqrt(n.n2))
       |              ELSE c.comp END) * 1000000.0 + 0.5) AS BIGINT) AS q
       |FROM c JOIN n USING (doc_id)
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Shared CTE chain for the `dedup_strip_spans` family over an
    * arbitrary corpus SQL: whitespace tokenization, 8-token spans
    * with word positions, the min-id owner per duplicated span,
    * non-owner occurrences as [rs, re) ranges, and the per-document
    * sorted interval merge (`m`) — the exact window recipe
    * `Dedup.stripDuplicateSpans` runs. */
  private def stripSpanCtes(corpusSql: String): String =
    s"""WITH u AS (
      |$corpusSql),
      |tok AS (""".stripMargin + StripSpanCtesTail

  /** The planted-fixture instance (originals + truncated copies) the
    * dedup_strip_spans query family replays. */
  private lazy val StripSpanCtes: String = stripSpanCtes(
    """  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    array_to_string(
      |      string_split_regex(trim(text), '\s+')
      |        [1:greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)],
      |      ' ') AS text
      |  FROM documents WHERE doc_id < 50""".stripMargin)

  private lazy val StripSpanCtesTail: String =
    """
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM u),
      |sp AS (
      |  SELECT doc_id, r.i - 1 AS p, array_to_string(t[r.i:r.i+7], ' ') AS s
      |  FROM tok, UNNEST(range(1, len(t) - 6)) AS r(i)),
      |own AS (
      |  SELECT s, min(doc_id) AS own FROM sp GROUP BY s
      |  HAVING count(DISTINCT doc_id) >= 2),
      |d AS (
      |  SELECT sp.doc_id, sp.p AS rs, sp.p + 8 AS re
      |  FROM sp JOIN own ON own.s = sp.s
      |  WHERE sp.doc_id <> own.own),
      |wm AS (
      |  SELECT doc_id, rs, re,
      |    max(re) OVER (PARTITION BY doc_id ORDER BY rs
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM d),
      |grp AS (
      |  SELECT doc_id, rs, re,
      |    sum(CASE WHEN pm IS NULL OR rs > pm THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY rs) AS g
      |  FROM wm),
      |m AS (SELECT doc_id, g, min(rs) AS rs, max(re) AS re
      |      FROM grp GROUP BY doc_id, g)""".stripMargin

  /** Shared CTE chain for the trained-NB family: the distillation
    * label (quality linear score z > 0.75), FNV token buckets, exact
    * integer class counts, Laplace log-ratio weights, the class
    * prior, and the per-document score fold (`sc`) — exactly what
    * `TextAnalysis.nbTokenClassifier` computes over `nbScored`'s
    * input. `text_nb_clf` appends the scored SELECT; `text_clf_pr`
    * appends the threshold-sweep rollup. */
  private lazy val NbClfCtes: String =
    s"""WITH qt AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
      |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
      |  FROM documents),
      |qb AS (
      |  SELECT doc_id, len(toks) AS nt,
      |    CASE WHEN len(toks) > 0 THEN
      |      CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
      |    ELSE 0.0 END AS awl,
      |    CASE WHEN len(toks) > 0 THEN
      |      CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks)
      |    ELSE 0.0 END AS sr,
      |    CASE WHEN len(text) > 0 THEN
      |      CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |        / len(text)
      |    ELSE 0.0 END AS pr
      |  FROM qt),
      |lab AS (
      |  SELECT doc_id,
      |    CASE WHEN (-1.0 + 0.35 * ln(1.0 + nt) + 2.0 * sr - 4.0 * pr
      |               + 0.5 * awl / 10.0) > 0.75 THEN 1 ELSE 0 END AS y
      |  FROM qb),
      |tok AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
      |  FROM documents),
      |tf AS (SELECT doc_id, ts[r.i] AS t
      |       FROM tok, UNNEST(range(1, len(ts) + 1)) AS r(i)),
      |tb AS (SELECT doc_id, ((${fnvSql("t")} % 1024) + 1024) % 1024 AS b
      |       FROM tf),
      |tc AS (
      |  SELECT b, sum(l.y) AS c1, sum(1 - l.y) AS c0
      |  FROM tb JOIN lab l USING (doc_id) GROUP BY b),
      |tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0 FROM tc),
      |w AS (
      |  SELECT b,
      |    ln((c1 + 1)::DOUBLE / (n1 + 1024)::DOUBLE)
      |      - ln((c0 + 1)::DOUBLE / (n0 + 1024)::DOUBLE) AS w
      |  FROM tc CROSS JOIN tot),
      |pr AS (
      |  SELECT ln((sum(y) + 0.5)::DOUBLE / (sum(1 - y) + 0.5)::DOUBLE)
      |    AS prior FROM lab),
      |k AS (SELECT doc_id, b, count(*) AS k FROM tb GROUP BY 1, 2),
      |sc AS (SELECT doc_id, sum(k * w.w) AS s2
      |       FROM k JOIN w USING (b) GROUP BY doc_id)""".stripMargin

  /** `text_fingerprint` replayed in SQL: per-token FNV reduced into
    * the 2^57 prime field, then the order-sensitive polynomial fold —
    * all BIGINT-safe by the 31·p < 2^63 design. */
  private lazy val FingerprintOracle: String = {
    val P = 144115188075855859L
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, r.i AS pos, ts[r.i] AS t
       |  FROM tok, UNNEST(range(1, len(ts) + 1)) AS r(i)),
       |th AS (
       |  SELECT doc_id, pos, ((${fnvSql("t")} % $P) + $P) % $P AS hp
       |  FROM tf),
       |agg AS (SELECT doc_id, list(hp ORDER BY pos) AS hs FROM th GROUP BY doc_id)
       |SELECT t0.doc_id,
       |  coalesce(list_reduce(list_prepend(0::BIGINT, a.hs),
       |    (acc, v) -> (acc * 31 + v) % $P), 0) AS fp
       |FROM tok t0 LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** `text_winnow` replayed in SQL: k-gram FNV hashes over the
    * whitespace-collapsed lowercased text, the rightmost-minimum of
    * every w-window (row_number ORDER BY hash ASC, pos DESC — exactly
    * the kernel's `<=` update rule), distinct selected values counted.
    * Window membership is a bounded range join (w = 4 grams). */
  private lazy val WinnowOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |meta AS (
       |  SELECT doc_id, norm, length(norm) AS n,
       |    CASE WHEN length(norm) < 5 THEN 1 ELSE length(norm) - 5 + 1 END AS ng,
       |    least(5, length(norm)) AS kk
       |  FROM d WHERE length(norm) > 0),
       |grams AS (
       |  SELECT doc_id, r.i AS pos,
       |    ${fnvSql("substr(norm, r.i + 1, kk)")} AS h
       |  FROM meta, UNNEST(range(0, ng)) AS r(i)),
       |wins AS (
       |  SELECT doc_id, r.j AS j
       |  FROM meta, UNNEST(range(0, greatest(ng - 4 + 1, 1))) AS r(j)),
       |sel AS (
       |  SELECT doc_id, h FROM (
       |    SELECT g.doc_id, w.j, g.h,
       |      row_number() OVER (PARTITION BY g.doc_id, w.j
       |        ORDER BY g.h ASC, g.pos DESC) AS rk
       |    FROM grams g JOIN wins w
       |      ON w.doc_id = g.doc_id AND g.pos BETWEEN w.j AND w.j + 3)
       |  WHERE rk = 1),
       |cnt AS (
       |  SELECT doc_id, count(DISTINCT h) AS n_fingerprints
       |  FROM sel GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(c.n_fingerprints, 0) AS n_fingerprints
       |FROM d LEFT JOIN cnt c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** `dedup_simhash` replayed in SQL: per-token FNV, per-bit majority
    * vote (+1/−1 per token, bit set when the count is positive),
    * reassembled in 128-bit arithmetic and converted to the signed
    * 64-bit value. Token multiplicity counts, exactly as the kernel
    * iterates the raw token array. */
  private lazy val SimHashOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, ts[r.i] AS t
       |  FROM tok, UNNEST(range(1, len(ts) + 1)) AS r(i)),
       |th AS (SELECT doc_id, ${fnvSql("t")} AS f FROM tf),
       |bits AS (
       |  SELECT doc_id, b.b AS b,
       |    sum(CASE WHEN (f >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM th, UNNEST(range(0, 64)) AS b(b) GROUP BY doc_id, b.b),
       |acc AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS u
       |  FROM bits GROUP BY doc_id)
       |SELECT t0.doc_id,
       |  coalesce(CASE WHEN a.u >= 9223372036854775808::HUGEINT
       |    THEN (a.u - 18446744073709551616::HUGEINT)::BIGINT
       |    ELSE a.u::BIGINT END, 0) AS simhash
       |FROM tok t0 LEFT JOIN acc a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The whole MinHash-LSH pipeline replayed in SQL: distinct 3-token
    * shingles → FNV into the 2^31−1 Mersenne field → the engine's own
    * seeded 128 affine permutations (rendered as literals) → min per
    * permutation → 32 md5 band keys → capped bucket join → exact
    * Jaccard over distinct full-64-bit shingle hashes. Every stage is
    * integer arithmetic both engines compute identically. */
  /** CTE prefix (no leading WITH) shared by `dedup_minhash` and
    * `dedup_minhash_prune` — the latter needs `WITH RECURSIVE` for
    * its component closure, so the keyword stays with the caller. */
  private lazy val MinHashCtes: String = {
    val (as, bs) = graft.functions.MinHashSigExpr.params(128, 42L)
    val abRows = as.indices.map(i => s"  (${i}, ${as(i)}, ${bs(i)})")
      .mkString(",\n")
    s"""planted AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string(
       |      string_split_regex(trim(text), '\\s+')
       |        [1:greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)],
       |      ' ') AS text
       |  FROM documents WHERE doc_id < 50),
       |u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM planted),
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM u),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[r.i:r.i+2], ' ') AS s
       |  FROM tok, UNNEST(range(1, len(t) - 1)) AS r(i)),
       |hp AS (
       |  SELECT doc_id, s, f, ((f % 2147483647) + 2147483647) % 2147483647 AS hp
       |  FROM (SELECT doc_id, s, ${fnvSql("s")} AS f FROM sh)),
       |ab AS (SELECT * FROM (VALUES
       |$abRows) AS t(i, a, b)),
       |sig AS (
       |  SELECT hp.doc_id, ab.i, min((ab.a * hp.hp + ab.b) % 2147483647) AS v
       |  FROM hp CROSS JOIN ab GROUP BY hp.doc_id, ab.i),
       |sigarr AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM sig GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, r.b AS band,
       |    md5(array_to_string(list_transform(sig[r.b*4+1:r.b*4+4],
       |      x -> CAST(x AS VARCHAR)), ',')) AS bh
       |  FROM sigarr, UNNEST(range(0, 32)) AS r(b)),
       |capped AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bh) <= 10000),
       |cand AS (
       |  SELECT DISTINCT ca.doc_id AS id_a, cb.doc_id AS id_b
       |  FROM capped ca JOIN capped cb
       |    ON ca.band = cb.band AND ca.bh = cb.bh AND ca.doc_id < cb.doc_id),
       |ns AS (SELECT doc_id, count(DISTINCT f) AS n FROM hp GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(DISTINCT ha.f) AS ic
       |  FROM cand c
       |  JOIN hp ha ON ha.doc_id = c.id_a
       |  JOIN hp hb ON hb.doc_id = c.id_b AND hb.f = ha.f
       |  GROUP BY c.id_a, c.id_b),
       |p AS (
       |  SELECT i.id_a, i.id_b,
       |    i.ic::DOUBLE / (na.n + nb.n - i.ic) AS jaccard
       |  FROM inter i
       |  JOIN ns na ON na.doc_id = i.id_a
       |  JOIN ns nb ON nb.doc_id = i.id_b)""".stripMargin
  }

  private lazy val MinHashOracle: String =
    "WITH " + MinHashCtes +
      """
        |SELECT id_a, id_b, jaccard FROM p
        |WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin

  /** `dedup_minhash_prune` replayed in SQL: the MinHash pair chain,
    * a recursive component closure, and the keep-LONGEST winner rule
    * (tie → min id) — singletons label themselves and survive. */
  private lazy val MinHashPruneOracle: String =
    "WITH RECURSIVE " + MinHashCtes +
      """,
        |pr2 AS (SELECT id_a, id_b FROM p WHERE jaccard >= 0.5),
        |und2 AS (SELECT id_a AS a, id_b AS b FROM pr2
        |         UNION SELECT id_b AS a, id_a AS b FROM pr2),
        |reach AS (
        |  SELECT a AS id, a AS lab FROM und2
        |  UNION
        |  SELECT und2.a, r.lab FROM und2 JOIN reach r ON und2.b = r.id),
        |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |lab2 AS (
        |  SELECT u.doc_id AS id, coalesce(cl.cluster, u.doc_id) AS cluster,
        |    len(u.text) AS q
        |  FROM u LEFT JOIN cl ON cl.id = u.doc_id)
        |SELECT id, cluster,
        |  (CASE WHEN row_number() OVER (
        |     PARTITION BY cluster ORDER BY q DESC, id) = 1
        |   THEN 1 ELSE 0 END)::BIGINT AS keep
        |FROM lab2 ORDER BY id""".stripMargin

  /** `dedup_semdedup_lsh` replayed in SQL. The hyperplanes are the
    * ENGINE'S OWN seeded constants rendered as literals (Double
    * round-trips exactly through toString → SQL parse), inlined at a
    * maximal 12 planes and masked by the count-derived bit count —
    * sound because the plane stream is prefix-stable in `bits`
    * (Similarity.hyperplanes). 12 planes cover corpora to
    * 128·2^12 ≈ 524k rows, far past any oracle-gate scale. The sign
    * test and every distance are the engines' shared left-to-right
    * double folds; tier 2 is the same joined-Lloyd replay as
    * `dedup_semdedup_sharded` plus the kMax=4096 clamp. */
  private lazy val LshSemDedupOracle: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(64, 1, 12, 7L)(0)
    val planeRows = planes.zipWithIndex.map { case (h, b) =>
      s"  ($b, [${h.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planted AS (
       |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
       |  FROM e WHERE vec_id < 25),
       |x0 AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
       |nb AS (
       |  SELECT CASE WHEN x <= 1 THEN 0
       |         ELSE least(24, length(bin(x - 1))) END AS bits
       |  FROM (SELECT (count(*) + 127) // 128 AS x FROM x0)),
       |pl AS (SELECT * FROM (VALUES
       |$planeRows) AS t(b, pv)),
       |sh0 AS (
       |  SELECT x0.vec_id,
       |    sum(CASE WHEN pl.b < nb.bits AND
       |      list_reduce(list_transform(list_zip(x0.v, pl.pv),
       |        q -> q[1] * q[2]), (a, b2) -> a + b2) > 0
       |      THEN (1::BIGINT << pl.b) ELSE 0 END) AS sh
       |  FROM x0 CROSS JOIN pl CROSS JOIN nb
       |  GROUP BY x0.vec_id),
       |xs AS (
       |  SELECT s.sh, x.vec_id, x.v,
       |    least(4096, greatest(2,
       |      CAST((count(1) OVER (PARTITION BY s.sh) + 63) // 64
       |        AS INTEGER))) AS k,
       |    row_number() OVER (PARTITION BY s.sh ORDER BY x.vec_id) AS rn
       |  FROM sh0 s JOIN x0 x USING (vec_id)),
       |c0 AS (
       |  SELECT sh, CAST(rn - 1 AS INTEGER) AS cl, v AS cv
       |  FROM xs WHERE rn <= k),
       |d1 AS (
       |  SELECT xs.sh, xs.vec_id, c0.cl,
       |    list_reduce(list_transform(list_zip(xs.v, c0.cv),
       |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
       |  FROM xs JOIN c0 ON c0.sh = xs.sh),
       |a1 AS (
       |  SELECT sh, vec_id, cl FROM (
       |    SELECT sh, vec_id, cl,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
       |    FROM d1) WHERE rk = 1),
       |u AS (SELECT vec_id, unnest(v) AS el, generate_subscripts(v, 1) AS i
       |  FROM x0),
       |m1 AS (
       |  SELECT a1.sh, a1.cl, u.i, round(avg(u.el), 6) AS c
       |  FROM a1 JOIN u USING (vec_id) GROUP BY a1.sh, a1.cl, u.i),
       |c1 AS (SELECT sh, cl, list(c ORDER BY i) AS cv FROM m1 GROUP BY sh, cl),
       |d2 AS (
       |  SELECT xs.sh, xs.vec_id, c1.cl,
       |    list_reduce(list_transform(list_zip(xs.v, c1.cv),
       |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
       |  FROM xs JOIN c1 ON c1.sh = xs.sh),
       |a2 AS (
       |  SELECT sh, vec_id, cl FROM (
       |    SELECT sh, vec_id, cl,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
       |    FROM d2) WHERE rk = 1),
       |p AS (
       |  SELECT xa.vec_id AS id_a, xb.vec_id AS id_b,
       |    list_dot_product(xa.v, xb.v) /
       |      (sqrt(list_dot_product(xa.v, xa.v)) *
       |       sqrt(list_dot_product(xb.v, xb.v))) AS cos_raw
       |  FROM a2 aa JOIN a2 ab ON aa.sh = ab.sh AND aa.cl = ab.cl
       |    AND aa.vec_id < ab.vec_id
       |  JOIN x0 xa ON xa.vec_id = aa.vec_id
       |  JOIN x0 xb ON xb.vec_id = ab.vec_id)
       |SELECT id_a, id_b, round(cos_raw, 6) AS cosine FROM p
       |WHERE cos_raw >= 0.99
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** `sim_ann` (random-hyperplane LSH top-k) replayed in SQL with the
    * engine's own 8×6 plane matrix rendered as literals — the same
    * technique as `dedup_semdedup_lsh`'s oracle: band keys are the
    * sign pattern of seeded projections (shared left-to-right dot
    * fold vs 0), candidates the distinct same-(table, key) pairs, and
    * the exact cosine rank replays `sim_topk`'s arithmetic. */
  private lazy val AnnOracle: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(64, 8, 6, 7L)
    val planeRows = (for {
      (tbl, ti) <- planes.zipWithIndex
      (h, bi) <- tbl.zipWithIndex
    } yield s"  ($ti, $bi, [${h.mkString(", ")}]::DOUBLE[])").mkString(",\n")
    s"""WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pl AS (SELECT * FROM (VALUES
       |$planeRows) AS t(ti, bi, pv)),
       |bands AS (
       |  SELECT x.vec_id, pl.ti,
       |    sum(CASE WHEN list_reduce(list_transform(list_zip(x.v, pl.pv),
       |        q -> q[1] * q[2]), (a, b) -> a + b) > 0
       |      THEN (1::BIGINT << pl.bi) ELSE 0 END) AS bh
       |  FROM x CROSS JOIN pl GROUP BY x.vec_id, pl.ti),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS nbr_id
       |  FROM (SELECT * FROM bands WHERE vec_id < 10) p
       |  JOIN bands c ON c.ti = p.ti AND c.bh = p.bh
       |  WHERE c.vec_id <> p.vec_id),
       |xn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(v, e -> e * e),
       |      (a, b) -> a + b)) AS nv
       |  FROM x),
       |scored AS (
       |  SELECT cand.probe_id, cand.nbr_id,
       |    CASE WHEN p.nv * n.nv > 0 THEN
       |      list_reduce(list_transform(list_zip(p.v, n.v),
       |        q -> q[1] * q[2]), (s, t) -> s + t) / (p.nv * n.nv)
       |    ELSE 0.0 END AS cosine
       |  FROM cand
       |  JOIN xn p ON p.vec_id = cand.probe_id
       |  JOIN xn n ON n.vec_id = cand.nbr_id)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, nbr_id FROM (
       |  SELECT probe_id, nbr_id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, nbr_id) AS rank
       |  FROM scored) WHERE rank <= 10
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** Full IVF-flat index replayed in SQL (shared by `sim_ivf` and
    * `sim_ivf_pruned` — the persisted layout changes the PLAN, not the
    * answer, so both oracles are the same text): the md5-keyed centroid
    * sample (`Similarity.ivfCentroids`), the cosine-distance cell
    * assignment with its zero-norm → 2.0 guard, the probes' 4-of-16
    * cell routing, and the within-cell exact rank. Every float fold is
    * the engine's left-to-right double sum (list_reduce seeds with the
    * first element; 0.0 + t ≡ t) and every product keeps the engine's
    * operand order (nv·nc), so distances — and with them cell
    * boundaries and ranks — are bit-identical. */
  private val IvfFlatOracle: String =
    """WITH xn AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, e -> e * e),
      |      (a, b) -> a + b)) AS nv
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
      |cents AS (
      |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
      |      AS cid, v AS cv,
      |    sqrt(list_reduce(list_transform(v, e -> e * e),
      |      (a, b) -> a + b)) AS nc
      |  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v
      |        FROM xn ORDER BY h, vec_id LIMIT 16)),
      |cdist AS (
      |  SELECT xn.vec_id, cents.cid,
      |    CASE WHEN xn.nv * cents.nc > 0 THEN
      |      1.0 - list_reduce(list_transform(list_zip(xn.v, cents.cv),
      |        p -> p[1] * p[2]), (a, b) -> a + b) / (xn.nv * cents.nc)
      |    ELSE 2.0 END AS dist
      |  FROM xn CROSS JOIN cents),
      |assigned AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |    FROM cdist) WHERE rk = 1),
      |pc AS (
      |  SELECT vec_id AS probe_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |    FROM cdist WHERE vec_id < 10) WHERE rk <= 4),
      |scored AS (
      |  SELECT pc.probe_id, a.vec_id AS nbr_id,
      |    CASE WHEN p.nv * n.nv > 0 THEN
      |      list_reduce(list_transform(list_zip(p.v, n.v),
      |        q -> q[1] * q[2]), (s, t) -> s + t) / (p.nv * n.nv)
      |    ELSE 0.0 END AS cosine
      |  FROM pc JOIN assigned a ON a.cell = pc.cell
      |  JOIN xn p ON p.vec_id = pc.probe_id
      |  JOIN xn n ON n.vec_id = a.vec_id
      |  WHERE a.vec_id <> pc.probe_id)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, nbr_id FROM (
      |  SELECT probe_id, nbr_id,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, nbr_id) AS rank
      |  FROM scored) WHERE rank <= 10
      |ORDER BY probe_id, rank""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for s8_manifest (file-level
    * op) → driver records a rows-only check; it is locked down by the
    * scalatest suite instead. The entire FNV-1a hash family
    * (fingerprint / winnow / simhash / minhash-LSH) IS replayed —
    * see [[fnvSql]]. */
  def oracleSql: Map[String, String] = Map(
    "text_fingerprint" -> FingerprintOracle,
    "text_winnow" -> WinnowOracle,
    "dedup_minhash" -> MinHashOracle,
    "dedup_minhash_prune" -> MinHashPruneOracle,
    "dedup_simhash" -> SimHashOracle,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "skew_salted_join" ->
      """SELECT s.s_nationkey, count(*) AS n,
        |  round(sum(l.l_quantity), 2) AS sum_qty
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "skew_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "skew_join_card" ->
      """WITH nl AS (
        |  SELECT user_id AS key, count(*) AS n_left
        |  FROM events GROUP BY 1),
        |nr AS (
        |  SELECT user_id AS key, count(*) AS n_right
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p AS (
        |  SELECT key, n_left, n_right, n_left * n_right AS pairs
        |  FROM nl JOIN nr USING (key)),
        |t AS (SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs FROM p)
        |SELECT key, n_left, n_right, CAST(pairs AS BIGINT) AS pairs,
        |  total_pairs
        |FROM p CROSS JOIN t
        |ORDER BY pairs DESC, key LIMIT 5""".stripMargin,
    "q3_join" ->
      """SELECT c_nationkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "p1_add_flags" ->
      s"""$SeededCte SELECT event_id,
         |  CASE WHEN isnan(value2) THEN NULL ELSE value2 END AS value2,
         |  CASE WHEN value2 IS NULL OR isnan(value2) THEN -1 ELSE 0 END AS value2_qcflag
         |FROM e2 ORDER BY event_id""".stripMargin,
    "p3_remove_flags" ->
      s"""$SeededCte SELECT event_id,
         |  CASE WHEN isnan(value2) THEN NULL ELSE value2 END AS value2
         |FROM seeded ORDER BY event_id""".stripMargin,
    "p4_transfer" ->
      s"""$SeededCte SELECT event_id, value2_qcflag AS value_qcflag
         |FROM seeded ORDER BY event_id""".stripMargin,
    "p5_apply_flags" ->
      s"""$SeededCte SELECT event_id,
         |  CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END AS value2
         |FROM seeded ORDER BY event_id""".stripMargin,
    "p14_auto_suffix" ->
      s"""$SeededCte SELECT event_id,
         |  CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END AS value2
         |FROM seeded ORDER BY event_id""".stripMargin,
    "p6_clean_mask" ->
      s"""$SeededCte SELECT event_id,
         |  CASE WHEN value2_qcflag < 1 THEN NULL ELSE value2 END AS value2
         |FROM seeded ORDER BY event_id""".stripMargin,
    "p7_hide_bad" ->
      s"""$SeededCte SELECT event_id FROM seeded
         |WHERE value2_qcflag >= 0 ORDER BY event_id""".stripMargin,
    "p9_flag_class" ->
      s"""$SeededCte SELECT event_id FROM seeded
         |WHERE value2_qcflag = 1 ORDER BY event_id""".stripMargin,
    "p10_secondary" ->
      s"""$SeededCte SELECT event_id FROM seeded
         |WHERE NOT (value2 IS NULL OR isnan(value2)) AND value2_qcflag >= 0
         |ORDER BY event_id""".stripMargin,
    "a1_progress" ->
      s"""$SeededCte SELECT 'value2' AS variable,
         |  count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))) AS total,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag NOT IN (0, -1)
         |      AND NOT (value2 IS NULL OR isnan(value2))))
         |    / nullif(count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))), 0), 2)
         |    AS pct_checked,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = 1)) / count(*), 2) AS pct_approved,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = 0)) / count(*), 2) AS pct_unchecked,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = -1)) / count(*), 2) AS pct_missing,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = -2)) / count(*), 2) AS pct_flagged
         |FROM seeded""".stripMargin,
    "p8_nonmissing" ->
      s"""$SeededCte SELECT event_id FROM seeded
         |WHERE NOT (value2 IS NULL OR isnan(value2)) AND ts IS NOT NULL
         |ORDER BY event_id""".stripMargin,
    "p2_auto_discover" ->
      """SELECT * FROM (VALUES ('event_id_qcflag'), ('user_id_qcflag'),
        |  ('value2_qcflag'), ('value_qcflag')) t(flag_col)
        |ORDER BY flag_col""".stripMargin,
    "p11_choices" ->
      """SELECT * FROM (VALUES ('event_id'), ('user_id'),
        |  ('value'), ('value2')) t(var)
        |ORDER BY var""".stripMargin,
    "p13_is_flagged" ->
      """SELECT * FROM (VALUES ('flagged', TRUE), ('raw', FALSE))
        |  t("case", is_flagged)
        |ORDER BY "case"""".stripMargin,
    "p12_by_ids" ->
      s"""$SeededCte SELECT event_id, value2_qcflag FROM seeded
         |WHERE event_id IN (3, 14, 159, 2653, 5897) ORDER BY event_id""".stripMargin,
    "a3_domain" ->
      s"""$SeededCte, corrupted AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 101 = 0 THEN 7 ELSE value2_qcflag END AS f
         |  FROM seeded)
         |SELECT DISTINCT 'value2' AS variable, f AS bad_flag
         |FROM corrupted WHERE f NOT IN (-2, -1, 0, 1) ORDER BY bad_flag""".stripMargin,
    "a4_hide_complete" ->
      s"""$SeededCte SELECT 'value2' AS variable,
         |  count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))) AS total,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag NOT IN (0, -1)
         |      AND NOT (value2 IS NULL OR isnan(value2))))
         |    / nullif(count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))), 0), 2)
         |    AS pct_checked,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = 1)) / count(*), 2) AS pct_approved,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = 0)) / count(*), 2) AS pct_unchecked,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = -1)) / count(*), 2) AS pct_missing,
         |  round(100.0 * (count(*) FILTER (WHERE value2_qcflag = -2)) / count(*), 2) AS pct_flagged
         |FROM seeded""".stripMargin,
    "a7_win_range" ->
      """WITH w AS (
        |  SELECT *, CAST(floor(epoch(ts - (SELECT min(ts) FROM events)) / 86400.0) AS BIGINT) AS win_id
        |  FROM events)
        |SELECT win_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M') || ' - ' ||
        |    strftime(max(ts), '%Y-%m-%d %H:%M') AS label
        |FROM w GROUP BY win_id
        |HAVING max(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 ELSE 0 END) = 1
        |ORDER BY win_id""".stripMargin,
    "w4_xrange" ->
      """WITH b AS (SELECT CAST(epoch_ms(min(ts)) AS BIGINT) AS t0 FROM events)
        |SELECT t0 + 3 * 86400000 - 1728000 AS x_lo_ms,
        |       t0 + 4 * 86400000 + 1728000 AS x_hi_ms FROM b""".stripMargin,
    "o1_win_slice" ->
      """WITH w AS (
        |  SELECT *, CAST(floor(epoch(ts - (SELECT min(ts) FROM events)) / 86400.0) AS BIGINT) AS win_id
        |  FROM events),
        |kept AS (
        |  SELECT win_id, ROW_NUMBER() OVER (ORDER BY win_id) - 1 AS win_dense
        |  FROM (SELECT DISTINCT win_id FROM w
        |        WHERE value IS NOT NULL AND NOT isnan(value)))
        |SELECT event_id FROM w JOIN kept USING (win_id)
        |WHERE win_dense = 3 ORDER BY event_id""".stripMargin,
    "s1_checkpoint" ->
      s"""$SeededCte SELECT event_id, value2_qcflag FROM seeded ORDER BY event_id""",
    "s2_csv_source" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_s,
        |  round(value, 6) AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "s4_parquet_sink" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
        |FROM events""".stripMargin,
    "s9_bucketed_slice" ->
      """WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
        |FROM events, b WHERE CAST(ts AS DATE) = d0 + 3""".stripMargin,
    "s10_split_layout" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |    AS sum_tokens
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) >= 'cccccccc'
        |  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "s15_dpp_join" ->
      """WITH f AS (
        |  SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events),
        |top_days AS (
        |  SELECT day FROM (
        |    SELECT day, count(*) AS n FROM f
        |    WHERE event_type = 'purchase' GROUP BY 1
        |    ORDER BY n DESC, day LIMIT 5)),
        |j AS (SELECT f.* FROM f JOIN top_days USING (day))
        |SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "s11_upsert" ->
      """WITH base AS (
        |  SELECT event_id, value, 0 AS version, 0 AS src FROM events),
        |upd AS (
        |  SELECT event_id, value * 2 AS value, 1 AS version, 1 AS src
        |  FROM events WHERE event_id % 10 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_id ORDER BY version DESC, src DESC) AS rn
        |  FROM u)
        |SELECT event_id, value, CAST(version AS BIGINT) AS version
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "s12_json_source" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s13_orc_source" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the bucketed layout changes the PLAN, not the answer: the oracle
    // is the plain join aggregate
    "s14_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s7_dual_export" ->
      s"""$SeededCte
         |SELECT * FROM (
         |  SELECT 'clean' AS variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN value2_qcflag >= 0 AND value2 IS NOT NULL
         |        AND NOT isnan(value2) THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         |    false AS has_flag
         |  FROM seeded
         |  UNION ALL
         |  SELECT 'qc', CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN value2 IS NOT NULL AND NOT isnan(value2)
         |        THEN 1 ELSE 0 END) AS BIGINT), true
         |  FROM seeded)
         |ORDER BY variant""".stripMargin,
    // s8's Spark side re-derives every written file's MD5 from scratch
    // (independent walk + MessageDigest) and compares with the manifest
    // md5Manifest wrote — the oracle is the exact constant table those
    // verdicts must equal, so any digest/path/coverage drift fails the
    // hash compare (r14 verdict task 2: no longer rows-only).
    "s8_manifest" ->
      """SELECT * FROM (VALUES
        |  ('_manifest_text', true),
        |  ('ev_clean.csv', true),
        |  ('ev_clean.parquet', true),
        |  ('ev_qc.csv', true),
        |  ('ev_qc.parquet', true))
        |AS t(dataset, md5_match) ORDER BY dataset""".stripMargin,
    // sheet k holds rows [k*2048, (k+1)*2048) of the (ts, event_id)
    // row order; counts come from READING BACK the written sheet CSVs,
    // so the oracle checks the files on disk, not the plan
    "s5_xlsx" ->
      """WITH r AS (
        |  SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS rid
        |  FROM events),
        |s AS (
        |  SELECT CASE WHEN (SELECT count(*) FROM events) <= 2048
        |              THEN 'ev_qc'
        |              ELSE 'ev_qc_' ||
        |                CAST(CAST(floor(rid / 2048.0) AS BIGINT) + 1 AS VARCHAR)
        |         END AS sheet
        |  FROM r)
        |SELECT sheet, count(*) AS n_rows FROM s
        |GROUP BY sheet ORDER BY sheet""".stripMargin,
    "a2_consistency" ->
      s"""$SeededCte SELECT 'value2' AS variable,
         |  count(*) FILTER (WHERE value2 IS NULL OR isnan(value2)) AS na_count,
         |  count(*) FILTER (WHERE value2_qcflag = -1) AS flag_na_count,
         |  count(*) FILTER (WHERE value2 IS NULL OR isnan(value2))
         |    = count(*) FILTER (WHERE value2_qcflag = -1) AS na_consistent
         |FROM seeded""".stripMargin,
    "a5_min_time" ->
      s"SELECT strftime(min(ts), '$TsFmtDk') AS t0 FROM events",
    "a8_y_range" ->
      """SELECT round(min(value) - (max(value) - min(value)) * 0.02, 6) AS y_min,
        |  round(max(value) + (max(value) - min(value)) * 0.02, 6) AS y_max
        |FROM events""".stripMargin,
    "a11_agreement" ->
      s"""$SeededCte, auto AS (
         |  SELECT *, CASE WHEN value2 IS NULL OR isnan(value2) THEN -1
         |                 WHEN value2 > 140 THEN -2
         |                 WHEN value2 < 90 THEN 1
         |                 ELSE 0 END AS auto_qcflag
         |  FROM seeded),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN value2_qcflag = auto_qcflag THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_agree,
         |    sum(CASE WHEN value2_qcflag = -2 THEN 1 ELSE 0 END) AS am2,
         |    sum(CASE WHEN auto_qcflag = -2 THEN 1 ELSE 0 END) AS bm2,
         |    sum(CASE WHEN value2_qcflag = -1 THEN 1 ELSE 0 END) AS am1,
         |    sum(CASE WHEN auto_qcflag = -1 THEN 1 ELSE 0 END) AS bm1,
         |    sum(CASE WHEN value2_qcflag = 0 THEN 1 ELSE 0 END) AS a0,
         |    sum(CASE WHEN auto_qcflag = 0 THEN 1 ELSE 0 END) AS b0,
         |    sum(CASE WHEN value2_qcflag = 1 THEN 1 ELSE 0 END) AS a1,
         |    sum(CASE WHEN auto_qcflag = 1 THEN 1 ELSE 0 END) AS b1
         |  FROM auto),
         |p AS (
         |  SELECT n, n_agree,
         |    CAST(n_agree AS DOUBLE) / n AS po,
         |    (CAST(am2 AS DOUBLE) / n) * (CAST(bm2 AS DOUBLE) / n)
         |      + (CAST(am1 AS DOUBLE) / n) * (CAST(bm1 AS DOUBLE) / n)
         |      + (CAST(a0 AS DOUBLE) / n) * (CAST(b0 AS DOUBLE) / n)
         |      + (CAST(a1 AS DOUBLE) / n) * (CAST(b1 AS DOUBLE) / n) AS pe
         |  FROM g)
         |SELECT n, n_agree, po, pe,
         |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
         |FROM p""".stripMargin,
    "a10_value_stats" ->
      """SELECT event_type, min(value) AS v_min, max(value) AS v_max,
        |  round(avg(value), 6) AS v_avg,
        |  round(quantile_cont(value, 0.5), 6) AS v_median,
        |  count(value) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a9_win_count" ->
      """SELECT count(*) AS n FROM (
        |  SELECT CAST(floor(epoch(ts - (SELECT min(ts) FROM events)) / 86400.0) AS BIGINT) AS win_id
        |  FROM events
        |  GROUP BY 1
        |  HAVING count(*) FILTER (WHERE NOT (value IS NULL OR isnan(value))) > 0)""".stripMargin,
    "w1_rowid" ->
      """SELECT event_id,
        |  row_number() OVER (ORDER BY ts, event_id) - 1 AS rowid
        |FROM events ORDER BY event_id""".stripMargin,
    "w2_win_id" ->
      """SELECT event_id,
        |  CAST(floor(epoch(ts - (SELECT min(ts) FROM events)) / 86400.0) AS BIGINT) AS win_id
        |FROM events ORDER BY event_id""".stripMargin,
    "w3_catalog" ->
      s"""WITH w AS (
         |  SELECT *, CAST(floor(epoch(ts - (SELECT min(ts) FROM events)) / 86400.0) AS BIGINT) AS win_id
         |  FROM events),
         |k AS (
         |  SELECT win_id, count(*) AS n_rows, min(ts) AS tmin, max(ts) AS tmax
         |  FROM w GROUP BY 1
         |  HAVING count(*) FILTER (WHERE NOT (value IS NULL OR isnan(value))) > 0)
         |SELECT win_id,
         |  CAST(dense_rank() OVER (ORDER BY win_id) - 1 AS BIGINT) AS win_dense,
         |  n_rows, strftime(tmin, '$TsFmtDk') AS t_min_s,
         |  strftime(tmax, '$TsFmtDk') AS t_max_s
         |FROM k ORDER BY win_id""".stripMargin,
    "a6_win_filter" ->
      s"""$SeededCte, $WinCte
         |SELECT win_id FROM win GROUP BY win_id
         |HAVING count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))) > 0
         |   AND count(*) FILTER (WHERE value2_qcflag = 0) > 0
         |ORDER BY win_id""".stripMargin,
    "m1_flag_selected" -> mOracle(
      "CASE WHEN event_id % 7 = 0 AND value2_qcflag <> -1 THEN -2 ELSE value2_qcflag END"),
    "m2_approve_selected" -> mOracle(
      "CASE WHEN event_id % 7 = 0 AND value2_qcflag <> -1 THEN 1 ELSE value2_qcflag END"),
    "m3_unflag_selected" -> mOracle(
      "CASE WHEN event_id % 7 = 0 AND value2_qcflag <> -1 THEN 0 ELSE value2_qcflag END"),
    "m4_flag_window" -> mOracle(
      "CASE WHEN win_id = 3 AND value2_qcflag <> -1 THEN -2 ELSE value2_qcflag END"),
    "m5_approve_unflagged" -> mOracle(
      """CASE WHEN win_id = 3 AND value2_qcflag = 0
        |  AND NOT (value2 IS NULL OR isnan(value2)) THEN 1
        |  ELSE value2_qcflag END""".stripMargin),
    "m6_reset_window" -> mOracle(
      "CASE WHEN win_id = 3 AND value2_qcflag <> -1 THEN 0 ELSE value2_qcflag END"),
    "m7_flag_approve_next" -> mOracle(
      """CASE WHEN event_id % 7 = 0 AND win_id = 3 THEN -2
        |  WHEN win_id = 3 AND value2_qcflag = 0
        |    AND NOT (value2 IS NULL OR isnan(value2)) THEN 1
        |  ELSE value2_qcflag END""".stripMargin),
    "m8_reset_all" -> mOracle(
      "CASE WHEN value2_qcflag <> -1 THEN 0 ELSE value2_qcflag END"),
    "m9_event_fold" ->
      s"""$SeededCte, $WinCte,
         |g1 AS (
         |  SELECT *, CASE WHEN value2_qcflag <> -1 THEN 0
         |                 ELSE value2_qcflag END AS f1
         |  FROM win),
         |p2 AS (
         |  SELECT *, CASE WHEN event_id % 91 = 0 AND event_id < 1000
         |                      AND f1 <> -1 THEN -2 ELSE f1 END AS f2
         |  FROM g1)
         |SELECT event_id,
         |  CASE WHEN win_id = 3 AND f2 = 0
         |            AND NOT (value2 IS NULL OR isnan(value2)) THEN 1
         |       ELSE f2 END AS value2_qcflag
         |FROM p2 ORDER BY event_id""".stripMargin,
    // the scripted event log replayed as a plain sequential CASE
    // chain (one CTE per action seq, guards against the RUNNING state —
    // the mid-script compaction must be semantically invisible);
    // rid mirrors QcWindows.withRowId's (ts, event_id) row order
    "qc_session_e2e" ->
      s"""$SeededCte, $WinCte,
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS rid
         |  FROM win),
         |c1 AS (SELECT *, CASE WHEN value2_qcflag <> -1 THEN 0
         |                      ELSE value2_qcflag END AS f1 FROM r),
         |c2 AS (SELECT *, CASE WHEN rid % 91 = 0 AND rid < 1000 AND f1 <> -1
         |                      THEN -2 ELSE f1 END AS f2 FROM c1),
         |c3 AS (SELECT *, CASE WHEN win_id = 3 AND f2 = 0
         |                       AND NOT (value2 IS NULL OR isnan(value2))
         |                      THEN 1 ELSE f2 END AS f3 FROM c2),
         |c4 AS (SELECT *, CASE WHEN win_id = 5 AND f3 <> -1
         |                      THEN -2 ELSE f3 END AS f4 FROM c3),
         |c5 AS (SELECT *, CASE WHEN rid % 182 = 0 AND rid < 1000 AND f4 <> -1
         |                      THEN 0 ELSE f4 END AS f5 FROM c4),
         |c6 AS (SELECT *, CASE WHEN rid % 97 = 0 AND rid < 500
         |                      THEN -2 ELSE f5 END AS f6 FROM c5),
         |c7 AS (SELECT *, CASE WHEN win_id = 2 AND f6 = 0
         |                       AND NOT (value2 IS NULL OR isnan(value2))
         |                      THEN 1 ELSE f6 END AS f7 FROM c6),
         |c8 AS (SELECT *, CASE WHEN win_id = 5 AND f7 <> -1
         |                      THEN 0 ELSE f7 END AS f8 FROM c7)
         |SELECT event_id,
         |  CASE WHEN rid >= 91 AND rid < 800 AND (rid - 91) % 182 = 0
         |        AND f8 <> -1 THEN 1
         |       ELSE f8 END AS value2_qcflag
         |FROM c8 ORDER BY event_id""".stripMargin,
    "stream_enrich" ->
      """WITH dim AS (
        |  SELECT user_id, min(ts) AS signup_ts
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT CASE WHEN d.user_id IS NULL THEN NULL
        |              ELSE CAST(floor(epoch(e.ts - d.signup_ts) / 86400.0)
        |                AS BIGINT) END AS days_since
        |  FROM events e LEFT JOIN dim d USING (user_id)
        |  WHERE e.event_type = 'purchase')
        |SELECT days_since, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_progress" ->
      s"""$SeededCte
         |SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_start_s,
         |  count(*) AS n_rows,
         |  CAST(0 AS BIGINT) AS n_approved,
         |  CAST(count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))
         |      AND value2 <= 150) AS BIGINT) AS n_unchecked,
         |  CAST(count(*) FILTER (WHERE value2 IS NULL OR isnan(value2)) AS BIGINT)
         |    AS n_missing,
         |  CAST(count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))
         |      AND value2 > 150) AS BIGINT) AS n_flagged
         |FROM e2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_asof" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT event_id AS r_event_id, user_id, ts AS s_ts
        |  FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, s.r_event_id
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND p.ts >= s.s_ts
        |ORDER BY p.event_id""".stripMargin,
    "ts_asof_tol" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT event_id AS r_event_id, user_id, ts AS s_ts
        |  FROM events WHERE event_type = 'signup')
        |SELECT p.event_id,
        |  CASE WHEN epoch(p.ts - s.s_ts) <= 604800.0 THEN s.r_event_id END
        |    AS r_event_id
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND p.ts >= s.s_ts
        |ORDER BY p.event_id""".stripMargin,
    "ts_asof_fwd" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT event_id AS r_event_id, user_id, ts AS s_ts
        |  FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, s.r_event_id
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND p.ts <= s.s_ts
        |ORDER BY p.event_id""".stripMargin,
    "ts_asof_near" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT event_id AS r_event_id, user_id, ts AS s_ts
        |  FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, n.r_event_id
        |FROM p LEFT JOIN LATERAL (
        |  SELECT r_event_id FROM s
        |  WHERE s.user_id = p.user_id
        |  ORDER BY abs(epoch(s.s_ts - p.ts)),
        |    CASE WHEN s.s_ts <= p.ts THEN 0 ELSE 1 END
        |  LIMIT 1) n ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "sketch_kmv" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM h),
        |g AS (
        |  SELECT event_type,
        |    CAST(least(max(cnt), 64) AS BIGINT) AS n_sketch,
        |    max(CASE WHEN rk = 64 THEN h END) AS hk,
        |    max(cnt) AS cnt
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_sketch,
        |  CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
        |    AS est_distinct
        |FROM g ORDER BY event_type""".stripMargin,
    "sketch_kmv_setops" ->
      """WITH ha AS (
        |  SELECT DISTINCT CAST(concat('0x',
        |      substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'click'),
        |hb AS (
        |  SELECT DISTINCT CAST(concat('0x',
        |      substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'view'),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        |ku AS (
        |  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        |  ORDER BY h LIMIT 64),
        |ea AS (
        |  SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) END
        |    AS e FROM ka),
        |eb AS (
        |  SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) END
        |    AS e FROM kb),
        |nu AS (SELECT count(*) AS n, max(h) AS hk FROM ku),
        |eu AS (
        |  SELECT CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
        |    AS e, n FROM nu),
        |ix AS (
        |  SELECT count(*) AS m FROM ku
        |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
        |SELECT round(ea.e, 6) AS est_a, round(eb.e, 6) AS est_b,
        |  round(eu.e, 6) AS est_union,
        |  round(CASE WHEN eu.n < 64 THEN CAST(ix.m AS DOUBLE)
        |    ELSE CAST(ix.m AS DOUBLE) / 64.0 * eu.e END, 6)
        |    AS est_intersection
        |FROM ea, eb, eu, ix""".stripMargin,
    // rebuild the identical 256-register HLL from the same md5-60-bit
    // hash family: register = low 8 bits, rank = leading zeros of the
    // high 52 bits + 1 via length(bin(...)); the harmonic sum is exact
    // integer arithmetic (powers of two scaled by 2^53) so no float
    // summation-order drift can surface
    "sketch_hll" ->
      """WITH base AS (
        |  SELECT event_type, user_id FROM events
        |  UNION ALL SELECT 'ALL', user_id FROM events),
        |r AS (
        |  SELECT event_type,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) AS h
        |  FROM base),
        |b AS (
        |  SELECT event_type, h % 256 AS idx,
        |    CASE WHEN (h >> 8) = 0 THEN 53
        |         ELSE 53 - length(bin(h >> 8)) END AS rho
        |  FROM r),
        |reg AS (SELECT event_type, idx, max(rho) AS m FROM b GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, count(*) AS present,
        |    sum(1::BIGINT << (53 - m)) AS s_present
        |  FROM reg GROUP BY 1),
        |est AS (
        |  SELECT event_type,
        |    CAST(256 - present AS BIGINT) AS v,
        |    CAST(s_present + (256 - present) * (1::BIGINT << 53)
        |      AS DOUBLE) AS s
        |  FROM agg)
        |SELECT event_type,
        |  round(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0 / s <= 640.0 AND v > 0
        |    THEN 256.0 * ln(256.0 / v)
        |    ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0 / s END, 6) AS hll_est
        |FROM est ORDER BY event_type""".stripMargin,
    // rebuild the identical d=4 x w=256 sketch from the same
    // md5-60-bit hash family, then min over rows per key
    "sketch_cms" ->
      """WITH pos AS (
        |  SELECT user_id, i.r AS row,
        |    CAST(concat('0x', substring(md5(
        |        CAST(user_id AS VARCHAR) || '|' || CAST(i.r AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 256 AS pos
        |  FROM events, LATERAL (SELECT unnest(range(0, 4)) AS r) i),
        |cells AS (SELECT row, pos, count(*) AS cnt FROM pos GROUP BY 1, 2),
        |keypos AS (SELECT DISTINCT user_id, row, pos FROM pos),
        |est AS (
        |  SELECT user_id, min(coalesce(cnt, 0)) AS cms_est
        |  FROM keypos LEFT JOIN cells USING (row, pos) GROUP BY user_id),
        |exact AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY 1)
        |SELECT user_id, cms_est, true_n
        |FROM est JOIN exact USING (user_id) ORDER BY user_id""".stripMargin,
    "cur_expectations" ->
      """WITH t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type IN
        |        ('click', 'error', 'purchase', 'signup', 'view')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN user_id > 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS f2,
        |    CAST(sum(CASE WHEN value IS NOT NULL THEN 0 ELSE 1 END)
        |      AS BIGINT) AS f3,
        |    CAST(sum(CASE WHEN value >= 0 AND value <= 200
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f4
        |  FROM events)
        |SELECT rule, n_fail, n_rows FROM (
        |  SELECT 'type_in_domain' AS rule, f1 AS n_fail, n AS n_rows FROM t
        |  UNION ALL
        |  SELECT 'user_id_positive', f2, n FROM t
        |  UNION ALL
        |  SELECT 'value_not_null', f3, n FROM t
        |  UNION ALL
        |  SELECT 'value_in_range', f4, n FROM t)
        |ORDER BY rule""".stripMargin,
    "q4_semi" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 4) AS revenue
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    // 5 unrolled deterministic PageRank iterations, every float op
    // forced to DOUBLE (DuckDB decimal literals would otherwise
    // divide in DECIMAL), round-6 per iteration like the Spark side
    "graph_pagerank" -> {
      def step(i: Int): String =
        s"""r$i AS (
           |  SELECT node, round(0.15::DOUBLE / n + 0.85::DOUBLE * s, 6) AS r
           |  FROM (
           |    SELECT e.dst AS node, sum(r${i - 1}.r / deg.deg) AS s
           |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
           |    JOIN deg ON deg.src = e.src GROUP BY 1) CROSS JOIN n),""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM e0
         |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM deg),
         |r0 AS (
         |  SELECT src AS node, round(1.0::DOUBLE / n, 6) AS r
         |  FROM deg CROSS JOIN n),
         |${(1 to 5).map(step).mkString("\n")}
         |z AS (SELECT 1)
         |SELECT node, r FROM r5 ORDER BY node""".stripMargin
    },
    "graph_ppr" -> {
      def step(i: Int): String =
        s"""r$i AS (
           |  SELECT coalesce(p.node, tele.node) AS node,
           |    round(coalesce(tele.t, 0.0::DOUBLE) +
           |      0.85::DOUBLE * coalesce(p.s, 0.0::DOUBLE), 6) AS r
           |  FROM (
           |    SELECT e.b AS node, sum(r${i - 1}.r / deg.deg) AS s
           |    FROM und e JOIN r${i - 1} ON e.a = r${i - 1}.node
           |    JOIN dg deg ON deg.node = e.a GROUP BY 1) p
           |  FULL JOIN tele ON p.node = tele.node),""".stripMargin
      s"""WITH $CoSupplierCte,
         |dg AS (SELECT node, deg FROM deg),
         |seeds AS (
         |  SELECT DISTINCT s_suppkey AS node FROM supplier
         |  WHERE s_suppkey % 100 = 1),
         |mm AS (SELECT count(*) AS m FROM seeds),
         |tele AS (
         |  SELECT node, 0.15::DOUBLE / m AS t FROM seeds CROSS JOIN mm),
         |r0 AS (
         |  SELECT node, round(1.0::DOUBLE / m, 6) AS r
         |  FROM seeds CROSS JOIN mm),
         |${(1 to 4).map(step).mkString("\n")}
         |z AS (SELECT 1)
         |SELECT node, r FROM r4 ORDER BY node""".stripMargin
    },
    // triangles run on the NODE-SAMPLED projection (suppkey % 5 == 0
    // induced subgraph — degrees recomputed on the subgraph, matching
    // Graph.triangleCount which derives degrees from the edges it is
    // given); the other co-supplier oracles keep the full $CoSupplierCte
    "graph_triangles" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |    AND l1.l_suppkey < l2.l_suppkey
         |  WHERE l1.l_suppkey % 5 = 0 AND l2.l_suppkey % 5 = 0),
         |und AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
         |deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY 1),
         |o AS (
         |  SELECT CASE WHEN da.deg < db.deg
         |                OR (da.deg = db.deg AND e0.a < e0.b)
         |              THEN e0.a ELSE e0.b END AS u,
         |         CASE WHEN da.deg < db.deg
         |                OR (da.deg = db.deg AND e0.a < e0.b)
         |              THEN e0.b ELSE e0.a END AS v
         |  FROM e0
         |  JOIN deg da ON da.node = e0.a
         |  JOIN deg db ON db.node = e0.b),
         |wg AS (
         |  SELECT o1.u AS u, o1.v AS v, o2.v AS w2
         |  FROM o o1 JOIN o o2 ON o1.u = o2.u
         |  JOIN deg dv ON dv.node = o1.v
         |  JOIN deg dw ON dw.node = o2.v
         |  WHERE dv.deg < dw.deg OR (dv.deg = dw.deg AND o1.v < o2.v)),
         |t AS (
         |  SELECT wg.u, wg.v, wg.w2 FROM wg
         |  JOIN o ON o.u = wg.v AND o.v = wg.w2),
         |pn AS (
         |  SELECT node, count(*) AS c FROM (
         |    SELECT u AS node FROM t
         |    UNION ALL SELECT v FROM t
         |    UNION ALL SELECT w2 FROM t) GROUP BY 1)
         |SELECT deg.node AS node,
         |  CAST(coalesce(pn.c, 0) AS BIGINT) AS triangles
         |FROM deg LEFT JOIN pn ON pn.node = deg.node
         |ORDER BY deg.node""".stripMargin,
    "graph_bfs" -> {
      def hop(i: Int): String =
        s"""k$i AS (
           |  SELECT node, min(hops) AS hops FROM (
           |    SELECT node, hops FROM k${i - 1}
           |    UNION ALL
           |    SELECT und.b AS node, k${i - 1}.hops + 1 AS hops
           |    FROM und JOIN k${i - 1} ON und.a = k${i - 1}.node)
           |  GROUP BY 1),""".stripMargin
      s"""WITH $CoSupplierCte,
         |k0 AS (
         |  SELECT DISTINCT s_suppkey AS node, CAST(0 AS BIGINT) AS hops
         |  FROM supplier WHERE s_suppkey % 100 = 1),
         |${(1 to 3).map(hop).mkString("\n")}
         |z AS (SELECT 1)
         |SELECT node, CAST(hops AS BIGINT) AS hops
         |FROM k3 ORDER BY node""".stripMargin
    },
    "graph_jaccard" ->
      """WITH nb AS (
        |  SELECT DISTINCT l_suppkey AS id, o_custkey AS fp
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |capped AS (
        |  SELECT id, fp FROM nb
        |  QUALIFY count(*) OVER (PARTITION BY fp) <= 1000),
        |deg AS (SELECT id, count(*) AS deg FROM nb GROUP BY 1),
        |pairs AS (
        |  SELECT x.id AS id_a, y.id AS id_b,
        |    count(DISTINCT x.fp) AS n_shared
        |  FROM capped x JOIN capped y ON x.fp = y.fp AND x.id < y.id
        |  GROUP BY 1, 2 HAVING count(DISTINCT x.fp) >= 2)
        |SELECT id_a, id_b, n_shared,
        |  n_shared / (da.deg + db.deg - n_shared) AS jaccard
        |FROM pairs
        |JOIN deg da ON da.id = id_a
        |JOIN deg db ON db.id = id_b
        |ORDER BY id_a, id_b""".stripMargin,
    // one transitive-closure oracle checks BOTH CC engines — the
    // min-label and star-contraction algorithms share their output
    // contract (id → min id of component)
    "graph_cc" -> CcOracle,
    "graph_cc_star" -> CcOracle,
    "graph_lpa" -> {
      def round(i: Int): String =
        s"""c$i AS (
           |  SELECT und.a AS src, l${i - 1}.label AS label, count(*) AS cnt
           |  FROM und JOIN l${i - 1} ON und.b = l${i - 1}.node
           |  GROUP BY 1, 2),
           |l$i AS (
           |  SELECT src AS node, label FROM (
           |    SELECT src, label, row_number() OVER (
           |      PARTITION BY src ORDER BY cnt DESC, label ASC) AS rk
           |    FROM c$i) WHERE rk = 1),""".stripMargin
      s"""WITH $CoSupplierCte,
         |l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
         |${(1 to 3).map(round).mkString("\n")}
         |z AS (SELECT 1)
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    },
    "graph_kcore" -> {
      // 4 peeling rounds: keep_i = nodes with current-subgraph degree
      // >= 20; edges survive only when BOTH endpoints stay. Every
      // round CTE is MATERIALIZED: each c_i is referenced three times
      // (the union + both semi joins), and an inlining planner would
      // re-evaluate the chain ~3^rounds times — the exact blowup the
      // Spark side prevents with per-round localCheckpoint (at sf0.1
      // the inlined form exhausted DuckDB's temp spill)
      def peel(i: Int): String =
        s"""u${i - 1} AS MATERIALIZED (SELECT a, b FROM c${i - 1}
           |  UNION ALL SELECT b AS a, a AS b FROM c${i - 1}),
           |k$i AS MATERIALIZED (SELECT a AS node FROM u${i - 1}
           |  GROUP BY 1 HAVING count(*) >= 20),
           |c$i AS MATERIALIZED (
           |  SELECT c.a, c.b FROM c${i - 1} c
           |  JOIN k$i x ON c.a = x.node
           |  JOIN k$i y ON c.b = y.node),""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |c0 AS MATERIALIZED (
         |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
         |  FROM e0 WHERE s <> d),
         |${(1 to 4).map(peel).mkString("\n")}
         |fin AS (SELECT a, b FROM c4
         |  UNION ALL SELECT b AS a, a AS b FROM c4)
         |SELECT
         |  CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  CAST(count(*) AS BIGINT) AS deg
         |FROM (SELECT a AS node FROM fin) GROUP BY 1
         |ORDER BY 1""".stripMargin
    },
    "graph_hits" -> {
      // 3 HITS iterations in INTEGER micro-units (×1e6): raw sums are
      // exact integers in any order, and the only quantization is the
      // shared-double HALF_UP floor(q·1e6 + 0.5) after each L1 divide
      // — no round(double, dp) tie class anywhere (the ts_gap_stats
      // integer-space recipe).
      // MATERIALIZED for the same reason as graph_kcore: ar_i/hr_i
      // are each read twice (total + divide) and the chain would
      // otherwise re-inline ~4^iters times
      def iter(i: Int): String =
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.dst AS node, sum(h${i - 1}.h) AS a
           |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY 1),
           |a$i AS MATERIALIZED (
           |  SELECT node, floor(a / t.tot * 1000000 + 0.5) AS a
           |  FROM ar$i CROSS JOIN (SELECT sum(a) AS tot FROM ar$i) t),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS node, sum(a$i.a) AS h
           |  FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1),
           |h$i AS MATERIALIZED (
           |  SELECT node, floor(h / t.tot * 1000000 + 0.5) AS h
           |  FROM hr$i CROSS JOIN (SELECT sum(h) AS tot FROM hr$i) t),""".stripMargin
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |h0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS node, 1000000::BIGINT AS h FROM e),
         |${(1 to 3).map(iter).mkString("\n")}
         |z AS (SELECT 1)
         |SELECT
         |  CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  side, score
         |FROM (
         |  SELECT node, 'hub' AS side, h / 1000000.0 AS score FROM h3
         |  UNION ALL
         |  SELECT node, 'auth' AS side, a / 1000000.0 AS score FROM a3)
         |ORDER BY side, node""".stripMargin
    },
    // the IVM law: the incrementally-merged view must equal the
    // from-scratch aggregate over the whole log
    "ivm_merge" ->
      """SELECT user_id, CAST(count(value) AS BIGINT) AS n,
        |  round(sum(value) * 100) / 100 AS sv,
        |  min(value) AS mn, max(value) AS mx,
        |  round(round(sum(value) * 100) / 100 / count(value), 6) AS avg_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "cdc_apply" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_id, value FROM r
        |WHERE rk = 1 AND op <> 'D' ORDER BY user_id""".stripMargin,
    "sketch_quantile" ->
      """WITH v AS (SELECT value AS x FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM v),
        |h AS (
        |  SELECT CASE WHEN hi = lo THEN 1
        |    ELSE least(CAST(floor((x - lo) / ((hi - lo) / 512)) AS BIGINT)
        |      + 1, 512) END AS bk,
        |    count(*) AS cnt
        |  FROM v CROSS JOIN b GROUP BY 1),
        |c AS (SELECT bk, cnt, sum(cnt) OVER (ORDER BY bk) AS cum FROM h),
        |q AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
        |                     0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS q),
        |t AS (SELECT q, q * n AS target, lo, hi FROM q CROSS JOIN b),
        |f AS (
        |  SELECT t.q, t.lo, t.hi, t.target, c.bk, c.cnt, c.cum,
        |    row_number() OVER (PARTITION BY t.q ORDER BY c.bk) AS rk
        |  FROM t JOIN c ON c.cum >= t.target)
        |SELECT q, round(lo + (bk - 1 + (target - (cum - cnt)) / cnt)
        |    * ((hi - lo) / 512), 6) AS quantile
        |FROM f WHERE rk = 1 ORDER BY q""".stripMargin,
    "sketch_quantile_grouped" ->
      """WITH v AS (
        |  SELECT event_type AS g, value AS x FROM events
        |  WHERE value IS NOT NULL),
        |b AS (
        |  SELECT g, min(x) AS lo, max(x) AS hi, count(*) AS n
        |  FROM v GROUP BY 1),
        |h AS (
        |  SELECT g, CASE WHEN hi = lo THEN 1
        |    ELSE least(CAST(floor((x - lo) / ((hi - lo) / 256)) AS BIGINT)
        |      + 1, 256) END AS bk,
        |    count(*) AS cnt
        |  FROM v JOIN b USING (g) GROUP BY 1, 2),
        |c AS (
        |  SELECT g, bk, cnt,
        |    sum(cnt) OVER (PARTITION BY g ORDER BY bk) AS cum
        |  FROM h),
        |q AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
        |t AS (SELECT g, q, q * n AS target, lo, hi FROM b CROSS JOIN q),
        |f AS (
        |  SELECT t.g, t.q, t.lo, t.hi, t.target, c.bk, c.cnt, c.cum,
        |    row_number() OVER (PARTITION BY t.g, t.q ORDER BY c.bk) AS rk
        |  FROM t JOIN c ON c.g = t.g AND c.cum >= t.target)
        |SELECT g AS event_type, q,
        |  round(lo + (bk - 1 + (target - (cum - cnt)) / cnt)
        |    * ((hi - lo) / 256), 6) AS quantile
        |FROM f WHERE rk = 1 ORDER BY event_type, q""".stripMargin,
    "text_inverted_index" ->
      """WITH tok AS (
        |  SELECT DISTINCT t AS token, doc_id FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE len(trim(text)) > 0)
        |  WHERE t <> ''),
        |dfq AS (SELECT token, count(*) AS df FROM tok GROUP BY 1),
        |capped AS (
        |  SELECT token, doc_id FROM (
        |    SELECT token, doc_id,
        |      row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |    FROM tok)
        |  WHERE rn <= 20),
        |p AS (
        |  SELECT token,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |      AS postings
        |  FROM capped GROUP BY 1)
        |SELECT token, df, postings FROM dfq JOIN p USING (token)
        |ORDER BY token""".stripMargin,
    "grouped_topk" ->
      """SELECT event_type, rank, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS INT) AS rank
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "ts_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
        |d AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT cohort_week, wk - cohort_week AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM d JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // replay the 8-bit Morton interleave with plain shift/AND ops
    "layout_zorder" -> {
      val terms = (0 until 8).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT user_id % 256 AS x, event_id % 256 AS y FROM events),
         |z AS (SELECT x, y, $terms AS z FROM b)
         |SELECT z >> 10 AS tile, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY tile""".stripMargin
    },
    "layout_skip_stats" -> {
      val terms = (0 until 8).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      def stats(fileExpr: String, tag: String): String =
        s"""SELECT '$tag' AS layout,
           |  CAST(count(*) AS BIGINT) AS n_files,
           |  CAST(sum(CASE WHEN minx <= 47 AND maxx >= 32
           |    AND miny <= 79 AND maxy >= 64 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS files_read,
           |  CAST(sum(CASE WHEN minx <= 47 AND maxx >= 32
           |    AND miny <= 79 AND maxy >= 64 THEN n ELSE 0 END)
           |    AS BIGINT) AS rows_scanned,
           |  CAST(sum(m) AS BIGINT) AS rows_matched
           |FROM (
           |  SELECT $fileExpr AS f, count(*) AS n,
           |    min(x) AS minx, max(x) AS maxx,
           |    min(y) AS miny, max(y) AS maxy,
           |    sum(CASE WHEN x BETWEEN 32 AND 47
           |      AND y BETWEEN 64 AND 79 THEN 1 ELSE 0 END) AS m
           |  FROM z GROUP BY 1)""".stripMargin
      s"""WITH b AS (
         |  SELECT user_id % 256 AS x, event_id % 256 AS y FROM events),
         |z AS (SELECT x, y, $terms AS z FROM b)
         |${stats("CAST(floor(x / 4) AS BIGINT)", "linear")}
         |UNION ALL
         |${stats("z >> 10", "zorder")}
         |ORDER BY layout""".stripMargin
    },
    "ts_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step_idx, 'signup' AS step,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_keys
        |UNION ALL SELECT CAST(1 AS BIGINT), 'view',
        |  CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT CAST(2 AS BIGINT), 'purchase',
        |  CAST((SELECT count(*) FROM s3) AS BIGINT)
        |ORDER BY step_idx""".stripMargin,
    "drift_psi" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CASE WHEN value < 0.0 THEN 0
        |         WHEN value >= 200.0 THEN 21
        |         ELSE CAST(floor(value / 10.0) + 1 AS BIGINT) END AS bucket,
        |    count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS na,
        |    count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS nb
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT *, sum(na) OVER (PARTITION BY event_type) AS ta,
        |            sum(nb) OVER (PARTITION BY event_type) AS tb
        |  FROM h)
        |SELECT event_type,
        |  round(sum(((na + 0.5) / (ta + 11.0) - (nb + 0.5) / (tb + 11.0))
        |    * ln(((na + 0.5) / (ta + 11.0)) / ((nb + 0.5) / (tb + 11.0)))), 6)
        |    AS psi
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    // this DuckDB build has no width_bucket; the explicit arithmetic is
    // bit-identical (bin width 10.0 is exact binary, same IEEE divide)
    "a12_histogram" ->
      """SELECT event_type,
        |  CASE WHEN value < 0.0 THEN 0
        |       WHEN value >= 200.0 THEN 21
        |       ELSE CAST(floor(value / 10.0) + 1 AS BIGINT) END AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cur_rollup" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
        |  FROM documents)
        |SELECT lang, source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY ROLLUP (lang, source)
        |ORDER BY g_lang, g_source, lang, source""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx
        |FROM documents,
        |  UNNEST(range(0, CAST(doc_id % 11 AS BIGINT), 3)) AS r(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // planted recovery: adjacent pairs under 200 share exactly their
    // 8 base frames; everything else shares none
    "mm_video_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(8 AS BIGINT) AS n_shared
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 2 = b.doc_id // 2 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 200 AND b.doc_id < 200
        |ORDER BY id_a, id_b""".stripMargin,
    "mm_audio_stats" ->
      """WITH d AS (SELECT doc_id, 400 + doc_id % 100 AS nn FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    (doc_id + i) % 2000 - 1000 AS v
        |  FROM d, LATERAL (SELECT unnest(range(d.nn)) AS i))
        |SELECT doc_id, i // 160 AS win, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_s, CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM s GROUP BY 1, 2 ORDER BY doc_id, win""".stripMargin,
    // exact planted-recovery oracle: the hamming join must return the
    // within-group pairs and nothing else
    "mm_phash" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    // same exact planted recovery, wide-hash path: the 256-bit join
    // must return the within-group pairs and nothing else
    "mm_phash_wide" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "stream_expectations" ->
      """WITH t AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
        |      AS win_start_s,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value >= 0 AND value <= 200
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f_range,
        |    CAST(sum(CASE WHEN user_id > 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS f_user
        |  FROM events GROUP BY 1)
        |SELECT win_start_s, rule, n_fail, n_rows FROM (
        |  SELECT win_start_s, 'user_id_positive' AS rule,
        |    f_user AS n_fail, n AS n_rows FROM t
        |  UNION ALL
        |  SELECT win_start_s, 'value_in_range', f_range, n FROM t)
        |ORDER BY win_start_s, rule""".stripMargin,
    "stream_cms" ->
      """WITH pos AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
        |      AS win_start_s,
        |    event_type, i.r AS row,
        |    CAST(concat('0x', substring(md5(
        |        event_type || '|' || CAST(i.r AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 64 AS pos
        |  FROM events, LATERAL (SELECT unnest(range(0, 2)) AS r) i),
        |cells AS (
        |  SELECT win_start_s, row, pos, count(*) AS cnt
        |  FROM pos GROUP BY 1, 2, 3),
        |keypos AS (SELECT DISTINCT win_start_s, event_type, row, pos FROM pos)
        |SELECT win_start_s, event_type, min(coalesce(cnt, 0)) AS cms_est
        |FROM keypos LEFT JOIN cells USING (win_start_s, row, pos)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact-integer baseline replay: same tick sums, same two IEEE
    // divisions, same strict |z| > 3 compare on identical doubles
    "stream_anomaly" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS tk,
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_start_s
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type,
        |    CAST(sum(tk) AS DOUBLE) / (100.0::DOUBLE * count(*)) AS mean,
        |    sqrt(CAST(sum(tk * tk) AS DOUBLE)
        |        / (10000.0::DOUBLE * count(*)) -
        |      (CAST(sum(tk) AS DOUBLE) / (100.0::DOUBLE * count(*))) *
        |      (CAST(sum(tk) AS DOUBLE) / (100.0::DOUBLE * count(*))))
        |      AS std
        |  FROM e GROUP BY 1)
        |SELECT win_start_s, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN abs(value - mean) > 3.0::DOUBLE * std
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
        |FROM e JOIN b ON e.event_type = b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming gate must equal the batch gate: cur_decontam's
    // oracle verbatim (same fixture, same 5-grams, same pair counts)
    "stream_decontam" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |planted AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:12], ' ') AS text
        |  FROM bench),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL SELECT doc_id, text FROM planted),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |btok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM ctok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bg AS (
        |  SELECT DISTINCT doc_id AS bench_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM btok, UNNEST(range(1, len(t) - 3)) AS r(i))
        |SELECT cg.doc_id, bg.bench_id, count(DISTINCT cg.g) AS n_matched
        |FROM cg JOIN bg USING (g)
        |GROUP BY 1, 2
        |ORDER BY doc_id, bench_id""".stripMargin,
    // per-day histogram vs full-history baseline, drift_psi's explicit
    // floor bucketing and eps smoothing (grid = day × baseline bucket)
    "stream_psi" ->
      """WITH b AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
        |      AS win_start_s,
        |    CASE WHEN value < 0.0 THEN 0 WHEN value >= 200.0 THEN 21
        |         ELSE CAST(floor(value / 10.0) + 1 AS BIGINT) END AS bucket
        |  FROM events WHERE value IS NOT NULL),
        |w AS (SELECT win_start_s, bucket, count(*) AS cnt
        |      FROM b GROUP BY 1, 2),
        |r AS (SELECT bucket, count(*) AS ref_cnt FROM b GROUP BY 1),
        |g AS (
        |  SELECT d.win_start_s, r.bucket
        |  FROM (SELECT DISTINCT win_start_s FROM w) d CROSS JOIN r
        |  UNION SELECT win_start_s, bucket FROM w),
        |j AS (
        |  SELECT g.win_start_s, coalesce(w.cnt, 0) AS cnt,
        |    coalesce(r.ref_cnt, 0) AS ref_cnt
        |  FROM g LEFT JOIN w USING (win_start_s, bucket)
        |         LEFT JOIN r USING (bucket)),
        |t AS (
        |  SELECT *, sum(cnt) OVER (PARTITION BY win_start_s) AS tw,
        |    sum(ref_cnt) OVER (PARTITION BY win_start_s) AS tr
        |  FROM j)
        |SELECT win_start_s,
        |  round(sum(((cnt + 0.5) / (tw + 11.0) - (ref_cnt + 0.5) / (tr + 11.0))
        |    * ln(((cnt + 0.5) / (tw + 11.0)) /
        |         ((ref_cnt + 0.5) / (tr + 11.0)))), 6) AS psi
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // batch replay of the streaming register pipeline — same md5 hash
    // family, same exact-integer harmonic sum as sketch_hll, per day
    "stream_hll" ->
      """WITH r AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
        |      AS win_start_s,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) AS h
        |  FROM events),
        |b AS (
        |  SELECT win_start_s, h % 256 AS idx,
        |    CASE WHEN (h >> 8) = 0 THEN 53
        |         ELSE 53 - length(bin(h >> 8)) END AS rho
        |  FROM r),
        |reg AS (
        |  SELECT win_start_s, idx, max(rho) AS m FROM b GROUP BY 1, 2),
        |agg AS (
        |  SELECT win_start_s, count(*) AS present,
        |    sum(1::BIGINT << (53 - m)) AS s_present
        |  FROM reg GROUP BY 1),
        |est AS (
        |  SELECT win_start_s,
        |    CAST(256 - present AS BIGINT) AS v,
        |    CAST(s_present + (256 - present) * (1::BIGINT << 53)
        |      AS DOUBLE) AS s
        |  FROM agg)
        |SELECT win_start_s,
        |  round(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0 / s <= 640.0 AND v > 0
        |    THEN 256.0 * ln(256.0 / v)
        |    ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
        |      * 9007199254740992.0 / s END, 6) AS hll_est
        |FROM est ORDER BY win_start_s""".stripMargin,
    "ts_new_users" ->
      """WITH ev AS (
        |  SELECT DISTINCT
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day,
        |    user_id
        |  FROM events),
        |act AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_active
        |  FROM ev GROUP BY 1),
        |fst AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
        |nw AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fst GROUP BY 1)
        |SELECT act.day, n_active,
        |  coalesce(n_new, CAST(0 AS BIGINT)) AS n_new,
        |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY act.day)
        |    AS BIGINT) AS cum_users
        |FROM act LEFT JOIN nw USING (day)
        |ORDER BY day""".stripMargin,
    "stream_topk" ->
      """WITH c AS (
        |  SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
        |      AS win_start_s,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT win_start_s, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY win_start_s
        |      ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |  FROM c)
        |SELECT win_start_s, rk, event_type, n FROM r WHERE rk <= 3
        |ORDER BY win_start_s, rk""".stripMargin,
    "stream_kmv" ->
      """WITH h AS (
        |  SELECT DISTINCT
        |    CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_start_s,
        |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT win_start_s, h,
        |    row_number() OVER (PARTITION BY win_start_s ORDER BY h) AS rk,
        |    count(*) OVER (PARTITION BY win_start_s) AS cnt
        |  FROM h),
        |g AS (
        |  SELECT win_start_s,
        |    CAST(least(max(cnt), 64) AS BIGINT) AS n_sketch,
        |    max(CASE WHEN rk = 64 THEN h END) AS hk,
        |    max(cnt) AS cnt
        |  FROM r GROUP BY 1)
        |SELECT win_start_s, n_sketch,
        |  CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
        |       ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
        |    AS est_distinct
        |FROM g ORDER BY win_start_s""".stripMargin,
    "stream_sliding" ->
      """WITH k AS (SELECT UNNEST(range(0, 4)) AS i),
        |w AS (
        |  SELECT (CAST(floor(epoch(ts) / 21600) AS BIGINT) - i) * 21600
        |    AS win_start_s, value
        |  FROM events, k)
        |SELECT win_start_s, count(*) AS n_rows,
        |  round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // millisecond gap compare mirrors the stream's Timestamp.getTime
    // arithmetic exactly (micros would disagree within 1ms of the gap)
    // closed-session predicate = the final watermark (global max ts,
    // delay 0): a session emits iff last_event + gap <= max ts
    "stream_session_native" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |l AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN pts IS NULL OR epoch(ts - pts) >= 3600
        |      THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l),
        |g AS (
        |  SELECT user_id, sid, min(ts) AS st, max(ts) AS lt,
        |    count(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, CAST(epoch_ms(st) AS BIGINT) AS start_ms,
        |  CAST(epoch_ms(lt) + 3600000 AS BIGINT) AS end_ms,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM g CROSS JOIN mx
        |WHERE epoch_ms(lt) + 3600000 <= epoch_ms(m)
        |ORDER BY user_id, start_ms""".stripMargin,
    "stream_sessionize" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, epoch_ms(ts) AS tms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |           OR tms - lag(epoch_ms(ts)) OVER w > 3600000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, tms AS ts_ms,
        |  max(CASE WHEN ns = 1 THEN tms END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |FROM c ORDER BY user_id, ts_ms, session_id""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "stream_incremental" ->
      """WITH st AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |  WHERE event_id % 2 = 0)
        |SELECT DISTINCT e.user_id, e.event_type
        |FROM events e
        |LEFT JOIN st ON e.user_id = st.user_id
        |  AND e.event_type = st.event_type
        |WHERE st.user_id IS NULL
        |ORDER BY e.user_id, e.event_type""".stripMargin,
    "q14_promo" ->
      """WITH j AS (
        |  SELECT p_type, l_extendedprice * (1.0 - l_discount) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (
        |  SELECT round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0.0 END), 2)
        |      AS promo_rev,
        |    round(sum(rev), 2) AS total_rev
        |  FROM j)
        |SELECT promo_rev, total_rev,
        |  round(promo_rev / total_rev * 100.0, 6) AS promo_pct
        |FROM a""".stripMargin,
    "q8_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "stream_join" ->
      """SELECT p.event_id, p.user_id, epoch_ms(s.ts) AS s_ts_ms
        |FROM events p JOIN events s
        |  ON p.user_id = s.user_id
        |  AND p.event_type = 'purchase' AND s.event_type = 'signup'
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 DAY
        |ORDER BY 1, 3""".stripMargin,
    "q17_small_qty" ->
      """WITH pp AS (
        |  SELECT l_partkey AS agg_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem JOIN pp ON l_partkey = agg_partkey
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q6_filter_agg" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q5_region_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // closed form of the bounded fold: within row i's 50-row frame the
    // OLDEST row j0 carries weight (1-a)^(rn_i - rn_j0) (the seed) and
    // every later row j carries a*(1-a)^(rn_i - rn_j)
    "ts_ewma" ->
      """WITH r AS (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events)
        |SELECT i.event_id,
        |  round(sum(
        |    CASE WHEN j.rn = greatest(1, i.rn - 49)
        |         THEN pow(0.8, i.rn - j.rn)
        |         ELSE 0.2 * pow(0.8, i.rn - j.rn) END * j.value), 4)
        |    AS ewma
        |FROM r i JOIN r j
        |  ON i.user_id = j.user_id AND j.rn BETWEEN i.rn - 49 AND i.rn
        |GROUP BY i.event_id
        |ORDER BY i.event_id""".stripMargin,
    "ts_xcorr" ->
      """WITH hourly AS (
        |  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT h, n AS n_err FROM hourly WHERE event_type = 'error'),
        |p AS (SELECT h AS h2, n AS n_pur FROM hourly
        |      WHERE event_type = 'purchase'),
        |l AS (SELECT UNNEST(range(0, 7)) AS lag)
        |SELECT lag, round(corr(n_err, n_pur), 6) AS xcorr,
        |  count(*) AS n_hours
        |FROM l CROSS JOIN e JOIN p ON e.h + l.lag = p.h2
        |GROUP BY lag ORDER BY lag""".stripMargin,
    // integer-space 4-dp rounding, mirroring the engine: (us+50)//100
    // is the identical half-up integer in both engines; double round()
    // would split half-ulp ties differently
    "ts_gap_stats" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(gap_us) AS n_gaps,
        |  ((sum(gap_us) + 50) // 100) / 10000.0 AS sum_gap_s,
        |  ((2 * sum(gap_us) + 100 * count(gap_us))
        |    // (200 * count(gap_us))) / 10000.0 AS avg_gap_s,
        |  ((min(gap_us) + 50) // 100) / 10000.0 AS min_gap_s,
        |  ((max(gap_us) + 50) // 100) / 10000.0 AS max_gap_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ts_rolling" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value, epoch_ms(ts) AS tms FROM events)
        |SELECT event_id,
        |  CAST(count(value) OVER w AS BIGINT) AS roll_n,
        |  round(sum(value) OVER w, 4) AS roll_sum,
        |  round(avg(value) OVER w, 6) AS roll_avg,
        |  min(value) OVER w AS roll_min,
        |  max(value) OVER w AS roll_max
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tms
        |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // trend = ratio of EXACT integers (cents sum / 100n): immune to
    // engine summation order and to the small-integer-ratio round ties
    // a rounded float mean of 2-dp values hits constantly
    "ts_decompose" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS ticks,
        |    epoch_ms(ts) AS tms
        |  FROM events WHERE value IS NOT NULL),
        |t AS (
        |  SELECT event_id, event_type, value, tms,
        |    CAST(sum(ticks) OVER w AS DOUBLE) /
        |      (100.0::DOUBLE * count(ticks) OVER w) AS trend,
        |    CAST(floor((tms % 86400000) / 3600000) AS BIGINT) AS phase
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type ORDER BY tms
        |    RANGE BETWEEN 43200000 PRECEDING AND 43200000 FOLLOWING)),
        |s AS (
        |  SELECT event_type, phase, round(avg(value - trend), 6) AS seasonal
        |  FROM t GROUP BY 1, 2)
        |SELECT event_id, trend, seasonal,
        |  value - trend - seasonal AS residual
        |FROM t JOIN s USING (event_type, phase)
        |ORDER BY event_id""".stripMargin,
    "ts_sessionize" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 3600.0
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events)
        |SELECT event_id,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |FROM c ORDER BY event_id""".stripMargin,
    "ts_scd2" ->
      """WITH tiered AS (
        |  SELECT user_id, ts, event_id, CAST(floor(value / 50) AS BIGINT) AS tier
        |  FROM events),
        |c AS (
        |  SELECT user_id, ts, event_id, tier,
        |    lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier
        |  FROM tiered),
        |chg AS (
        |  SELECT user_id, ts, event_id, tier FROM c
        |  WHERE prev_tier IS NULL OR prev_tier <> tier),
        |v AS (
        |  SELECT user_id, tier, epoch_ms(ts) AS valid_from_ms,
        |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to_ms
        |  FROM chg)
        |SELECT user_id, tier, valid_from_ms, valid_to_ms,
        |  valid_to_ms IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from_ms, tier""".stripMargin,
    "ts_cusum" ->
      """WITH z AS (
        |  SELECT event_type, ts, event_id, value,
        |    CASE WHEN stddev_samp(value) OVER (PARTITION BY event_type) > 0
        |         THEN (value - avg(value) OVER (PARTITION BY event_type))
        |              / stddev_samp(value) OVER (PARTITION BY event_type)
        |         ELSE 0.0 END AS zv
        |  FROM events),
        |c AS (
        |  SELECT event_type, ts, event_id, value,
        |    sum(zv - 0.25) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cp,
        |    sum(-zv - 0.25) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cn
        |  FROM z),
        |s AS (
        |  SELECT event_type, ts, event_id, value,
        |    round(cp - least(0.0, min(cp) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)), 4) AS s_pos,
        |    round(cn - least(0.0, min(cn) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)), 4) AS s_neg
        |  FROM c)
        |SELECT event_type, epoch_ms(ts) AS ts_ms, value, s_pos, s_neg
        |FROM s WHERE s_pos > 3.0 OR s_neg > 3.0
        |ORDER BY event_type, ts_ms""".stripMargin,
    "ts_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |    CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start_s,
        |    first_value(value IGNORE NULLS) OVER (
        |      PARTITION BY event_type, floor(epoch(ts) / 21600)
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(value IGNORE NULLS) OVER (
        |      PARTITION BY event_type, floor(epoch(ts) / 21600)
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM events)
        |SELECT event_type, bucket_start_s,
        |  max(o) AS open, max(value) AS high, min(value) AS low,
        |  max(c) AS close, count(value) AS n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the streaming drain must equal the batch bars exactly: epoch-
    // aligned 6 h windows; first/last under the total (ts, event_id)
    // order mirror min_by/max_by (events has no null values)
    "stream_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |    CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start_s,
        |    first_value(value) OVER (
        |      PARTITION BY event_type, floor(epoch(ts) / 21600)
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(value) OVER (
        |      PARTITION BY event_type, floor(epoch(ts) / 21600)
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM events)
        |SELECT event_type, bucket_start_s,
        |  max(o) AS open, max(value) AS high, min(value) AS low,
        |  max(c) AS close, count(value) AS n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ts_resample" ->
      s"""$SeededCte, clean AS (
         |  SELECT ts, CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END AS v
         |  FROM seeded)
         |SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start_s,
         |  round(avg(v), 6) AS v_mean, min(v) AS v_min, max(v) AS v_max,
         |  count(v) AS n
         |FROM clean GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_resample_dense" ->
      """WITH src AS (SELECT ts, value FROM events WHERE event_type = 'error'),
        |agg AS (
        |  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start_s,
        |    round(avg(value), 6) AS v_mean, count(value) AS n
        |  FROM src GROUP BY 1),
        |bounds AS (
        |  SELECT CAST(floor(epoch(min(ts)) / 3600) * 3600 AS BIGINT) AS lo,
        |         CAST(floor(epoch(max(ts)) / 3600) * 3600 AS BIGINT) AS hi
        |  FROM src),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, 3600)) AS bucket_start_s FROM bounds)
        |SELECT s.bucket_start_s, a.v_mean, coalesce(a.n, 0) AS n
        |FROM spine s LEFT JOIN agg a USING (bucket_start_s) ORDER BY 1""".stripMargin,
    "ts_ffill" ->
      s"""$SeededCte
         |SELECT event_id,
         |  last_value(CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
         |FROM seeded ORDER BY event_id""".stripMargin,
    "ts_interp" ->
      s"""$SeededCte, c AS (
         |  SELECT event_id, user_id, ts, epoch(ts) AS tn,
         |    CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END AS v
         |  FROM seeded),
         |w AS (
         |  SELECT event_id, tn, v,
         |    last_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    first_value(CASE WHEN v IS NOT NULL THEN tn END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
         |    first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
         |  FROM c)
         |SELECT event_id,
         |  round(CASE WHEN v IS NOT NULL THEN v
         |             WHEN pt IS NOT NULL AND nt IS NOT NULL AND nt > pt
         |             THEN pv + (nv - pv) * (tn - pt) / (nt - pt) END, 6)
         |    AS v_interp
         |FROM w ORDER BY event_id""".stripMargin,
    "ts_rangejoin" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 3600.0
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events),
        |sids AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |  FROM c),
        |sess AS (
        |  SELECT user_id, session_id, min(ts) AS t_start, max(ts) AS t_end
        |  FROM sids GROUP BY 1, 2),
        |err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
        |SELECT e.event_id, s.session_id
        |FROM err e JOIN sess s
        |  ON e.user_id = s.user_id AND e.ts >= s.t_start AND e.ts <= s.t_end
        |ORDER BY e.event_id, s.session_id""".stripMargin,
    "auto_spike" ->
      """WITH b AS (
        |  SELECT event_id, ts, CAST(ts AS DATE) AS d, value FROM events),
        |z AS (
        |  SELECT event_id,
        |    (value - avg(value) OVER w) / nullif(stddev_samp(value) OVER w, 0) AS z
        |  FROM b
        |  WINDOW w AS (PARTITION BY d ORDER BY ts, event_id
        |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING))
        |SELECT event_id FROM z WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin,
    "auto_flatline" ->
      """WITH v3 AS (
        |  SELECT event_id, ts, CAST(ts AS DATE) AS d,
        |    CASE WHEN event_id % 50 < 6 THEN 77.0 ELSE value END AS v
        |  FROM events),
        |c AS (
        |  SELECT event_id, ts, d, v,
        |    CASE WHEN lag(v) OVER (PARTITION BY d ORDER BY ts, event_id) IS NULL
        |           OR v <> lag(v) OVER (PARTITION BY d ORDER BY ts, event_id)
        |         THEN 1 ELSE 0 END AS chg
        |  FROM v3),
        |r AS (
        |  SELECT event_id, d, v,
        |    sum(chg) OVER (PARTITION BY d ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS run
        |  FROM c),
        |l AS (
        |  SELECT event_id, v, count(*) OVER (PARTITION BY d, run) AS runlen FROM r)
        |SELECT event_id FROM l WHERE runlen >= 4 AND v IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "auto_step" ->
      """WITH v3 AS (
        |  SELECT event_id, ts, CAST(ts AS DATE) AS d,
        |    value + CASE WHEN extract(hour FROM ts) >= 12 THEN 50.0 ELSE 0.0 END AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id,
        |    avg(v) OVER (PARTITION BY d ORDER BY ts, event_id
        |                 ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING)
        |    - avg(v) OVER (PARTITION BY d ORDER BY ts, event_id
        |                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS step,
        |    count(v) OVER (PARTITION BY d ORDER BY ts, event_id
        |                   ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS nl,
        |    count(v) OVER (PARTITION BY d ORDER BY ts, event_id
        |                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS nt
        |  FROM v3)
        |SELECT event_id FROM w
        |WHERE nl >= 6 AND nt >= 6 AND abs(step) > 30.0
        |ORDER BY event_id""".stripMargin,
    "auto_seasonal" ->
      """WITH e AS (
        |  SELECT event_id, event_type, ts,
        |    value + CASE WHEN event_id % 97 = 0 THEN 2000.0 ELSE 0 END AS v
        |  FROM events),
        |p AS (
        |  SELECT event_type, hour(ts) AS h, avg(v) AS mu
        |  FROM e GROUP BY 1, 2),
        |j AS (
        |  SELECT e.event_id, e.event_type, e.v, p.mu
        |  FROM e JOIN p ON p.event_type = e.event_type
        |    AND p.h = hour(e.ts)),
        |s AS (SELECT event_type, stddev_samp(v - mu) AS sd FROM j GROUP BY 1)
        |SELECT event_id FROM j JOIN s USING (event_type)
        |WHERE sd > 0 AND abs(v - mu) / sd > 3.0
        |ORDER BY event_id""".stripMargin,
    "auto_mad" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    value + CASE WHEN event_id % 97 = 0 THEN 500.0 ELSE 0.0 END AS v
        |  FROM events),
        |m AS (
        |  SELECT event_type, quantile_cont(v, 0.5) AS med
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT e.event_id, e.event_type, e.v, m.med, abs(e.v - m.med) AS res
        |  FROM e JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type, quantile_cont(res, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_id FROM d JOIN md USING (event_type)
        |WHERE md.mad > 0 AND 0.6745 * abs(d.v - d.med) / md.mad > 3.5
        |ORDER BY event_id""".stripMargin,
    "auto_range" ->
      """SELECT event_id FROM events
        |WHERE value < 10.0 OR value > 400.0 ORDER BY event_id""".stripMargin,
    "plot_m4" ->
      """WITH b AS (
        |  SELECT event_id, value, epoch_ms(ts) AS tms,
        |    CAST(floor(epoch_ms(ts) / 604800000.0) AS BIGINT) AS bucket,
        |    event_type
        |  FROM events)
        |SELECT event_id FROM (
        |  SELECT event_id,
        |    min(value) OVER w AS vmin, max(value) OVER w AS vmax,
        |    min(tms) OVER w AS tmin, max(tms) OVER w AS tmax,
        |    value, tms
        |  FROM b
        |  WINDOW w AS (PARTITION BY event_type, bucket))
        |WHERE value = vmin OR value = vmax OR tms = tmin OR tms = tmax
        |ORDER BY event_id""".stripMargin,
    // naive-UTC parquet ts → instant (AT TIME ZONE 'UTC') → wall time
    // in the display zone (AT TIME ZONE '<tz>') — DuckDB's two-step
    // twin of from_utc_timestamp
    "plot_tz_labels" ->
      """SELECT event_id,
        |  strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York',
        |    '%Y-%m-%d %H:%M') AS t_label
        |FROM events ORDER BY event_id""".stripMargin,
    "sql_api" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ' ' || trim(lower(regexp_replace(text, '[^\p{L}]+', ' ', 'g')))
        |      || ' ' AS t,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS BIGINT)
        |    AS n_grams,
        |  CAST(len(toks) AS BIGINT) AS n_distinct_tokens
        |FROM d ORDER BY doc_id""".stripMargin,
    "u3_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a1_multi" ->
      s"""$SeededCte SELECT * FROM (
         |SELECT 'value' AS variable,
         |  count(*) FILTER (WHERE NOT (value IS NULL OR isnan(value))) AS total,
         |  round(100.0 * (count(*) FILTER (WHERE FALSE))
         |    / nullif(count(*) FILTER (WHERE NOT (value IS NULL OR isnan(value))), 0), 2) AS pct_checked,
         |  CAST(0.0 AS DOUBLE) AS pct_approved,
         |  round(100.0 * (count(*) FILTER (WHERE NOT (value IS NULL OR isnan(value)))) / count(*), 2) AS pct_unchecked,
         |  round(100.0 * (count(*) FILTER (WHERE value IS NULL OR isnan(value))) / count(*), 2) AS pct_missing,
         |  CAST(0.0 AS DOUBLE) AS pct_flagged
         |FROM e2
         |UNION ALL
         |SELECT 'value2' AS variable,
         |  count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))) AS total,
         |  round(100.0 * (count(*) FILTER (WHERE FALSE))
         |    / nullif(count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2))), 0), 2) AS pct_checked,
         |  CAST(0.0 AS DOUBLE) AS pct_approved,
         |  round(100.0 * (count(*) FILTER (WHERE NOT (value2 IS NULL OR isnan(value2)))) / count(*), 2) AS pct_unchecked,
         |  round(100.0 * (count(*) FILTER (WHERE value2 IS NULL OR isnan(value2))) / count(*), 2) AS pct_missing,
         |  CAST(0.0 AS DOUBLE) AS pct_flagged
         |FROM e2)
         |ORDER BY variable""".stripMargin,
    "u1_union" ->
      s"""$SeededCte
         |SELECT event_id, panel, value2 FROM (
         |  SELECT event_id, 'raw' AS panel, value2 FROM seeded
         |  UNION ALL
         |  SELECT event_id, 'clean' AS panel,
         |    CASE WHEN value2_qcflag < 1 THEN NULL ELSE value2 END AS value2
         |  FROM seeded)
         |ORDER BY event_id, panel""".stripMargin,
    "u2_melt" ->
      s"""$SeededCte
         |SELECT event_id, variable,
         |  CASE WHEN isnan(value) THEN NULL ELSE value END AS value, flag
         |FROM (
         |  SELECT event_id, 'value' AS variable, CAST(value AS DOUBLE) AS value,
         |    CASE WHEN value IS NULL OR isnan(value) THEN -1 ELSE 0 END AS flag
         |  FROM e2
         |  UNION ALL
         |  SELECT event_id, 'value2' AS variable, CAST(value2 AS DOUBLE) AS value,
         |    CASE WHEN value2 IS NULL OR isnan(value2) THEN -1 ELSE 0 END AS flag
         |  FROM e2)
         |ORDER BY event_id, variable""".stripMargin,
    "s3_iso_utc" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts
        |FROM events ORDER BY event_id""".stripMargin,
    "qc_e2e" ->
      s"""$SeededCte
         |SELECT event_type,
         |  count(CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END) AS n_clean,
         |  round(avg(CASE WHEN value2_qcflag < 0 THEN NULL ELSE value2 END), 4) AS avg_clean
         |FROM (SELECT event_type, value2,
         |        CASE WHEN value2_qcflag IN (-1, -2) THEN value2_qcflag
         |             ELSE 1 END AS value2_qcflag
         |      FROM seeded)
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "pipeline_e2e" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CASE WHEN len(trim(text)) = 0 THEN NULL
        |         ELSE CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                x -> x IN ('the', 'a'))) AS DOUBLE)
        |              / len(string_split_regex(trim(text), '\s+')) END AS stop_ratio
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM scored WHERE n_tokens >= 20 AND stop_ratio > 0),
        |deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM deduped GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    // brute force over all (size-prefiltered) pairs: the oracle checks
    // the RESULT of the prefix-filter algorithm, not its plan — exact
    // threshold joins are algorithm-independent
    "dedup_prefix" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id,
        |    regexp_replace(text, '^\s*\S+\s*', '') AS text
        |  FROM documents WHERE doc_id % 14 = 0),
        |t AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM corpus),
        |s AS (SELECT doc_id, toks, len(toks) AS sz FROM t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks)) AS ic, a.sz AS sa, b.sz AS sb
        |  FROM s a JOIN s b
        |    ON a.doc_id < b.doc_id
        |    AND least(a.sz, b.sz) >= 0.9 * greatest(a.sz, b.sz))
        |SELECT id_a, id_b, CAST(ic AS DOUBLE) / (sa + sb - ic) AS jaccard
        |FROM p WHERE CAST(ic AS DOUBLE) / (sa + sb - ic) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_prefix_collapsed" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id,
        |    regexp_replace(text, '^\s*\S+\s*', '') AS text
        |  FROM documents WHERE doc_id % 14 = 0),
        |flood AS (
        |  SELECT doc_id + (r + 1) * 1000000000::BIGINT AS doc_id, text
        |  FROM documents, UNNEST([1, 2, 3]) AS u(r)
        |  WHERE doc_id % 35 = 0),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM flood),
        |t AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_filter(
        |      string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS toks
        |  FROM corpus),
        |g AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n, toks
        |  FROM t GROUP BY toks),
        |s AS (SELECT doc_id, n, toks, len(toks) AS sz FROM g),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks)) AS ic,
        |    a.sz AS sa, b.sz AS sb, a.n AS na, b.n AS nb
        |  FROM s a JOIN s b
        |    ON a.doc_id < b.doc_id
        |    AND least(a.sz, b.sz) >= 0.9 * greatest(a.sz, b.sz))
        |SELECT id_a, id_b, CAST(ic AS DOUBLE) / (sa + sb - ic) AS jaccard,
        |  na AS size_a, nb AS size_b
        |FROM p WHERE CAST(ic AS DOUBLE) / (sa + sb - ic) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_ngram" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 200
        |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_spans" ->
      """WITH planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(
        |      string_split_regex(trim(text), '\s+')
        |        [1:greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id < 50),
        |u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM planted),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM u),
        |sp AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
        |  FROM tok, UNNEST(range(1, len(t) - 6)) AS r(i)),
        |capped AS (
        |  SELECT * FROM sp QUALIFY count(*) OVER (PARTITION BY s) <= 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  count(DISTINCT a.s) AS n_shared
        |FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(DISTINCT a.s) >= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // dedup_strip_spans: owner = min doc id per duplicated span; the
    // oracle joins spans by their STRING while the engine joins by
    // fnv64 — equivalent up to 64-bit collisions, the same stance the
    // dedup_spans oracle takes with xxhash64. Interval merge and the
    // token-level strip replay the engine's window + filter exactly.
    "dedup_strip_spans" -> (StripSpanCtes +
      """,
        |agg AS (SELECT doc_id, count(*) AS n_ranges, sum(re - rs) AS dup_tokens
        |        FROM m GROUP BY doc_id),
        |tk AS (SELECT doc_id, r.i - 1 AS p, t[r.i] AS w
        |       FROM tok, UNNEST(range(1, len(t) + 1)) AS r(i)),
        |kept AS (
        |  SELECT tk.doc_id, tk.p, tk.w
        |  FROM tk LEFT JOIN m
        |    ON m.doc_id = tk.doc_id AND tk.p >= m.rs AND tk.p < m.re
        |  WHERE m.doc_id IS NULL),
        |stx AS (SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS stripped_text
        |        FROM kept GROUP BY doc_id)
        |SELECT tok.doc_id,
        |  len(tok.t)::BIGINT AS total_tokens,
        |  coalesce(agg.dup_tokens, 0)::BIGINT AS dup_tokens,
        |  coalesce(agg.n_ranges, 0)::BIGINT AS n_ranges,
        |  coalesce(stx.stripped_text, '') AS stripped_text
        |FROM tok
        |LEFT JOIN agg USING (doc_id) LEFT JOIN stx USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // pipeline_curate2: the strip chain over the RAW corpus, the
    // stripped text rebuilt, the quality z re-derived from it, and
    // the per-source attrition rollup — every stage the engine runs,
    // replayed in one WITH chain
    "pipeline_curate2" -> (stripSpanCtes(
      "  SELECT doc_id, text FROM documents") +
      """,
        |agg AS (SELECT doc_id, sum(re - rs) AS dup_tokens
        |        FROM m GROUP BY doc_id),
        |tk AS (SELECT doc_id, r.i - 1 AS p, t[r.i] AS w
        |       FROM tok, UNNEST(range(1, len(t) + 1)) AS r(i)),
        |kept AS (
        |  SELECT tk.doc_id, tk.p, tk.w
        |  FROM tk LEFT JOIN m
        |    ON m.doc_id = tk.doc_id AND tk.p >= m.rs AND tk.p < m.re
        |  WHERE m.doc_id IS NULL),
        |stx AS (SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS st
        |        FROM kept GROUP BY doc_id),
        |feat AS (
        |  SELECT t0.doc_id, len(t0.t) AS tokens_in,
        |    coalesce(a.dup_tokens, 0) AS dup, coalesce(stx.st, '') AS st
        |  FROM tok t0 LEFT JOIN agg a USING (doc_id)
        |  LEFT JOIN stx USING (doc_id)),
        |qz AS (
        |  SELECT doc_id, tokens_in, dup, st,
        |    list_filter(string_split_regex(trim(st), '\s+'), x -> x <> '')
        |      AS ts2
        |  FROM feat),
        |qb2 AS (
        |  SELECT doc_id, tokens_in, dup, len(ts2) AS nt,
        |    CASE WHEN len(ts2) > 0 THEN
        |      CAST(list_sum(list_transform(ts2, x -> len(x))) AS DOUBLE)
        |        / len(ts2)
        |    ELSE 0.0 END AS awl,
        |    CASE WHEN len(ts2) > 0 THEN
        |      CAST(len(list_filter(ts2, x -> x IN ('the', 'a'))) AS DOUBLE)
        |        / len(ts2)
        |    ELSE 0.0 END AS sr,
        |    CASE WHEN len(st) > 0 THEN
        |      CAST(len(st) - len(regexp_replace(st, '[[:punct:]]', '', 'g'))
        |        AS DOUBLE) / len(st)
        |    ELSE 0.0 END AS pr
        |  FROM qz),
        |dec AS (
        |  SELECT doc_id, tokens_in, dup,
        |    CASE WHEN (-1.0 + 0.35 * ln(1.0 + nt) + 2.0 * sr - 4.0 * pr
        |               + 0.5 * awl / 10.0) > 0.75 THEN 1 ELSE 0 END AS keep
        |  FROM qb2)
        |SELECT s2.source,
        |  count(*)::BIGINT AS docs_in,
        |  sum(d2.keep)::BIGINT AS docs_kept,
        |  sum(d2.tokens_in)::BIGINT AS tokens_in,
        |  sum(d2.tokens_in - d2.dup)::BIGINT AS tokens_after_strip,
        |  sum(CASE WHEN d2.keep = 1 THEN d2.tokens_in - d2.dup ELSE 0 END)
        |    ::BIGINT AS tokens_kept
        |FROM dec d2 JOIN documents s2 USING (doc_id)
        |GROUP BY s2.source ORDER BY s2.source""".stripMargin),
    // dedup_top_spans: the span CTE feeds a plain reach-ranked top-k;
    // the unused merge CTEs in the shared chain never execute
    "dedup_top_spans" -> (StripSpanCtes +
      """
        |SELECT s AS span, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_occurrences
        |FROM sp GROUP BY s
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_occurrences DESC, span
        |LIMIT 20""".stripMargin),
    "dedup_span_profile" -> (StripSpanCtes +
      """,
        |agg AS (SELECT doc_id, sum(re - rs) AS dup_tokens
        |        FROM m GROUP BY doc_id),
        |srcm AS (
        |  SELECT doc_id, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'planted' AS source
        |  FROM documents WHERE doc_id < 50),
        |per AS (
        |  SELECT tok.doc_id, len(tok.t) AS tokens,
        |    coalesce(agg.dup_tokens, 0) AS dup_tokens
        |  FROM tok LEFT JOIN agg USING (doc_id))
        |SELECT sm.source, count(*)::BIGINT AS n_docs,
        |  sum(p.tokens)::BIGINT AS tokens,
        |  sum(p.dup_tokens)::BIGINT AS dup_tokens,
        |  sum(p.dup_tokens)::DOUBLE / sum(p.tokens)::DOUBLE AS dup_frac
        |FROM per p JOIN srcm sm USING (doc_id)
        |GROUP BY sm.source
        |ORDER BY sm.source""".stripMargin),
    "sim_ivf" -> IvfFlatOracle,
    "sim_ivf_pruned" -> IvfFlatOracle,
    "sim_ann" -> AnnOracle,
    "sim_topk" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id AS nbr_id,
        |    row_number() OVER (PARTITION BY p.probe_id
        |      ORDER BY list_cosine_similarity(p.pv, e.embedding::DOUBLE[]) DESC,
        |        e.vec_id) AS rank
        |  FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id)
        |SELECT probe_id, rank, nbr_id FROM scored
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,
    // 6-dp rounding BEFORE the τ compare on both engines makes the
    // boundary decision replayable (raw fold ulps don't reach it)
    "sim_radius" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT p.probe_id, e.vec_id AS nbr_id
        |FROM p CROSS JOIN embeddings e
        |WHERE e.vec_id <> p.probe_id
        |  AND round(list_cosine_similarity(p.pv, e.embedding::DOUBLE[]),
        |    6) >= 0.2::DOUBLE
        |ORDER BY probe_id, nbr_id""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(
        |      string_split_regex(trim(text), '\s+')
        |        [1:greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id < 50),
        |u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM planted),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM u),
        |sp AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
        |  FROM tok, UNNEST(range(1, len(t) - 6)) AS r(i)),
        |capped AS (
        |  SELECT * FROM sp QUALIFY count(*) OVER (PARTITION BY s) <= 1000),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.s) >= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS lab FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id, min(lab) AS cluster FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,
    "dedup_keep_best" ->
      """WITH RECURSIVE planted AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(
        |      string_split_regex(trim(text), '\s+')
        |        [1:greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1)],
        |      ' ') AS text
        |  FROM documents WHERE doc_id < 50),
        |u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM planted),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM u),
        |sp AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
        |  FROM tok, UNNEST(range(1, len(t) - 6)) AS r(i)),
        |capped AS (
        |  SELECT * FROM sp QUALIFY count(*) OVER (PARTITION BY s) <= 1000),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.s) >= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS lab FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
        |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |lab AS (
        |  SELECT u.doc_id AS id,
        |    coalesce(cl.cluster, u.doc_id) AS cluster,
        |    len(u.text) AS q
        |  FROM u LEFT JOIN cl ON u.doc_id = cl.id)
        |SELECT id, cluster,
        |  CAST(CASE WHEN row_number() OVER (
        |      PARTITION BY cluster ORDER BY q DESC, id) = 1
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM lab ORDER BY id""".stripMargin,
    "er_match" ->
      """WITH u AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS id,
        |    substring(c_name, 1, 11) || substring(c_name, 13, 1) ||
        |    substring(c_name, 12, 1) || substring(c_name, 14, 5) AS name
        |  FROM customer WHERE c_custkey % 7 = 1),
        |k AS (
        |  SELECT id, name, substring(name, 15, 4) AS blk FROM u
        |  QUALIFY count(*) OVER (PARTITION BY substring(name, 15, 4))
        |    <= 1000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY 1, 2""".stripMargin,
    "sim_topk_q8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |d AS (SELECT vec_id,
        |  CASE WHEN scale > 0
        |    THEN list_transform(v, x -> floor(x / scale + 0.5) * scale)
        |    ELSE list_transform(v, x -> 0.0) END AS v
        |  FROM s),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM d WHERE vec_id < 10),
        |scored AS (
        |  SELECT p.probe_id, d.vec_id AS nbr_id,
        |    row_number() OVER (PARTITION BY p.probe_id
        |      ORDER BY list_cosine_similarity(p.pv, d.v) DESC, d.vec_id) AS rank
        |  FROM p CROSS JOIN d WHERE d.vec_id <> p.probe_id)
        |SELECT probe_id, rank, nbr_id FROM scored
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,
    "dedup_embed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |planted AS (
        |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
        |  FROM e WHERE vec_id < 25),
        |u AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        |      AS cos_raw
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |-- filter on the RAW cosine (the engine thresholds unrounded;
        |-- rounding first would admit [0.9899995, 0.99) boundary pairs)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cosine FROM p
        |WHERE cos_raw >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |  CASE WHEN scale > 0 THEN list_transform(v, x -> floor(x / scale + 0.5))
        |       ELSE list_transform(v, x -> 0.0) END AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |  list_max(list_transform(list_zip(v, qv),
        |    p -> abs(p[1] - p[2] * scale))) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "embed_centroids" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings)
        |SELECT label, i, round(avg(v), 6) AS c, count(*) AS n
        |FROM x GROUP BY 1, 2 ORDER BY label, i""".stripMargin,
    // brute-force batch×corpus truth (the prefix filter is exact, so
    // the engine must equal the unfiltered cross check)
    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS doc_id, text || ' v2xyz' AS text
        |  FROM documents WHERE doc_id % 7 = 0),
        |ta AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM batch),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks)) AS ic,
        |    len(a.toks) AS sa, len(b.toks) AS sb
        |  FROM ta a JOIN tb b
        |    ON least(len(a.toks), len(b.toks)) >=
        |       0.8 * greatest(len(a.toks), len(b.toks)))
        |SELECT id_a, id_b, CAST(ic AS DOUBLE) / (sa + sb - ic) AS jaccard
        |FROM p WHERE CAST(ic AS DOUBLE) / (sa + sb - ic) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // brute-force probes×corpus truth (the containment prefix filter
    // is exact, so the engine must equal the unfiltered cross check);
    // containment = |T(p)∩T(c)| / |T(p)|, exact-int IEEE division
    "dedup_containment" ->
      """WITH probes AS (
        |  SELECT doc_id + 7000000 AS doc_id,
        |    array_to_string(
        |      list_slice(string_split_regex(trim(text), '\s+'), 1, 20),
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 9 = 0),
        |ta AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM probes),
        |tb AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.toks, b.toks)) AS ic, len(a.toks) AS sa
        |  FROM ta a CROSS JOIN tb b)
        |SELECT id_a, id_b, CAST(ic AS DOUBLE) / sa AS containment
        |FROM p WHERE sa > 0 AND CAST(ic AS DOUBLE) / sa >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // replays the engine's exact clustering (same fold, same 6-dp
    // centroid rounding) on the planted union, then pairs within cells
    "dedup_semdedup" -> (SemDedupPinnedCtes +
      """
        |SELECT id_a, id_b, round(cos_raw, 6) AS cosine FROM p
        |WHERE cos_raw >= 0.99
        |ORDER BY id_a, id_b""".stripMargin),
    // the prune ACTION over the identical pair replay: drop every id_b
    // with a qualifying pair, keep the rest of the corpus
    "dedup_semdedup_prune" -> (SemDedupPinnedCtes +
      """
        |SELECT vec_id FROM x
        |WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos_raw >= 0.99)
        |ORDER BY vec_id""".stripMargin),
    // sim_radius's replay against the benchmark fixture: 6-dp round
    // before the τ compare on both engines
    "cur_decontam_semantic" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bench AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
        |corpus AS (
        |  SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01)
        |  FROM bench)
        |SELECT c.vec_id AS corpus_id, b.vec_id AS bench_id,
        |  round(list_cosine_similarity(b.v, c.v), 6) AS cosine
        |FROM bench b CROSS JOIN corpus c
        |WHERE c.vec_id <> b.vec_id
        |  AND round(list_cosine_similarity(b.v, c.v), 6) >= 0.98::DOUBLE
        |ORDER BY corpus_id, bench_id""".stripMargin,
    // the full hierarchical replay: md5 shard sample → cosine shard
    // routing (2.0 zero-norm guard) → count-derived per-shard k
    // (integer floor division) → lowest-id seeds → one 6-dp-rounded
    // joined-Lloyd update → (shard, cell)-local cosine pairs. Every
    // float fold is the engines' shared left-to-right double sum.
    "dedup_semdedup_lsh" -> LshSemDedupOracle,
    "dedup_semdedup_sharded" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |planted AS (
        |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
        |  FROM e WHERE vec_id < 25),
        |x0 AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
        |xn AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(v, el -> el * el),
        |      (a, b) -> a + b)) AS nv
        |  FROM x0),
        |sc AS (
        |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
        |      AS sid, v AS sv,
        |    sqrt(list_reduce(list_transform(v, el -> el * el),
        |      (a, b) -> a + b)) AS ns
        |  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v
        |        FROM xn ORDER BY h, vec_id LIMIT 4)),
        |sd AS (
        |  SELECT xn.vec_id, sc.sid,
        |    CASE WHEN xn.nv * sc.ns > 0 THEN
        |      1.0 - list_reduce(list_transform(list_zip(xn.v, sc.sv),
        |        p -> p[1] * p[2]), (a, b) -> a + b) / (xn.nv * sc.ns)
        |    ELSE 2.0 END AS dist
        |  FROM xn CROSS JOIN sc),
        |shard AS (
        |  SELECT vec_id, sid AS sh FROM (
        |    SELECT vec_id, sid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rk
        |    FROM sd) WHERE rk = 1),
        |xs AS (
        |  SELECT s.sh, x.vec_id, x.v,
        |    greatest(2, CAST((count(1) OVER (PARTITION BY s.sh) + 63) // 64
        |      AS INTEGER)) AS k,
        |    row_number() OVER (PARTITION BY s.sh ORDER BY x.vec_id) AS rn
        |  FROM shard s JOIN x0 x USING (vec_id)),
        |c0 AS (
        |  SELECT sh, CAST(rn - 1 AS INTEGER) AS cl, v AS cv
        |  FROM xs WHERE rn <= k),
        |d1 AS (
        |  SELECT xs.sh, xs.vec_id, c0.cl,
        |    list_reduce(list_transform(list_zip(xs.v, c0.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
        |  FROM xs JOIN c0 ON c0.sh = xs.sh),
        |a1 AS (
        |  SELECT sh, vec_id, cl FROM (
        |    SELECT sh, vec_id, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
        |    FROM d1) WHERE rk = 1),
        |u AS (SELECT vec_id, unnest(v) AS el, generate_subscripts(v, 1) AS i
        |  FROM x0),
        |m1 AS (
        |  SELECT a1.sh, a1.cl, u.i, round(avg(u.el), 6) AS c
        |  FROM a1 JOIN u USING (vec_id) GROUP BY a1.sh, a1.cl, u.i),
        |c1 AS (SELECT sh, cl, list(c ORDER BY i) AS cv FROM m1 GROUP BY sh, cl),
        |d2 AS (
        |  SELECT xs.sh, xs.vec_id, c1.cl,
        |    list_reduce(list_transform(list_zip(xs.v, c1.cv),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
        |  FROM xs JOIN c1 ON c1.sh = xs.sh),
        |a2 AS (
        |  SELECT sh, vec_id, cl FROM (
        |    SELECT sh, vec_id, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
        |    FROM d2) WHERE rk = 1),
        |p AS (
        |  SELECT xa.vec_id AS id_a, xb.vec_id AS id_b,
        |    list_dot_product(xa.v, xb.v) /
        |      (sqrt(list_dot_product(xa.v, xa.v)) *
        |       sqrt(list_dot_product(xb.v, xb.v))) AS cos_raw
        |  FROM a2 aa JOIN a2 ab ON aa.sh = ab.sh AND aa.cl = ab.cl
        |    AND aa.vec_id < ab.vec_id
        |  JOIN x0 xa ON xa.vec_id = aa.vec_id
        |  JOIN x0 xb ON xb.vec_id = ab.vec_id)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cosine FROM p
        |WHERE cos_raw >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,
    // per-subspace replay of the same bit-stable Lloyd chain as
    // embed_kmeans (slice → init → one rounded update → assignment
    // keeping the min distance), then codes + error joined on vec_id
    "embed_pq" -> {
      s"""WITH ${PqOracleSub(0)},
         |${PqOracleSub(1)}
         |SELECT a20.vec_id, a20.cl AS code_0, a21.cl AS code_1,
         |  round(sqrt(a20.dist + a21.dist), 6) AS qerr
         |FROM a20 JOIN a21 USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },
    // same per-subspace chain as embed_pq, then probe LUTs against the
    // final codebooks and the ADC rank
    "sim_pq" -> {
      s"""WITH ${PqOracleSub(0)},
         |${PqOracleSub(1)},
         |lut0 AS (
         |  SELECT p.vec_id AS probe_id, c.cl,
         |    list_reduce(list_transform(list_zip(p.v, c.v),
         |      q -> (q[1] - q[2]) * (q[1] - q[2])), (a, b) -> a + b) AS d2
         |  FROM (SELECT vec_id, v FROM x0 WHERE vec_id < 20) p
         |  CROSS JOIN c10 c),
         |lut1 AS (
         |  SELECT p.vec_id AS probe_id, c.cl,
         |    list_reduce(list_transform(list_zip(p.v, c.v),
         |      q -> (q[1] - q[2]) * (q[1] - q[2])), (a, b) -> a + b) AS d2
         |  FROM (SELECT vec_id, v FROM x1 WHERE vec_id < 20) p
         |  CROSS JOIN c11 c),
         |ad AS (
         |  SELECT l0.probe_id, a20.vec_id, l0.d2 + l1.d2 AS adist
         |  FROM a20 JOIN a21 USING (vec_id)
         |  JOIN lut0 l0 ON l0.cl = a20.cl
         |  JOIN lut1 l1 ON l1.cl = a21.cl AND l1.probe_id = l0.probe_id
         |  WHERE l0.probe_id <> a20.vec_id)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  round(adist, 6) AS adist
         |FROM (
         |  SELECT probe_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adist, vec_id) AS rank
         |  FROM ad) WHERE rank <= 5
         |ORDER BY probe_id, rank""".stripMargin
    },
    // sim_pq's replay plus the coarse full-vector quantizer ("g" CTEs):
    // probes route to their 2 nearest of 8 cells, ADC ranks only the
    // routed cells' codes — the whole IVF-PQ index replayed in SQL
    "sim_ivfpq" -> {
      s"""WITH ${PqSub("g", 1, 64, 8)},
         |${PqOracleSub(0)},
         |${PqOracleSub(1)},
         |lutg AS (
         |  SELECT p.vec_id AS probe_id, c.cl,
         |    list_reduce(list_transform(list_zip(p.v, c.v),
         |      q -> (q[1] - q[2]) * (q[1] - q[2])), (a, b) -> a + b) AS d2
         |  FROM (SELECT vec_id, v FROM xg WHERE vec_id < 20) p
         |  CROSS JOIN c1g c),
         |pc AS (
         |  SELECT probe_id, cl AS cell FROM (
         |    SELECT probe_id, cl,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY d2, cl) AS rk
         |    FROM lutg) WHERE rk <= 2),
         |lut0 AS (
         |  SELECT p.vec_id AS probe_id, c.cl,
         |    list_reduce(list_transform(list_zip(p.v, c.v),
         |      q -> (q[1] - q[2]) * (q[1] - q[2])), (a, b) -> a + b) AS d2
         |  FROM (SELECT vec_id, v FROM x0 WHERE vec_id < 20) p
         |  CROSS JOIN c10 c),
         |lut1 AS (
         |  SELECT p.vec_id AS probe_id, c.cl,
         |    list_reduce(list_transform(list_zip(p.v, c.v),
         |      q -> (q[1] - q[2]) * (q[1] - q[2])), (a, b) -> a + b) AS d2
         |  FROM (SELECT vec_id, v FROM x1 WHERE vec_id < 20) p
         |  CROSS JOIN c11 c),
         |ad AS (
         |  SELECT pc.probe_id, a2g.vec_id, l0.d2 + l1.d2 AS adist
         |  FROM pc JOIN a2g ON a2g.cl = pc.cell
         |  JOIN a20 ON a20.vec_id = a2g.vec_id
         |  JOIN a21 ON a21.vec_id = a2g.vec_id
         |  JOIN lut0 l0 ON l0.cl = a20.cl AND l0.probe_id = pc.probe_id
         |  JOIN lut1 l1 ON l1.cl = a21.cl AND l1.probe_id = pc.probe_id
         |  WHERE pc.probe_id <> a2g.vec_id)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  round(adist, 6) AS adist
         |FROM (
         |  SELECT probe_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY adist, vec_id) AS rank
         |  FROM ad) WHERE rank <= 5
         |ORDER BY probe_id, rank""".stripMargin
    },
    // both Lloyd iterations unrolled; the distance fold is the same
    // left-to-right double sum as the Spark side (list_reduce seeds
    // with the first element; 0.0 + t0 ≡ t0, so the folds agree
    // bit-for-bit) and centroids are rounded to 6 dp between rounds
    "embed_kmeans" ->
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
        |  FROM (SELECT vec_id, v FROM x ORDER BY vec_id LIMIT 8)),
        |d1 AS (
        |  SELECT x.vec_id, c0.cl,
        |    list_reduce(list_transform(list_zip(x.v, c0.v),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
        |  FROM x CROSS JOIN c0),
        |a1 AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT vec_id, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
        |    FROM d1) WHERE rk = 1),
        |u AS (SELECT vec_id, unnest(v) AS e, generate_subscripts(v, 1) AS i FROM x),
        |m1 AS (
        |  SELECT a1.cl, u.i, round(avg(u.e), 6) AS c
        |  FROM a1 JOIN u USING (vec_id) GROUP BY a1.cl, u.i),
        |c1 AS (SELECT cl, list(c ORDER BY i) AS v FROM m1 GROUP BY cl),
        |d2 AS (
        |  SELECT x.vec_id, c1.cl,
        |    list_reduce(list_transform(list_zip(x.v, c1.v),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS dist
        |  FROM x CROSS JOIN c1),
        |a2 AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT vec_id, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
        |    FROM d2) WHERE rk = 1),
        |m2 AS (
        |  SELECT a2.cl, u.i, round(avg(u.e), 6) AS c
        |  FROM a2 JOIN u USING (vec_id) GROUP BY a2.cl, u.i),
        |n2 AS (SELECT cl, count(*) AS n FROM a2 GROUP BY cl)
        |SELECT m2.cl AS cluster, CAST(m2.i - 1 AS BIGINT) AS dim, m2.c AS c,
        |  n2.n AS n
        |FROM m2 JOIN n2 USING (cl)
        |ORDER BY cluster, dim""".stripMargin,
    // threshold on the RAW cosine; round only for display (the
    // round-before-filter hazard from the cosine dedup oracles)
    "embed_outliers" ->
      """WITH x AS (
        |  SELECT vec_id, label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |c AS (SELECT label, i, avg(v) AS c FROM x GROUP BY 1, 2),
        |d AS (
        |  SELECT x.vec_id, x.label,
        |    sum(x.v * c.c) AS dot, sum(x.v * x.v) AS n2, sum(c.c * c.c) AS c2
        |  FROM x JOIN c USING (label, i) GROUP BY 1, 2),
        |cos AS (
        |  SELECT vec_id, label, dot / (sqrt(n2) * sqrt(c2)) AS cos_raw
        |  FROM d)
        |SELECT vec_id, label, round(cos_raw, 6) AS cos
        |FROM cos WHERE cos_raw < 0 ORDER BY vec_id""".stripMargin,
    "embed_dispersion" ->
      """WITH x AS (
        |  SELECT vec_id, label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |c AS (SELECT label, i, avg(v) AS c FROM x GROUP BY 1, 2),
        |d AS (
        |  SELECT x.vec_id, x.label,
        |    sum(x.v * c.c) AS dot, sum(x.v * x.v) AS n2, sum(c.c * c.c) AS c2
        |  FROM x JOIN c USING (label, i) GROUP BY 1, 2),
        |cos AS (
        |  SELECT vec_id, label, dot / (sqrt(n2) * sqrt(c2)) AS cos FROM d)
        |SELECT label, count(*) AS n, round(avg(cos), 6) AS mean_cos,
        |  round(min(cos), 6) AS min_cos
        |FROM cos GROUP BY 1 ORDER BY 1""".stripMargin,
    "embed_norm" ->
      """SELECT vec_id,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // replay of the power iteration: identical 6-dp rounds at every
    // step (moments, covariance, matvec, norm, normalize), 8 unrolled
    // iteration CTEs, MATERIALIZED: DuckDB inlines a chained CTE at
    // every reference, so the inlined plan grows exponentially per round
    "embed_pca" -> {
      // exact micro-unit integer replay (see Vec.topComponent's
      // scaladoc): one float quantization at the covariance, then
      // every iteration value is an integer-valued DOUBLE < 2^53 —
      // sums are exact in any order, divisions are correctly rounded
      // from identical inputs, so floor() agrees bit-for-bit
      def step(k: Int): String =
        s"""w$k AS MATERIALIZED (
           |  SELECT c.i,
           |    floor((2.0 * sum(c.cm * v${k - 1}.vm) + 1000000.0)
           |      / 2000000.0) AS wm
           |  FROM c JOIN v${k - 1} ON c.j = v${k - 1}.i GROUP BY 1),
           |n$k AS MATERIALIZED (
           |  SELECT floor(sqrt(sum(wm * wm)) + 0.5) AS nm FROM w$k),
           |v$k AS MATERIALIZED (
           |  SELECT i, floor((2.0 * wm * 1000000.0 + nm) / (2.0 * nm))
           |    AS vm
           |  FROM w$k, n$k),""".stripMargin
      s"""WITH x AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |    CAST(unnest(embedding) AS DOUBLE) AS x
         |  FROM embeddings),
         |exx AS (
         |  SELECT a.i AS i, b.i AS j, avg(a.x * b.x) AS exx
         |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
         |mu AS (SELECT i, avg(x) AS mu FROM x GROUP BY 1),
         |c AS (
         |  SELECT exx.i, exx.j,
         |    floor((exx - ma.mu * mb.mu) * 1000000.0 + 0.5) AS cm
         |  FROM exx JOIN mu ma ON exx.i = ma.i JOIN mu mb ON exx.j = mb.i),
         |dd AS (SELECT count(*) AS d FROM mu),
         |v0 AS (
         |  SELECT i, floor(1000000.0 / sqrt(CAST(d AS DOUBLE)) + 0.5)
         |    AS vm
         |  FROM mu, dd),
         |${(1 to 8).map(step).mkString("\n")}
         |fin AS (SELECT 1)
         |SELECT CAST(v8.i AS BIGINT) AS dim, v8.vm / 1000000.0 AS v,
         |  n8.nm / 1000000.0 AS eigenvalue
         |FROM v8, n8 ORDER BY dim""".stripMargin
    },
    // mu/sigma rounded to 6 dp BEFORE z, z rounded after — mirrors the
    // engine's cross-float-drift recipe exactly
    "embed_whiten" ->
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |st AS (
        |  SELECT i, round(avg(x), 6) AS mu,
        |    round(stddev_pop(x), 6) AS sigma
        |  FROM x GROUP BY 1)
        |SELECT vec_id, i,
        |  CASE WHEN sigma = 0 THEN 0.0
        |       ELSE round((x - mu) / sigma, 6) END AS z
        |FROM x JOIN st USING (i)
        |ORDER BY vec_id, i""".stripMargin,
    "text_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
        |    AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sim_topk_agg" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id AS nbr_id,
        |    row_number() OVER (PARTITION BY p.probe_id
        |      ORDER BY list_cosine_similarity(p.pv, e.embedding::DOUBLE[]) DESC,
        |        e.vec_id) AS rank
        |  FROM p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id)
        |SELECT probe_id, rank, nbr_id FROM scored
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,
    "text_langid" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','den'))) AS de,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','es','no','por'))) AS es,
        |    len(list_filter(toks, x -> x IN ('le','la','de','et','un','est','que','pour','dans','ce'))) AS fr
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |       WHEN de = greatest(de, en, es, fr) THEN 'de'
        |       WHEN en = greatest(de, en, es, fr) THEN 'en'
        |       WHEN es = greatest(de, en, es, fr) THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
        |    END AS avg_token_len,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks)
        |    END AS stopword_ratio,
        |    CASE WHEN len(text) > 0 THEN
        |      CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |        / len(text)
        |    ELSE 0.0 END AS pr
        |  FROM t),
        |q AS (
        |  SELECT *,
        |    CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0
        |         WHEN n_tokens < 10 THEN n_tokens / 10.0
        |         ELSE 100000.0 / n_tokens END AS len_ok,
        |    CASE WHEN coalesce(avg_token_len, 0.0) >= 2
        |              AND coalesce(avg_token_len, 0.0) <= 12
        |         THEN 1.0 ELSE 0.25 END AS awl_ok,
        |    CASE WHEN coalesce(stopword_ratio, 0.0) > 0.01 THEN 1.0 ELSE 0.5 END
        |      AS stop_ok,
        |    1.0 - least(pr * 4, 1.0) AS punct_ok
        |  FROM b)
        |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
        |  round(pr, 6) AS punct_ratio,
        |  round(least(len_ok, 1.0) * 0.25 + awl_ok * 0.2 + stop_ok * 0.15
        |    + punct_ok * 0.4, 6) AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "text_perplexity_xfer" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ' ' || trim(lower(regexp_replace(text, '[^\p{L}]+', ' ', 'g'))) || ' '
        |      AS t
        |  FROM documents),
        |tg AS (
        |  SELECT substr(t, CAST(i AS INTEGER), 2) AS gm
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM d WHERE doc_id % 2 = 0 AND len(t) >= 2)),
        |bi AS (SELECT gm, count(*) AS nb FROM tg GROUP BY 1),
        |pre AS (SELECT substr(gm, 1, 1) AS c1, sum(nb) AS np FROM bi GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(gm, 2, 1)) AS vv FROM bi),
        |model AS (
        |  SELECT gm,
        |    -log2(CAST(nb + 1 AS DOUBLE) / CAST(np + vv AS DOUBLE)) AS bits
        |  FROM bi JOIN pre ON substr(gm, 1, 1) = c1 CROSS JOIN v),
        |sg AS (
        |  SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS gm
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM d WHERE doc_id % 2 = 1 AND len(t) >= 2)),
        |k AS (SELECT doc_id, gm, count(*) AS k FROM sg GROUP BY 1, 2),
        |sc AS (
        |  SELECT k.doc_id, k.k, m.bits, p.np
        |  FROM k LEFT JOIN model m ON k.gm = m.gm
        |  LEFT JOIN pre p ON substr(k.gm, 1, 1) = p.c1),
        |f AS (
        |  SELECT doc_id, k,
        |    CASE WHEN bits IS NOT NULL THEN bits
        |         ELSE -log2(1.0 / CAST(coalesce(np, 0) + (SELECT vv FROM v)
        |           AS DOUBLE)) END AS bits2,
        |    CASE WHEN bits IS NULL THEN k ELSE 0 END AS oov
        |  FROM sc)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  CAST(sum(oov) AS BIGINT) AS oov_bigrams,
        |  round(sum(k * bits2) / sum(k), 6) AS xent_bits
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replays the engine's BPE exactly: same case-folded whitespace
    // words, same double-space symbol strings, same leftmost-first
    // `replace` merge, same (count desc, lexicographic) tie-break —
    // six rounds unrolled
    "text_bpe_train" -> {
      def round(r: Int): String = {
        val prev = s"v${r - 1}"
        s"""p$r AS (
           |  SELECT l[i] AS lft, l[i + 1] AS rgt, sum(n) AS c
           |  FROM (SELECT string_split(trim(s, ' '), '  ') AS l, n FROM $prev) t,
           |       LATERAL (SELECT unnest(range(1, len(t.l))) AS i)
           |  GROUP BY 1, 2),
           |m$r AS (SELECT lft, rgt, c FROM p$r ORDER BY c DESC, lft, rgt LIMIT 1),
           |v$r AS (
           |  SELECT replace(s, ' ' || lft || '  ' || rgt || ' ',
           |                 ' ' || lft || rgt || ' ') AS s, n
           |  FROM $prev CROSS JOIN m$r),""".stripMargin
      }
      val rounds = (1 to 6).map(round).mkString("\n")
      val unions = (1 to 6).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, lft, rgt, CAST(c AS BIGINT) AS n FROM m$r")
        .mkString("\nUNION ALL ")
      s"""WITH w AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |  FROM documents WHERE len(trim(text)) > 0),
         |v0 AS (
         |  SELECT '  ' || array_to_string(
         |      list_append(regexp_extract_all(word, '.'), '</w>'), '  ')
         |      || '  ' AS s,
         |    count(*) AS n
         |  FROM w WHERE word <> '' GROUP BY 1),
         |$rounds
         |z AS (SELECT 1)
         |$unions
         |ORDER BY merge_rank""".stripMargin
    },
    // replays text_bpe_train's 6 merge rounds, then applies them to
    // every word with the identical double-space replace
    "text_bpe_encode" -> {
      def round(r: Int): String = {
        val prev = s"v${r - 1}"
        s"""p$r AS (
           |  SELECT l[i] AS lft, l[i + 1] AS rgt, sum(n) AS c
           |  FROM (SELECT string_split(trim(s, ' '), '  ') AS l, n FROM $prev) t,
           |       LATERAL (SELECT unnest(range(1, len(t.l))) AS i)
           |  GROUP BY 1, 2),
           |m$r AS (SELECT lft, rgt, c FROM p$r ORDER BY c DESC, lft, rgt LIMIT 1),
           |v$r AS (
           |  SELECT replace(s, ' ' || lft || '  ' || rgt || ' ',
           |                 ' ' || lft || rgt || ' ') AS s, n
           |  FROM $prev CROSS JOIN m$r),""".stripMargin
      }
      def enc(r: Int): String =
        s"""d$r AS (
           |  SELECT doc_id, replace(s, ' ' || lft || '  ' || rgt || ' ',
           |                 ' ' || lft || rgt || ' ') AS s
           |  FROM d${r - 1} CROSS JOIN m$r),""".stripMargin
      val rounds = (1 to 6).map(round).mkString("\n")
      val encodes = (1 to 6).map(enc).mkString("\n")
      s"""WITH w AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |  FROM documents WHERE len(trim(text)) > 0),
         |v0 AS (
         |  SELECT '  ' || array_to_string(
         |      list_append(regexp_extract_all(word, '.'), '</w>'), '  ')
         |      || '  ' AS s,
         |    count(*) AS n
         |  FROM w WHERE word <> '' GROUP BY 1),
         |$rounds
         |d0 AS (
         |  SELECT doc_id, '  ' || array_to_string(
         |      list_append(regexp_extract_all(word, '.'), '</w>'), '  ')
         |      || '  ' AS s
         |  FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |    FROM documents WHERE len(trim(text)) > 0)
         |  WHERE word <> ''),
         |$encodes
         |z AS (SELECT 1)
         |SELECT doc_id,
         |  CAST(sum(len(string_split_regex(trim(s, ' '), '\\s+'))) AS BIGINT)
         |    AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_words
         |FROM d6 GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // same feature definitions as text_quality's CTEs; fixed logistic
    // weights [-1, .35, 2, -4, .5] over
    // [1, ln(1+n_tokens), stopword_ratio, punct_ratio, avg_token_len/10]
    "text_quality_clf" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) AS nt,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
        |    ELSE 0.0 END AS awl,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks)
        |    ELSE 0.0 END AS sr,
        |    CASE WHEN len(text) > 0 THEN
        |      CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |        / len(text)
        |    ELSE 0.0 END AS pr
        |  FROM t)
        |SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(-1.0 + 0.35 * ln(1.0 + nt) + 2.0 * sr
        |    - 4.0 * pr + 0.5 * awl / 10.0))), 6) AS clf_score
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_langid_ngram" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    ' ' || trim(lower(regexp_replace(text, '[^\p{L}]+', ' ', 'g'))) || ' '
        |      AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 3) AS gram
        |  FROM (SELECT doc_id, lang, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM d WHERE len(t) >= 3)),
        |cnt AS (SELECT lang, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang AS p_lang, gram FROM (
        |    SELECT lang, gram,
        |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS r
        |    FROM cnt) WHERE r <= 300),
        |best AS (
        |  SELECT doc_id, p_lang AS lang_pred FROM (
        |    SELECT g.doc_id, p.p_lang, count(*) AS m,
        |      row_number() OVER (PARTITION BY g.doc_id
        |        ORDER BY count(*) DESC, p.p_lang) AS rk
        |    FROM g JOIN prof p USING (gram)
        |    GROUP BY g.doc_id, p.p_lang) WHERE rk = 1)
        |SELECT d.doc_id, coalesce(b.lang_pred, 'und') AS lang_pred
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, UNNEST(regexp_extract_all(text, '.')) AS ch
        |  FROM documents),
        |n AS (SELECT doc_id, ch, count(*) AS n FROM c GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_id,
        |    n / CAST(sum(n) OVER (PARTITION BY doc_id) AS DOUBLE) AS p
        |  FROM n)
        |SELECT doc_id, round(-sum(p * log2(p)), 6) AS entropy_bits
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // text_nb_clf: the trained-NB replay — FNV token buckets, exact
    // integer class counts, the same Laplace log-ratios on identical
    // doubles; per-doc fold rounded at 6 dp like every cross-engine
    // log in the suite
    "text_nb_clf" -> (NbClfCtes +
      """
        |SELECT l.doc_id, l.y AS label,
        |  round(pr.prior + coalesce(sc.s2, 0), 6) AS nb_logit
        |FROM lab l CROSS JOIN pr LEFT JOIN sc USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // stream_clf: same trained weights, but the score is the serving
    // fold — term-by-term left-to-right over the token array, replayed
    // with an ORDERED list_reduce so the double order matches exactly
    "stream_clf" -> (NbClfCtes +
      s""",
        |tf2 AS (SELECT doc_id, r.i AS pos, ts[r.i] AS t
        |        FROM tok, UNNEST(range(1, len(ts) + 1)) AS r(i)),
        |tb2 AS (SELECT doc_id, pos,
        |          ((${fnvSql("t")} % 1024) + 1024) % 1024 AS b
        |        FROM tf2),
        |tw AS (SELECT x.doc_id, x.pos, coalesce(w.w, 0.0) AS wv
        |       FROM tb2 x LEFT JOIN w USING (b)),
        |fold AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(wv ORDER BY pos)),
        |      (a, b) -> a + b) AS s2
        |  FROM tw GROUP BY doc_id)
        |SELECT t0.doc_id,
        |  round(pr.prior + coalesce(f.s2, 0.0), 6) AS nb_logit
        |FROM tok t0 CROSS JOIN pr LEFT JOIN fold f USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // text_clf_auc: binned trapezoid ROC-AUC over the same bins; the
    // lag order (fpr, tpr) is total because the cumulative points are
    // monotone, so both engines pair identical trapezoids
    "text_clf_auc" -> (NbClfCtes +
      """,
        |scored AS (
        |  SELECT l.doc_id, l.y,
        |    round(pr.prior + coalesce(sc.s2, 0), 6) AS s
        |  FROM lab l CROSS JOIN pr LEFT JOIN sc USING (doc_id)),
        |binned AS (
        |  SELECT floor(s * 4) / 4 AS thr, sum(y) AS pos, count(*) AS n
        |  FROM scored GROUP BY 1),
        |ptot AS (SELECT sum(pos)::BIGINT AS p,
        |                (sum(n) - sum(pos))::BIGINT AS q FROM binned),
        |cum AS (
        |  SELECT thr,
        |    sum(pos) OVER (ORDER BY thr DESC) AS tp,
        |    sum(n - pos) OVER (ORDER BY thr DESC) AS fp
        |  FROM binned),
        |pts AS (
        |  SELECT c.tp::DOUBLE / t.p::DOUBLE AS tpr,
        |         c.fp::DOUBLE / t.q::DOUBLE AS fpr
        |  FROM cum c CROSS JOIN ptot t),
        |lagd AS (
        |  SELECT fpr, tpr,
        |    coalesce(lag(fpr) OVER (ORDER BY fpr, tpr), 0.0) AS lf,
        |    coalesce(lag(tpr) OVER (ORDER BY fpr, tpr), 0.0) AS lt
        |  FROM pts)
        |SELECT t.p AS n_pos, t.q AS n_neg,
        |  round(sum((fpr - lf) * (tpr + lt) / 2), 6) AS auc
        |FROM lagd CROSS JOIN ptot t GROUP BY t.p, t.q""".stripMargin),
    // text_clf_pr: quarter-logit bins over the identical scored corpus,
    // cumulative sums over the bin catalog, exact-integer divisions
    "text_clf_pr" -> (NbClfCtes +
      """,
        |scored AS (
        |  SELECT l.doc_id, l.y,
        |    round(pr.prior + coalesce(sc.s2, 0), 6) AS s
        |  FROM lab l CROSS JOIN pr LEFT JOIN sc USING (doc_id)),
        |binned AS (
        |  SELECT floor(s * 4) / 4 AS thr, sum(y) AS pos, count(*) AS n
        |  FROM scored GROUP BY 1),
        |ptot AS (SELECT sum(pos) AS pos_all FROM binned),
        |cum AS (
        |  SELECT thr,
        |    sum(pos) OVER (ORDER BY thr DESC) AS tp,
        |    sum(n) OVER (ORDER BY thr DESC) AS n_ge
        |  FROM binned)
        |SELECT c.thr, c.tp::BIGINT AS tp, (c.n_ge - c.tp)::BIGINT AS fp,
        |  (t.pos_all - c.tp)::BIGINT AS fn,
        |  c.tp::DOUBLE / c.n_ge::DOUBLE AS prec,
        |  c.tp::DOUBLE / t.pos_all::DOUBLE AS rec
        |FROM cum c CROSS JOIN ptot t
        |ORDER BY thr DESC""".stripMargin),
    // text_clf_pr_degenerate: identical machinery on the zero-positive
    // slice (y = 0) — pos_all is 0, so rec must be NULL in BOTH
    // engines (nullif guard), never NaN; fn = 0 - 0 stays exact
    "text_clf_pr_degenerate" -> (NbClfCtes +
      """,
        |scored AS (
        |  SELECT l.doc_id, l.y,
        |    round(pr.prior + coalesce(sc.s2, 0), 6) AS s
        |  FROM lab l CROSS JOIN pr LEFT JOIN sc USING (doc_id)
        |  WHERE l.y = 0),
        |binned AS (
        |  SELECT floor(s * 4) / 4 AS thr, sum(y) AS pos, count(*) AS n
        |  FROM scored GROUP BY 1),
        |ptot AS (SELECT sum(pos) AS pos_all FROM binned),
        |cum AS (
        |  SELECT thr,
        |    sum(pos) OVER (ORDER BY thr DESC) AS tp,
        |    sum(n) OVER (ORDER BY thr DESC) AS n_ge
        |  FROM binned)
        |SELECT c.thr, c.tp::BIGINT AS tp, (c.n_ge - c.tp)::BIGINT AS fp,
        |  (t.pos_all - c.tp)::BIGINT AS fn,
        |  c.tp::DOUBLE / c.n_ge::DOUBLE AS prec,
        |  c.tp::DOUBLE / nullif(t.pos_all, 0)::DOUBLE AS rec
        |FROM cum c CROSS JOIN ptot t
        |ORDER BY thr DESC""".stripMargin),
    // normalization identical to the char-ngram queries (case-folded,
    // letter-only, space-padded); add-one smoothing over observed
    // bigrams, V = distinct successor characters
    "text_perplexity" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ' ' || trim(lower(regexp_replace(text, '[^\p{L}]+', ' ', 'g'))) || ' '
        |      AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS gm
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM d WHERE len(t) >= 2)),
        |k AS (SELECT doc_id, gm, count(*) AS k FROM g GROUP BY 1, 2),
        |bi AS (SELECT gm, sum(k) AS nb FROM k GROUP BY 1),
        |pre AS (SELECT substr(gm, 1, 1) AS c1, sum(nb) AS np FROM bi GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(gm, 2, 1)) AS vv FROM bi),
        |model AS (
        |  SELECT gm,
        |    -log2(CAST(nb + 1 AS DOUBLE) / CAST(np + vv AS DOUBLE)) AS bits
        |  FROM bi JOIN pre ON substr(gm, 1, 1) = c1 CROSS JOIN v)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  round(sum(k * bits) / sum(k), 6) AS xent_bits
        |FROM k JOIN model USING (gm)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |         THEN text || chr(10) || 'subscribe to our newsletter'
        |         ELSE text END AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, g.i AS pos,
        |    list_extract(string_split(text, chr(10)), g.i) AS line
        |  FROM d, LATERAL (SELECT unnest(range(1,
        |    len(string_split(text, chr(10))) + 1)) AS i) g),
        |c AS (SELECT line, count(*) AS cnt FROM l GROUP BY 1),
        |k AS (
        |  SELECT doc_id, pos, l.line, (c.cnt <= 10) AS keep
        |  FROM l JOIN c USING (line))
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep), '')) AS clean_md5
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS tk
        |  FROM documents),
        |n AS (SELECT doc_id, tk, len(tk) AS nt FROM d),
        |c AS (
        |  SELECT doc_id, tk, CAST(i AS INTEGER) AS chunk_id
        |  FROM (SELECT doc_id, tk,
        |          unnest(range(CAST(floor((greatest(nt - 32, 0) + 23) / 24.0)
        |            AS BIGINT) + 1)) AS i
        |        FROM n WHERE nt > 0))
        |SELECT doc_id, chunk_id,
        |  CAST(len(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32))
        |    AS BIGINT) AS n_tok,
        |  array_to_string(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32),
        |    ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_corpus_stats" ->
      """WITH t AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
        |  round(avg(nt), 4) AS avg_tokens,
        |  max(n_chars) AS max_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "stream_curate" ->
      """WITH scrub AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM documents),
        |tok AS (
        |  SELECT text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM scrub),
        |uniq AS (
        |  SELECT DISTINCT text, n_tokens FROM tok WHERE n_tokens >= 20)
        |SELECT
        |  CASE WHEN substring(md5(text), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substring(md5(text), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM uniq GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_len_pctl" ->
      """WITH t AS (
        |  SELECT lang,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS nt
        |  FROM documents)
        |SELECT lang,
        |  round(quantile_cont(nt, 0.5), 6) AS p50,
        |  round(quantile_cont(nt, 0.9), 6) AS p90,
        |  round(quantile_cont(nt, 0.99), 6) AS p99
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_repetition" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
        |         WHEN doc_id % 3 = 1 THEN text || chr(10) ||
        |           array_to_string(string_split_regex(trim(text), '\s+')[1:5], ' ')
        |         ELSE text END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, line
        |  FROM src, UNNEST(string_split(text, chr(10))) AS u(line)
        |  WHERE len(trim(line)) > 0),
        |per AS (
        |  SELECT doc_id, line, count(*) AS c, len(line) AS l
        |  FROM lines GROUP BY 1, 2),
        |stats AS (
        |  SELECT doc_id, sum(c) AS n_lines, sum(c) - count(*) AS ndup,
        |    sum(c * l) AS chars, sum((c - 1) * l) AS dupchars
        |  FROM per GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(s.ndup AS DOUBLE) / s.n_lines AS dup_line_frac,
        |  CASE WHEN s.chars > 0
        |    THEN CAST(s.dupchars AS DOUBLE) / s.chars END AS dup_char_frac
        |FROM documents d LEFT JOIN stats s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE len(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    tf.tf * (ln((1 + n.n) / (1 + dfreq.df)) + 1) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // every float op forced to DOUBLE (decimal literals would divide
    // in DECIMAL); expression tree mirrors the Spark side exactly
    "text_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents WHERE len(trim(text)) > 0)
        |  WHERE t <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tk
        |  WHERE t IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln(1 + (st.nd - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      (tf.tf * (1.2::DOUBLE + 1)) /
        |      (tf.tf + 1.2::DOUBLE *
        |        (1.0::DOUBLE - 0.75::DOUBLE
        |         + 0.75::DOUBLE * dl.dl / st.avgdl)) AS s
        |  FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN st)
        |SELECT doc_id, round(sum(s), 6) AS bm25
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // ROUGE-2 with clipped multiset counts; prec/rec are raw integer
    // IEEE divisions (never rounded), f1 the same 2pr/(p+r) fold
    "text_rouge" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    array_to_string(t[1:30], ' ') AS cand,
        |    array_to_string(t[11:60], ' ') AS ref
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(text), '\s+'),
        |                      x -> x <> '') AS t
        |        FROM documents WHERE doc_id % 13 = 0)),
        |cg AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g, 1 AS side
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(cand), '\s+'),
        |                      x -> x <> '') AS t FROM p),
        |    UNNEST(range(1, len(t))) AS r(i)),
        |rg AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g, 2 AS side
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(trim(ref), '\s+'),
        |                      x -> x <> '') AS t FROM p),
        |    UNNEST(range(1, len(t))) AS r(i)),
        |pg AS (
        |  SELECT doc_id, g,
        |    count(CASE WHEN side = 1 THEN 1 END) AS ca,
        |    count(CASE WHEN side = 2 THEN 1 END) AS cb
        |  FROM (SELECT * FROM cg UNION ALL SELECT * FROM rg)
        |  GROUP BY doc_id, g),
        |pd AS (
        |  SELECT doc_id,
        |    CAST(sum(least(ca, cb)) AS BIGINT) AS clipped,
        |    CAST(sum(ca) AS BIGINT) AS cand_ngrams,
        |    CAST(sum(cb) AS BIGINT) AS ref_ngrams
        |  FROM pg GROUP BY doc_id)
        |SELECT doc_id, clipped, cand_ngrams, ref_ngrams,
        |  CASE WHEN cand_ngrams > 0
        |    THEN CAST(clipped AS DOUBLE) / cand_ngrams END AS prec,
        |  CASE WHEN ref_ngrams > 0
        |    THEN CAST(clipped AS DOUBLE) / ref_ngrams END AS rec,
        |  CASE WHEN clipped > 0
        |    THEN 2.0 * (CAST(clipped AS DOUBLE) / cand_ngrams)
        |           * (CAST(clipped AS DOUBLE) / ref_ngrams)
        |         / ((CAST(clipped AS DOUBLE) / cand_ngrams)
        |            + (CAST(clipped AS DOUBLE) / ref_ngrams))
        |    ELSE 0.0 END AS f1
        |FROM pd ORDER BY doc_id""".stripMargin,
    "cur_table_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |      coalesce('v' || text, chr(2)), coalesce('v' || lang, chr(2)),
        |      coalesce('v' || source, chr(2)))) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |      coalesce('v' || CASE WHEN doc_id % 11 = 0
        |                           THEN text || ' changed'
        |                           ELSE text END, chr(2)),
        |      coalesce('v' || lang, chr(2)),
        |      coalesce('v' || source, chr(2)))) AS h
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    md5(concat_ws(chr(1),
        |      coalesce('v' || text, chr(2)), coalesce('v' || lang, chr(2)),
        |      coalesce('v' || source, chr(2))))
        |  FROM documents WHERE doc_id % 17 = 0),
        |j AS (
        |  SELECT a.h AS ha, b.h AS hb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN hb IS NULL THEN 'removed'
        |            WHEN ha IS NULL THEN 'added'
        |            WHEN ha <> hb THEN 'changed'
        |            ELSE 'same' END AS diff_status,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents WHERE len(trim(text)) > 0)
        |  WHERE token <> '')
        |SELECT token, count(*) AS df FROM toks
        |GROUP BY token ORDER BY df DESC, token LIMIT 50""".stripMargin,
    "text_sentences" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || '. ' || substring(text, 41) || '!' AS t
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(t, '[.!?]+'),
        |      x -> trim(x)), x -> len(x) > 0) AS ss
        |  FROM planted)
        |SELECT doc_id, len(ss) AS n_sentences,
        |  CASE WHEN len(ss) > 0 THEN
        |    CAST(list_sum(list_transform(ss, x -> len(x))) AS DOUBLE) / len(ss)
        |  END AS avg_sentence_chars
        |FROM parts ORDER BY doc_id""".stripMargin,
    "text_c4_lines" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || '.' || chr(10) || text
        |         WHEN doc_id % 3 = 1 THEN text || '!' || chr(10) || text || '?'
        |         ELSE text END AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |      x -> trim(x)), x -> len(x) > 0) AS ls
        |  FROM planted),
        |k AS (
        |  SELECT doc_id, ls,
        |    list_filter(ls, x -> regexp_matches(x, '[.!?]$')) AS kept
        |  FROM lines)
        |SELECT doc_id, len(ls) AS n_lines,
        |  CASE WHEN len(ls) > 0
        |    THEN CAST(len(kept) AS DOUBLE) / len(ls) END AS frac_terminal_lines,
        |  CASE WHEN list_sum(list_transform(ls, x -> len(x))) > 0 THEN
        |    CAST(coalesce(list_sum(list_transform(kept, x -> len(x))), 0) AS DOUBLE)
        |      / list_sum(list_transform(ls, x -> len(x)))
        |  END AS frac_chars_kept
        |FROM k ORDER BY doc_id""".stripMargin,
    "text_top2gram" ->
      """WITH tok AS (
        |  SELECT doc_id, len(text) AS nc,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, nc, array_to_string(t[i:i+1], ' ') AS g
        |  FROM tok, UNNEST(range(1, len(t))) AS r(i)),
        |cnt AS (
        |  SELECT doc_id, nc, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |top AS (
        |  SELECT doc_id, g AS top_gram,
        |    CASE WHEN nc > 0
        |      THEN CAST(c * len(g) AS DOUBLE) / nc END AS top_gram_char_frac,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
        |  FROM cnt)
        |SELECT d.doc_id, t.top_gram, t.top_gram_char_frac
        |FROM documents d LEFT JOIN (SELECT * FROM top WHERE rk = 1) t USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "pipeline_curate" ->
      """WITH src AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 4 = 0
        |           THEN text || ' contact bob@example.com from 10.0.0.1'
        |         WHEN doc_id % 4 = 1
        |           THEN text || ' see https://mirror.example.net/path?who=eve@x.org'
        |         WHEN doc_id % 4 = 3
        |           THEN text || ' at http://10.0.0.7/idx and carol@y.io'
        |         ELSE text END AS text
        |  FROM documents),
        |scrub AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM src),
        |tok AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM scrub),
        |kept AS (SELECT * FROM tok WHERE n_tokens >= 20),
        |dedup AS (
        |  SELECT doc_id, lang, text, n_tokens FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |bench AS (SELECT doc_id, text FROM scrub WHERE doc_id % 50 = 0),
        |corpus AS (SELECT * FROM dedup WHERE doc_id % 50 <> 0),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |btok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM ctok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bg AS (
        |  SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS g
        |  FROM btok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)),
        |clean AS (
        |  SELECT * FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM bad))
        |SELECT
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM clean GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cur_decontam" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |planted AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:12], ' ') AS text
        |  FROM bench),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL SELECT doc_id, text FROM planted),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |btok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM ctok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bg AS (
        |  SELECT DISTINCT doc_id AS bench_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM btok, UNNEST(range(1, len(t) - 3)) AS r(i))
        |SELECT cg.doc_id, bg.bench_id, count(DISTINCT cg.g) AS n_matched
        |FROM cg JOIN bg USING (g)
        |GROUP BY 1, 2
        |ORDER BY doc_id, bench_id""".stripMargin,
    // cur_decontam's CTEs aggregated per benchmark doc, LEFT-joined
    // back to the full bench id set so clean docs report zeros
    "cur_contam_report" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |planted AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:12], ' ') AS text
        |  FROM bench),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL SELECT doc_id, text FROM planted),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |btok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM ctok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bg AS (
        |  SELECT DISTINCT doc_id AS bench_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM btok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |pairs AS (
        |  SELECT cg.doc_id, bg.bench_id, count(DISTINCT cg.g) AS n_matched
        |  FROM cg JOIN bg USING (g) GROUP BY 1, 2),
        |hit AS (
        |  SELECT bench_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |    CAST(max(n_matched) AS BIGINT) AS max_matched
        |  FROM pairs GROUP BY 1)
        |SELECT b.doc_id AS bench_id,
        |  coalesce(n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
        |  coalesce(max_matched, CAST(0 AS BIGINT)) AS max_matched
        |FROM bench b LEFT JOIN hit ON b.doc_id = hit.bench_id
        |ORDER BY bench_id""".stripMargin,
    "cur_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('ep0|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "cur_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "cur_domain_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 15
        |ORDER BY doc_id""".stripMargin,
    "cur_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tokens
        |  FROM documents)
        |SELECT doc_id, lang, CAST(tokens AS BIGINT) AS tokens,
        |  CAST((sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id) - tokens)
        |    // 512 AS BIGINT) AS bin
        |FROM t ORDER BY doc_id""".stripMargin,
    "cur_pack_spans" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, tokens,
        |    (sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id) - tokens)
        |      // 512 AS bin
        |  FROM t)
        |SELECT doc_id, lang, CAST(tokens AS BIGINT) AS tokens,
        |  CAST(bin AS BIGINT) AS bin,
        |  CAST(sum(tokens) OVER (PARTITION BY lang, bin ORDER BY doc_id)
        |    - tokens AS BIGINT) AS tok_start,
        |  CAST(sum(tokens) OVER (PARTITION BY lang, bin ORDER BY doc_id)
        |    AS BIGINT) AS tok_end
        |FROM b ORDER BY doc_id""".stripMargin,
    "cur_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |ORDER BY doc_id""".stripMargin,
    "cur_group_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin,
    "cur_weighted_sample" ->
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    pow(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) / 4294967296.0,
        |      1.0 / n_chars) AS pri
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY pri DESC, doc_id) AS rk
        |  FROM p) WHERE rk <= 100
        |ORDER BY doc_id""".stripMargin,
    "cur_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE len(trim(lower(text))) > 0),
        |bk AS (SELECT doc_id, substring(md5(t), 1, 2) AS b FROM tok),
        |k AS (SELECT doc_id, b, count(*) AS k FROM bk GROUP BY 1, 2),
        |cb AS (SELECT b, sum(k) AS cr FROM k GROUP BY 1),
        |tb AS (
        |  SELECT b, count(*) AS ct
        |  FROM bk JOIN documents USING (doc_id) WHERE lang = 'en'
        |  GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cr) FROM cb) AS r,
        |               (SELECT coalesce(sum(ct), 0) FROM tb) AS tt),
        |llr AS (
        |  SELECT cb.b,
        |    ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) /
        |       CAST(tt + 256 AS DOUBLE)) -
        |    ln(CAST(cr + 1 AS DOUBLE) / CAST(r + 256 AS DOUBLE)) AS llr
        |  FROM cb LEFT JOIN tb USING (b) CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, sum(k) AS n, round(sum(k * llr), 6) AS w
        |  FROM k JOIN llr USING (b) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_toks,
        |  coalesce(w, 0.0) AS dsir_w
        |FROM documents d LEFT JOIN w USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "cur_dsir_sample" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE len(trim(lower(text))) > 0),
        |bk AS (SELECT doc_id, substring(md5(t), 1, 2) AS b FROM tok),
        |k AS (SELECT doc_id, b, count(*) AS k FROM bk GROUP BY 1, 2),
        |cb AS (SELECT b, sum(k) AS cr FROM k GROUP BY 1),
        |tb AS (
        |  SELECT b, count(*) AS ct
        |  FROM bk JOIN documents USING (doc_id) WHERE lang = 'en'
        |  GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cr) FROM cb) AS r,
        |               (SELECT coalesce(sum(ct), 0) FROM tb) AS tt),
        |llr AS (
        |  SELECT cb.b,
        |    ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) /
        |       CAST(tt + 256 AS DOUBLE)) -
        |    ln(CAST(cr + 1 AS DOUBLE) / CAST(r + 256 AS DOUBLE)) AS llr
        |  FROM cb LEFT JOIN tb USING (b) CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, round(sum(k * llr), 6) AS w
        |  FROM k JOIN llr USING (b) GROUP BY 1),
        |allw AS (
        |  SELECT d.doc_id, coalesce(w, 0.0) AS dsir_w
        |  FROM documents d LEFT JOIN w USING (doc_id))
        |SELECT doc_id, dsir_w FROM (
        |  SELECT doc_id, dsir_w,
        |    row_number() OVER (ORDER BY dsir_w DESC, doc_id) AS rk
        |  FROM allw) WHERE rk <= 100
        |ORDER BY doc_id""".stripMargin,
    "cur_source_report" ->
      """WITH t AS (
        |  SELECT source, text,
        |    CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |b AS (
        |  SELECT source, len(toks) AS n_tokens,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
        |    END AS avg_token_len,
        |    CASE WHEN len(toks) > 0 THEN
        |      CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE) / len(toks)
        |    END AS stopword_ratio,
        |    CASE WHEN len(text) > 0 THEN
        |      CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |        / len(text)
        |    ELSE 0.0 END AS pr
        |  FROM t),
        |q AS (
        |  SELECT source, n_tokens,
        |    round(least(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0
        |         WHEN n_tokens < 10 THEN n_tokens / 10.0
        |         ELSE 100000.0 / n_tokens END, 1.0) * 0.25
        |      + CASE WHEN coalesce(avg_token_len, 0.0) >= 2
        |              AND coalesce(avg_token_len, 0.0) <= 12
        |         THEN 1.0 ELSE 0.25 END * 0.2
        |      + CASE WHEN coalesce(stopword_ratio, 0.0) > 0.01
        |         THEN 1.0 ELSE 0.5 END * 0.15
        |      + (1.0 - least(pr * 4, 1.0)) * 0.4, 6) AS quality
        |  FROM b)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(quality), 6) AS avg_quality,
        |  CAST(sum(CASE WHEN quality >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    "cur_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE lang
        |  WHEN 'de' THEN TRUE
        |  WHEN 'en' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |  WHEN 'fr' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |  WHEN 'es' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
        |  ELSE FALSE END
        |ORDER BY doc_id""".stripMargin,
    "cur_temperature" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |s AS (SELECT lang, n, n / sum(n) OVER () AS p FROM c),
        |w AS (SELECT lang, n, p,
        |    pow(p, 0.3) / sum(pow(p, 0.3)) OVER () AS q FROM s)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs, round(p, 6) AS p,
        |  round(q, 6) AS q,
        |  round((q / p) / max(q / p) OVER (), 6) AS keep_rate
        |FROM w ORDER BY lang""".stripMargin,
    "cur_temp_sample" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |s AS (SELECT lang, n, n / sum(n) OVER () AS p FROM c),
        |w AS (SELECT lang, n, p,
        |    pow(p, 0.3) / sum(pow(p, 0.3)) OVER () AS q FROM s),
        |r AS (
        |  SELECT lang, round((q / p) / max(q / p) OVER (), 6) AS rate FROM w)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE r.rate >= 1.0
        |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |        < printf('%08x', CAST(floor(r.rate * 4294967296) AS BIGINT))
        |ORDER BY d.doc_id""".stripMargin,
    "cur_mix_report" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY lang),
        |s AS (SELECT lang, n, n / sum(n) OVER () AS p FROM c),
        |w AS (SELECT lang, n, p,
        |    pow(p, 0.3) / sum(pow(p, 0.3)) OVER () AS q FROM s),
        |r AS (
        |  SELECT lang, round((q / p) / max(q / p) OVER (), 6) AS rate FROM w),
        |kept AS (
        |  SELECT d.doc_id, d.lang
        |  FROM documents d JOIN r USING (lang)
        |  WHERE r.rate >= 1.0
        |     OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |          < printf('%08x', CAST(floor(r.rate * 4294967296) AS BIGINT))),
        |k AS (SELECT lang, count(*) AS n_kept FROM kept GROUP BY 1),
        |f AS (
        |  SELECT lang, n_kept,
        |    CAST(n_kept AS DOUBLE) / CAST(sum(n_kept) OVER () AS DOUBLE)
        |      AS achieved
        |  FROM k)
        |SELECT f.lang, f.n_kept, round(f.achieved, 6) AS achieved_q,
        |  round(w.q, 6) AS target_q
        |FROM f JOIN w USING (lang) ORDER BY f.lang""".stripMargin,
    "dedup_matrix" ->
      """WITH all_docs AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'mirror' FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT text, 'mirror' FROM documents WHERE doc_id % 21 = 0),
        |g AS (
        |  SELECT md5(text) AS h, source AS s, count(*) AS c
        |  FROM all_docs GROUP BY 1, 2),
        |m AS (
        |  SELECT a.s AS source_a, b.s AS source_b,
        |    CAST(sum(CASE WHEN a.s = b.s THEN a.c * (a.c - 1) / 2
        |                  ELSE a.c * b.c END) AS BIGINT) AS dup_pairs
        |  FROM g a JOIN g b ON a.h = b.h AND a.s <= b.s
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, dup_pairs FROM m
        |WHERE dup_pairs > 0 ORDER BY source_a, source_b""".stripMargin,
    "text_pii" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |           THEN text || ' contact bob@example.com from 10.0.0.1'
        |         WHEN doc_id % 4 = 1
        |           THEN text || ' see https://mirror.example.net/path?who=eve@x.org'
        |         WHEN doc_id % 4 = 3
        |           THEN text || ' at http://10.0.0.7/idx and carol@y.io'
        |         ELSE text END AS text
        |  FROM documents),
        |step AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, 'https?://\S+', '<URL>', 'g') AS no_url
        |  FROM src)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(no_url,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(no_url,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(
        |    regexp_replace(no_url,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM step ORDER BY doc_id""".stripMargin,
    "cur_decontam_keep" ->
      """WITH bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |planted AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:12], ' ') AS text
        |  FROM bench),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL SELECT doc_id, text FROM planted),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |btok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM bench),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM ctok, UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bg AS (
        |  SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS g FROM btok,
        |    UNNEST(range(1, len(t) - 3)) AS r(i)),
        |bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 1 ELSE 0 END AS width,
        |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 48 + 1 ELSE 0 END AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE doc_id % 100 + 1 END AS n_frames,
        |  CASE WHEN doc_id % 2 = 0 THEN 0
        |       ELSE 8000 + (doc_id % 8) * 1000 END AS sample_rate_hz
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_pixels" ->
      """SELECT doc_id, doc_id % 32 + 1 AS width, doc_id % 24 + 1 AS height,
        |  doc_id % 256 AS mean_r, (doc_id * 7) % 256 AS mean_g,
        |  (doc_id * 13) % 256 AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars % 1920 + 1 AS w, n_chars % 1080 + 1 AS h
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, w, h, least(256.0 / w, 256.0 / h, 1.0) AS s FROM d)
        |SELECT doc_id, w, h,
        |  CAST(greatest(floor(w * s), 1) AS BIGINT) AS out_w,
        |  CAST(greatest(floor(h * s), 1) AS BIGINT) AS out_h
        |FROM p ORDER BY doc_id""".stripMargin,
    "mm_features" -> MmFeaturesOracle)
}
