package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.functions.{BucketIndexExpr, bucketIndex}

/** Tumbling-window partitioning + window catalog — the Spark equivalent
  * of qctimeseries `make_windows` (R/qc_window_app.R:64-79,
  * R/ts_viewer.R:59-69).
  *
  * Scale design (100 TB): the per-row operators (`withRowId`,
  * `withWinId`) are narrow or bucket-partitioned — no single-partition
  * global `Window.orderBy` over data. The window CATALOG (one row per kept window,
  * A6/W3/A7) is tiny relative to the data (hours-wide buckets over
  * years of data → thousands of rows), so the dense renumbering runs on
  * the catalog and is joined back with a broadcast hash join — the main
  * table is never globally sorted for navigation.
  */
object QcWindows {

  import FlagSchema._

  /** Synthetic column names (stripped before returning to users,
    * R/qc_window_app.R:443-445). */
  val RowIdCol = ".rowid"
  val WinIdCol = "win_id"
  val WinDenseCol = "win_dense"

  /** A5: global min time — the tumbling-window origin
    * (R/qc_window_app.R:68). Eager (one tiny agg job). */
  def minTime(df: DataFrame, t: String): java.sql.Timestamp =
    df.agg(min(qcol(t))).head.getTimestamp(0)

  /** Lazy variant of A5: attach the global min time as a literal column
    * via a broadcast single-row cross join, keeping the whole pipeline
    * one declarative query (no driver action). */
  private def withMinTime(df: DataFrame, t: String, as: String): DataFrame =
    df.crossJoin(broadcast(df.select(min(qcol(t)).as(as))))

  /** W1: stable, deterministic 0-based row id in `(orderCols)` order —
    * the engine's replacement for R's insertion-order `.rowid := .I`
    * (R/qc_window_app.R:65). The reference relies on rows arriving
    * time-sorted; Spark has no insertion order, so the sort is explicit
    * and `orderCols` should include a unique tiebreaker (SURVEY §7.6.2).
    *
    * NOT a single-partition `row_number().over(Window.orderBy(...))`:
    * ids come from VALUE-DETERMINISTIC equi-depth buckets on the
    * leading order column — boundary literals computed once on the
    * driver (one percentile_approx aggregate for numeric/timestamp
    * keys; a count-sized hash-residue sample collect for string
    * keys), local rank per bucket via a bucket-keyed window,
    * per-bucket offsets (a tiny count catalog) broadcast back. One
    * data shuffle (the bucket hash exchange); nothing
    * single-partition ever touches the data; the only global window
    * runs over the bucket-count catalog. Same plan at 600k rows or
    * 100 TB.
    *
    * WHY buckets and not `repartitionByRange` +
    * `monotonically_increasing_id` (the r1–r14 design): range
    * partitioning SAMPLES its boundaries with a per-RDD seed, so the
    * offsets branch and the data branch — two physical executions of
    * the same logical exchange whenever exchange reuse does not fire
    * (it stops firing as soon as the two branches prune different
    * columns) — can disagree on partition boundaries, mismatching the
    * counts against the data and corrupting ids (measured in r15:
    * 10,000 rows → 9,779 DISTINCT ids through the partitioned-write
    * path at 16 shuffle partitions; the w1_rowid oracle had passed
    * only because its narrow projection made both branches prune to
    * identical plans that did reuse the exchange). Bucket membership
    * here depends ONLY on row values and literal boundaries —
    * re-executing any branch reproduces identical buckets by
    * construction, so counts always agree with data. RowIdSpec locks
    * the duplicate-id regression; PlanShapeSpec locks the plan shape.
    */
  def withRowId(
      df: DataFrame,
      orderCols: Seq[String],
      idCol: String = RowIdCol): DataFrame = {
    require(orderCols.nonEmpty, "withRowId: need at least one order column")
    val oc = orderCols.map(qcol)
    val nParts = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    // 2× the partition count: enough buckets that hashing buckets onto
    // partitions stays balanced, few enough that the per-row boundary
    // search stays short and the offsets catalog small
    val nBuckets = 2 * nParts
    val lead = oc.head
    // Boundary literals, computed ONCE on the driver (they become plan
    // literals, so every later branch sees identical buckets no matter
    // how often it re-executes). Boundary QUALITY only affects
    // balance, never correctness: the count of boundaries below the
    // key is monotone in the key's sort order for ANY boundary multiset
    // (kept ascending in Spark's order for the search below).
    //
    //  - rangeable leading key (numeric/timestamp — every caller in
    //    this repo except shuffleOrder): ONE percentile_approx
    //    aggregate yields equi-depth boundaries on the double
    //    surrogate; long→double and timestamp→double casts are
    //    monotone, which is all bucketing needs.
    //  - otherwise (string keys): a count pass sizes a hash-residue
    //    rate, then the matching DISTINCT keys (executor-side dedup +
    //    limit: driver-bounded even for hot duplicate keys) are
    //    collected and evenly-spaced order statistics become the
    //    boundaries; a low-cardinality key that defeats the residue
    //    sample falls back to distinct-of-all-keys (cheap exactly in
    //    that regime — map-side partial agg). Unlike df.sample/rand,
    //    the residue predicate re-evaluates to the same rows on any
    //    executor or retry.
    val leadType = df.select(lead.as("__rid_k")).schema.head.dataType
    val rangeable = leadType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }
    val (keyExpr, bounds): (Column, IndexedSeq[Any]) =
      if (rangeable) {
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
        val q = df.select(percentile_approx(lead.cast("double"),
            lit(probs.toArray), lit(10000)).as("__rid_q"))
          .head.getAs[scala.collection.Seq[Double]]("__rid_q")
        (lead.cast("double"),
          BucketIndexExpr.sorted(Option(q).fold(Seq.empty[Any])(_.toSeq), DoubleType).distinct)
      } else {
        val target = nBuckets * 100L
        val n = df.count()
        val k = math.max(1L, n / target)
        // The residue predicate selects key VALUES (all rows of a
        // matching key match), so the collect must dedup on the
        // executors — a hot key would otherwise ship every duplicate
        // row to the driver — and cap via limit as a hard driver-OOM
        // backstop. Boundary QUALITY is all that's at stake: any
        // collected subset yields correct (just less balanced) buckets.
        val cap = (target * 4).toInt
        def keysOf(sampled: DataFrame): Array[Any] = sampled
          .filter(col("__rid_k").isNotNull)
          .distinct().limit(cap).collect().map(_.get(0))
        val hashed = keysOf(df.select(lead.as("__rid_k"))
          .filter(pmod(xxhash64(lead), lit(k)) === 0))
        // Low-cardinality fallback: with few distinct keys the residue
        // sample usually comes back (near-)empty — every key missing
        // residue 0 — which would collapse ALL data into one bucket
        // and hand the bucket window a single-partition sort. Distinct
        // over a low-cardinality key is cheap at any row count
        // (map-side partial agg collapses duplicates before the
        // shuffle), and the limit bounds the rare unlucky-hash case on
        // a high-cardinality key.
        val sampleKeys =
          if (k > 1 && hashed.length < nBuckets)
            keysOf(df.select(lead.as("__rid_k")))
          else hashed
        // Spark's own order (strings compare as UTF-8 bytes, which
        // String.compareTo's UTF-16 units do not match)
        val sorted = BucketIndexExpr.sorted(sampleKeys.toSeq, leadType)
        (lead,
          if (sorted.isEmpty) IndexedSeq.empty
          else (1 until nBuckets)
            .map(j => sorted(((j.toLong * sorted.length) / nBuckets).toInt))
            .distinct)
      }
    // bucket = how many boundaries sit strictly below the key, by binary
    // search over the ascending boundaries in one native expression
    // whose generated code does not grow with the boundary count. A
    // null key falls to bucket 0, matching asc nulls-first sort order.
    val bucketed = df.withColumn("__rid_b", bucketIndex(keyExpr, bounds))
    // per-bucket counts and running offsets: catalog-sized (nBuckets
    // rows) — the single-partition window here is over the catalog,
    // never the data. Counts re-execute the scan, but bucket
    // membership is value-deterministic, so they MUST agree with the
    // data pass.
    val offsets = bucketed.groupBy(col("__rid_b"))
      .agg(count(lit(1)).as("__rid_cnt"))
      .withColumn("__rid_off",
        coalesce(
          sum(col("__rid_cnt")).over(
            Window.orderBy("__rid_b")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__rid_b"), col("__rid_off"))
    val w = Window.partitionBy(col("__rid_b")).orderBy(oc: _*)
    // Long running count, NOT row_number(): row_number is IntegerType
    // and silently wraps past 2^31-1 rows in one bucket — a skewed
    // leading key concentrating >2.1B rows on one value would corrupt
    // ids with no error at the operator's 100 TB contract scale. The
    // running sum is the same incremental one-pass computation over
    // the same sorted frame, just 64-bit.
    bucketed
      .withColumn("__rid_rn", sum(lit(1L)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("__rid_b"))
      .withColumn(idCol, col("__rid_off") + col("__rid_rn") - 1L)
      .drop("__rid_b", "__rid_rn", "__rid_off")
  }

  /** W2: tumbling window id `floor((t − t0) / winHrs·3600)` with the
    * origin at the data's global min time (R/qc_window_app.R:67-71).
    * Sub-second precision is kept (timestamp → fractional epoch seconds),
    * matching R's `difftime(..., units = "secs")` on POSIXct doubles.
    *
    * @param t0 window origin; None = derive lazily from the data (A5)
    */
  def withWinId(
      df: DataFrame,
      t: String,
      winHrs: Double,
      t0: Option[java.sql.Timestamp] = None,
      idCol: String = WinIdCol): DataFrame = {
    require(winHrs > 0, "withWinId: winHrs must be positive")
    val widthSecs = winHrs * 3600.0
    def winId(origin: Column): Column =
      floor((qcol(t).cast("double") - origin.cast("double")) / widthSecs)
        .cast(LongType)
    t0 match {
      case Some(ts) => df.withColumn(idCol, winId(lit(ts)))
      case None =>
        withMinTime(df, t, "__t0")
          .withColumn(idCol, winId(col("__t0"))).drop("__t0")
    }
  }

  /** A6 + W3 + A7 + A9: the window catalog. One row per KEPT window —
    * windows with at least one non-missing `y` and (if `include` is
    * non-empty and a flag column exists) at least one flag in the
    * include-set survive (R/qc_window_app.R:72-76); survivors are
    * densely renumbered 0..n-1 in win_id order (W3), with each window's
    * time range (A7) and row count.
    *
    * Input must already carry `winIdCol` (from [[withWinId]]). The
    * catalog is small (one row per window) — safe to collect/broadcast.
    */
  def windowCatalog(
      df: DataFrame,
      t: String,
      y: String,
      include: Seq[Int] = Nil,
      suffix: String = AutoSuffix,
      winIdCol: String = WinIdCol): DataFrame = {
    val f = flagCol(y, resolveSuffix(df, suffix))
    val hasFlag = df.schema.fieldNames.contains(f)
    val yOk = max(when(!QcFlags.isMissing(df, y), 1).otherwise(0)) === 1
    val flagOk =
      if (include.nonEmpty && hasFlag)
        max(when(qcol(f).isin(include.map(Integer.valueOf): _*), 1).otherwise(0)) === 1
      else lit(true)
    val kept = df.groupBy(qcol(winIdCol).as(winIdCol))
      .agg(
        yOk.as("__y_ok"), flagOk.as("__f_ok"),
        min(qcol(t)).as("t_min"), max(qcol(t)).as("t_max"),
        count(lit(1)).as("n_rows"))
      .filter(col("__y_ok") && col("__f_ok"))
      .drop("__y_ok", "__f_ok")
    // Dense renumber on the SMALL catalog only (single-partition window
    // over ~thousands of rows, not the data).
    kept.withColumn(WinDenseCol,
      (dense_rank().over(Window.orderBy(winIdCol)) - 1).cast(LongType))
      .select(col(winIdCol), col(WinDenseCol), col("t_min"), col("t_max"),
        col("n_rows"))
  }

  /** [[windowCatalog]] evaluated once: its rows collected by one action
    * and returned as a local relation, with the kept-window count. The
    * session navigates on the count without touching Spark, and the
    * local relation keeps the catalog's aggregate out of every plan that
    * broadcasts it. */
  def collectCatalog(
      df: DataFrame,
      t: String,
      y: String,
      include: Seq[Int] = Nil,
      suffix: String = AutoSuffix): (DataFrame, Long) = {
    val cat = windowCatalog(df, t, y, include, suffix)
    // driver-sized: one row per kept window (thousands over years of
    // hours-wide windows), the same bound that lets withDenseId
    // broadcast it
    val rows = cat.collect()
    (df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), cat.schema),
      rows.length.toLong)
  }

  /** W3 applied to the data: broadcast-join the catalog's dense ids back
    * onto the main table (inner join = rows of dropped windows are
    * filtered out, mirroring the reference's navigation which can only
    * reach kept windows). */
  def withDenseId(
      df: DataFrame,
      catalog: DataFrame,
      winIdCol: String = WinIdCol): DataFrame =
    df.join(
      broadcast(catalog.select(winIdCol, WinDenseCol)),
      Seq(winIdCol), "inner")

  /** Navigation slice: the rows of dense window `k`
    * (R/qc_window_app.R:209). With a time-bucketed parquet layout this
    * is partition-pruned to one bucket's files. */
  def slice(df: DataFrame, k: Long, denseCol: String = WinDenseCol): DataFrame =
    df.filter(qcol(denseCol) === k)

  /** A9: number of kept windows (navigation bound,
    * R/qc_window_app.R:339). */
  def windowCount(catalog: DataFrame): Long = catalog.count()

  /** A8: y-range with a fractional pad on each side
    * (R/qc_window_app.R:259-263: `range(y)` ± 2% of the span). Returns
    * a 1-row df (y_min, y_max) so it can feed the oracle harness; use
    * `.head` for the driver-side tuple. */
  def yRangePadded(df: DataFrame, y: String, pad: Double = 0.02): DataFrame =
    df.agg(min(qcol(y)).as("__lo"), max(qcol(y)).as("__hi"))
      .select(
        (col("__lo") - (col("__hi") - col("__lo")) * pad).as("y_min"),
        (col("__hi") + (col("__hi") - col("__lo")) * pad).as("y_max"))

  /** Epoch-number parsing with the reference's ms-vs-s heuristic
    * (qc_window_app.R:349-352, ts_viewer.R:370-375): magnitudes above
    * ~1e11 can't be plausible epoch-seconds, so they're read as
    * milliseconds. */
  def parseEpoch(x: Column): Column =
    when(abs(x) > 1e11, timestamp_millis(x.cast(LongType)))
      .otherwise(timestamp_seconds(x.cast("double")))

  /** W4: the x-axis range of window `wid` — pure arithmetic from the
    * origin and width, no data pass (R/qc_window_app.R:215-226). */
  def windowXRange(
      t0: java.sql.Timestamp,
      winHrs: Double,
      wid: Long,
      pad: Double = 0.02): (java.sql.Timestamp, java.sql.Timestamp) = {
    val w = (winHrs * 3600 * 1000).toLong
    val lo = t0.getTime + wid * w
    val hi = lo + w
    val p = ((hi - lo) * pad).toLong
    (new java.sql.Timestamp(lo - p), new java.sql.Timestamp(hi + p))
  }
}
