package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Automated rolling QC detectors (SURVEY §7.5): the machine complement
  * to the manual M1-M8 flagging — rule-based detectors that flag
  * suspect points as ManualFlag (-2) through the same guarded
  * [[QcActions.setFlag]] path, so the flag algebra's invariants hold
  * (OrigNA immune, domain closed).
  *
  * Scale note: rolling frames need an ordering. A global
  * `Window.orderBy` is a single-partition scale-killer, so every
  * detector takes a `bucket` column (e.g. a day derived from the time
  * column): frames are computed within (bucket) partitions ordered by
  * time. The first/last `frame` rows of each bucket see a truncated
  * frame — the standard, documented trade-off; size buckets ≫ frame.
  */
object QcAuto {

  import FlagSchema._

  /** Rolling z-score over ±`halfWindow` rows (current row excluded from
    * neither mean nor std — symmetric frame). Null where the frame has
    * no variance or the value is missing. */
  def zScore(
      df: DataFrame, v: String, orderCols: Seq[String], bucket: Column,
      halfWindow: Int = 12): Column = {
    val w = Window.partitionBy(bucket)
      .orderBy(orderCols.map(qcol): _*)
      .rowsBetween(-halfWindow, halfWindow)
    val mu = avg(qcol(v)).over(w)
    val sd = stddev_samp(qcol(v)).over(w)
    when(sd > 0, (qcol(v) - mu) / sd)
  }

  /** Spike detector: |rolling z| > `z` ⇒ ManualFlag (guarded: never
    * touches OrigNA). */
  def flagSpikes(
      df: DataFrame, v: String, orderCols: Seq[String], bucket: Column,
      halfWindow: Int = 12, z: Double = 4.0,
      suffix: String = AutoSuffix): DataFrame = {
    val marked = df.withColumn("__z", zScore(df, v, orderCols, bucket, halfWindow))
    QcActions.flagSelected(marked, v, abs(col("__z")) > z, suffix).drop("__z")
  }

  /** Robust (MAD) outlier detector: flag values whose modified
    * z-score `0.6745·|v − median| / MAD` exceeds `z` within their
    * `bucket` (Iglewicz–Hoban 3.5 convention by default). Median and
    * MAD come from EXACT linear-interpolation percentiles —
    * deterministic and DuckDB-replayable (`quantile_cont`), unlike
    * mean/std this survives the very outliers it hunts. Groups with
    * MAD = 0 flag nothing (degenerate distribution, not evidence).
    *
    * The scores are two window aggregates over `partitionBy(bucket)`:
    * the median, then the median of the residuals from it. Each
    * bucket's values are buffered in one task, as they already are
    * for the rolling detectors' frames and for a grouped percentile's
    * final merge. `percentile` sorts what it buffered, so the scores do
    * not depend on row order; and since every rolling detector
    * partitions by the same bucket, a detector chain plans one
    * exchange. A null bucket scores nothing: its rows stay present
    * and unflagged (a detector never deletes rows). */
  def flagMadOutliers(
      df: DataFrame, v: String, bucket: Column,
      z: Double = 3.5, suffix: String = AutoSuffix): DataFrame = {
    val w = Window.partitionBy(bucket)
    def median(c: Column) = when(bucket.isNotNull, percentile(c, lit(0.5)).over(w))
    val scored = df.withColumn("__med", median(qcol(v)))
      .withColumn("__mad", median(abs(qcol(v) - col("__med"))))
      .withColumn("__mz",
        when(col("__mad") > 0,
          lit(0.6745) * abs(qcol(v) - col("__med")) / col("__mad")))
    QcActions.flagSelected(scored, v, col("__mz") > z, suffix)
      .drop("__med", "__mad", "__mz")
  }

  /** Diurnal-profile residual detector: the expected value of a row is
    * its (bucket, hour-of-day) group mean, and a row flags when its
    * residual exceeds `z` residual standard deviations of its bucket.
    * The classic seasonal baseline for metrics with a daily rhythm —
    * plain spike/level detectors fire on every rush hour; this learns
    * the rhythm first and scores only the surprise left over.
    *
    * Scale shape: the profile is a (buckets × 24)-row broadcast table
    * from one map-side-combined aggregate; the residual spread is a
    * second bucket-keyed aggregate; scoring is a broadcast-join
    * projection. Null buckets/hours match no profile and stay
    * unflagged (LEFT joins — a detector never deletes rows). It stays
    * a join, unlike [[flagMadOutliers]]: its `avg` and `stddev_samp`
    * are doubles summed in row order, so a window form would not give
    * bit-identical scores. */
  def flagSeasonalResiduals(
      df: DataFrame, v: String, t: String, bucket: Column,
      z: Double = 3.0, suffix: String = AutoSuffix): DataFrame = {
    val keyed = df.withColumn("__b", bucket)
      .withColumn("__h", hour(col(t)))
    val prof = keyed.groupBy(col("__b"), col("__h"))
      .agg(avg(qcol(v)).as("__mu"))
    val withMu = keyed.join(broadcast(prof), Seq("__b", "__h"), "left")
    val sd = withMu.groupBy(col("__b"))
      .agg(stddev_samp(qcol(v) - col("__mu")).as("__sd"))
    val scored = withMu.join(broadcast(sd), Seq("__b"), "left")
      .withColumn("__z",
        when(col("__sd") > 0, abs(qcol(v) - col("__mu")) / col("__sd")))
    QcActions.flagSelected(scored, v, col("__z") > z, suffix)
      .drop("__b", "__h", "__mu", "__sd", "__z")
  }

  /** Flatline detector: `minRun`+ consecutive identical non-missing
    * values ⇒ ManualFlag for every row of the run. Run ids via the
    * change-counter idiom (sum of value-changed markers over the
    * ordering), run lengths via a count over the run id. */
  def flagFlatlines(
      df: DataFrame, v: String, orderCols: Seq[String], bucket: Column,
      minRun: Int = 4, suffix: String = AutoSuffix): DataFrame = {
    val ord = Window.partitionBy(bucket).orderBy(orderCols.map(qcol): _*)
    // a missing value starts its own (unflaggable) run — it neither
    // extends nor bridges a run of identical non-missing values, so
    // runlen counts exactly the consecutive identical observations
    val prev = lag(qcol(v), 1).over(ord)
    val changed = when(
      qcol(v).isNull || prev.isNull || qcol(v) =!= prev, 1).otherwise(0)
    val marked = df
      .withColumn("__run", sum(changed).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__runlen",
        count(lit(1)).over(Window.partitionBy(bucket, col("__run"))))
    QcActions.flagSelected(marked, v,
      col("__runlen") >= minRun && !QcFlags.isMissing(df, v), suffix)
      .drop("__run", "__runlen")
  }

  /** Range detector: value outside [lo, hi] ⇒ ManualFlag. Narrow,
    * shuffle-free. */
  def flagRange(
      df: DataFrame, v: String, lo: Double, hi: Double,
      suffix: String = AutoSuffix): DataFrame =
    QcActions.flagSelected(df, v, qcol(v) < lo || qcol(v) > hi, suffix)

  /** Level-shift signal: leading `halfWindow`-row mean (current row
    * starts the new level) minus trailing `halfWindow`-row mean. Null
    * until both frames hold at least `halfWindow/2` observations, so
    * bucket edges don't fire on a half-empty frame. */
  def stepSignal(
      v: String, orderCols: Seq[String], bucket: Column,
      halfWindow: Int = 12): Column = {
    val ord = Window.partitionBy(bucket).orderBy(orderCols.map(qcol): _*)
    val trail = ord.rowsBetween(-halfWindow, -1)
    val lead = ord.rowsBetween(Window.currentRow, halfWindow - 1)
    val minObs = math.max(1, halfWindow / 2)
    when(count(qcol(v)).over(lead) >= minObs &&
      count(qcol(v)).over(trail) >= minObs,
      avg(qcol(v)).over(lead) - avg(qcol(v)).over(trail))
  }

  /** Step-change detector: |level shift| > `minShift` ⇒ ManualFlag at
    * the boundary rows (guarded like every detector). */
  def flagSteps(
      df: DataFrame, v: String, orderCols: Seq[String], bucket: Column,
      halfWindow: Int = 12, minShift: Double = 30.0,
      suffix: String = AutoSuffix): DataFrame = {
    val marked = df.withColumn("__step",
      stepSignal(v, orderCols, bucket, halfWindow))
    QcActions.flagSelected(marked, v, abs(col("__step")) > minShift, suffix)
      .drop("__step")
  }
}
