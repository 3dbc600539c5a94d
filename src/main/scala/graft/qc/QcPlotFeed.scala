package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P7-P12 + U1: the data-derivation operators embedded in the
  * reference's plotting/app layer (R/qc_window_app.R:251-326,
  * R/qc_plots.R:45-56, R/ts_viewer.R:264-314). The pixels are out of
  * scope; these produce exactly the row sets each trace/panel renders.
  * All are narrow filters/projections — shuffle-free.
  */
object QcPlotFeed {

  import FlagSchema._

  /** P7: hide-flagged base filter (`hide_bad`,
    * R/qc_window_app.R:255): keep rows whose flag is not bad. */
  def hideBad(df: DataFrame, v: String,
      suffix: String = AutoSuffix): DataFrame =
    df.filter(qcol(flagCol(v, resolveSuffix(df, suffix))) >= 0)

  /** P8: non-missing filter (R/qc_window_app.R:256, 284): drop rows
    * with missing y or missing time before plotting. */
  def nonMissing(df: DataFrame, y: String, t: String): DataFrame =
    df.filter(!QcFlags.isMissing(df, y) && qcol(t).isNotNull)

  /** P9: per-flag-class partition (R/qc_window_app.R:293-295): the rows
    * of one flag class (approved === 1, bad === -2, ...). */
  def flagClass(df: DataFrame, v: String, flagValue: Int,
      suffix: String = AutoSuffix): DataFrame =
    df.filter(qcol(flagCol(v, resolveSuffix(df, suffix))) === flagValue)

  /** P10: secondary-overlay filter (R/qc_window_app.R:304-312): rows
    * where the secondary variable is non-missing AND (if it has a flag
    * column) its own flag >= 0 — independent of hide_bad. */
  def secondaryOverlay(df: DataFrame, v2: String,
      suffix: String = AutoSuffix): DataFrame = {
    val f2 = flagCol(v2, resolveSuffix(df, suffix))
    val flagOk =
      if (df.schema.fieldNames.contains(f2)) qcol(f2) >= 0 else lit(true)
    df.filter(!QcFlags.isMissing(df, v2) && flagOk)
  }

  /** P11: candidate secondary-variable names for the UI selector
    * (R/qc_window_app.R:203-206): every column except the time column,
    * the primary y, flag columns, and engine-internal helpers.
    * Driver-side name arithmetic — no data pass. */
  def secondaryChoices(df: DataFrame, t: String, y: String,
      suffix: String = AutoSuffix): Seq[String] = {
    val sfx = resolveSuffix(df, suffix)
    df.schema.fieldNames.toSeq.filterNot { n =>
      n == t || n == y || n.endsWith(sfx) ||
        n == QcWindows.RowIdCol || n == QcWindows.WinIdCol ||
        n == QcWindows.WinDenseCol || n.startsWith("__")
    }
  }

  /** Display-timezone label rendering (`tz_user`,
    * R/qc_window_app.R:47; window header labels
    * `format(t, "%Y-%m-%d %H:%M")` R/qc_window_app.R:339-340): the
    * engine stores UTC; every interactive surface renders the user's
    * zone. Adds `outCol` = the timestamp shifted into `tzUser` and
    * formatted `yyyy-MM-dd HH:mm`. Named zones are DST-correct (the
    * whole point of doing this with `from_utc_timestamp` rather than a
    * fixed offset); pure projection — shuffle-free, codegen'd. */
  def windowLabels(df: DataFrame, t: String, tzUser: String,
      outCol: String = "t_label"): DataFrame =
    df.withColumn(outCol,
      date_format(from_utc_timestamp(qcol(t), tzUser), "yyyy-MM-dd HH:mm"))

  /** P12: row subset by brushed id set (R/qc_window_app.R:211-213). */
  def byIds(df: DataFrame, ids: Seq[Long],
      idCol: String = QcWindows.RowIdCol): DataFrame =
    df.filter(selScope(ids, idCol))

  /** Brushed-selection scope predicate (small sets → Catalyst InSet; a
    * large selection is a table of point events for [[QcFlagLog.fold]]). */
  def selScope(ids: Seq[Long], idCol: String = QcWindows.RowIdCol): Column =
    qcol(idCol).isin(ids.map(java.lang.Long.valueOf): _*)

  /** Long-format melt of all flagged variables — the batch-plot feed
    * (`qc_save_all_plots_png`'s per-variable panel loop,
    * R/qc_plots.R:131-177, flattened to one relation): one row per
    * (id, variable) with the value and its flag. */
  def meltVars(
      df: DataFrame,
      idCols: Seq[String],
      vars: Seq[String] = Nil,
      suffix: String = AutoSuffix): DataFrame = {
    val sfx = resolveSuffix(df, suffix)
    val vs = if (vars.isEmpty) flaggedVars(df, sfx) else vars
    require(vs.nonEmpty, "meltVars: no flagged variables")
    vs.map { v =>
      df.select(idCols.map(qcol) ++ Seq(
        lit(v).as("variable"),
        qcol(v).cast("double").as("value"),
        qcol(flagCol(v, sfx)).as("flag")): _*)
    }.reduce(_.unionByName(_))
  }

  /** U1: raw ⊎ clean unpivot (R/qc_plots.R:45-56): the check-plot feed —
    * the raw series and the strict-masked clean series (P6, `flag < 1`
    * → null) stacked with a `panel` discriminator. */
  def rawCleanUnion(df: DataFrame, suffix: String = AutoSuffix): DataFrame = {
    val raw = df.withColumn("panel", lit("raw"))
    val clean = QcFlags.cleanForPlot(df, suffix).withColumn("panel", lit("clean"))
    raw.unionByName(clean)
  }

  /** M4 plot downsampling (Jugel et al., VLDB 2014, "M4: A
    * Visualization-Oriented Time Series Data Aggregation"): per
    * time bucket keep exactly the rows carrying the bucket's min/max
    * VALUE and first/last TIME — the four points that make a line
    * render of the bucket pixel-identical to rendering every row. The
    * scale answer to the reference's "scattergl for speed on large
    * data" (README.md:53): a million-row series decimates to ≤ 4·k
    * rows before it ever reaches a browser.
    *
    * Set semantics, no tie-breaking: EVERY row matching one of the
    * four extremes survives (ties are rare on real measurements and
    * harmless to the drawing). Null-valued rows are dropped up front —
    * they can't be drawn and must not claim a bucket's first/last
    * time slot; mask first (P5/P6) if nulls should gap the line.
    * Buckets are absolute epoch-aligned (`floor(epoch_ms / width)`),
    * so the output is independent of the frame being viewed.
    *
    * ONE keyed shuffle: the four extremes come from a single window
    * over (keys, bucket) and the filter is a narrow projection on top
    * — the same exchange profile as a grouped aggregate, with no
    * join back. */
  def m4Downsample(
      df: DataFrame,
      t: String,
      v: String,
      widthSecs: Long,
      keys: Seq[String] = Nil): DataFrame = {
    require(widthSecs > 0, "m4Downsample: widthSecs must be > 0")
    import org.apache.spark.sql.expressions.Window
    val tms = floor(unix_micros(qcol(t)) / lit(1000.0)).cast("long")
    val w = Window.partitionBy(
      (keys.map(qcol) :+ col("__bucket")): _*)
    df.filter(qcol(v).isNotNull)
      .withColumn("__tms", tms)
      .withColumn("__bucket",
        floor(col("__tms") / lit(widthSecs * 1000.0)).cast("long"))
      .withColumn("__vmin", min(qcol(v)).over(w))
      .withColumn("__vmax", max(qcol(v)).over(w))
      .withColumn("__tmin", min(col("__tms")).over(w))
      .withColumn("__tmax", max(col("__tms")).over(w))
      .filter(
        qcol(v) === col("__vmin") || qcol(v) === col("__vmax") ||
        col("__tms") === col("__tmin") || col("__tms") === col("__tmax"))
      .drop("__bucket", "__tms", "__vmin", "__vmax", "__tmin", "__tmax")
  }
}
