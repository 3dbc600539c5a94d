package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.qc.{FlagSchema, QcFlags, QcProgress, QcSession}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's own workload: one analyst stepping through a sensor
  * series one daily window at a time (open, look at the window, brush
  * the spikes, flag-and-next, save after 25 steps, check progress).
  * Every action is a tiny Spark job, so this measures driver planning,
  * scheduling, plan depth and cache reuse, with the periodic saves as
  * its write side. */
object QcReview extends Workload {
  val name = "qc_review"

  val RowsPerDay = 1440
  val Days = 40
  val StepsPerPass = 30
  val SaveEvery = 25
  val SpikeSize = 25.0

  final case class Input(path: String, rows: Long, spikes: Array[Long],
      nulls: Array[Long], fp: String)
  type In = Input

  def rows(in: In): Long = in.rows
  def fingerprint(in: In): String = in.fp

  private def signal(i: org.apache.spark.sql.Column) =
    lit(10.0) * sin(i.cast("double") * (2 * math.Pi / RowsPerDay))

  def generate(spark: SparkSession, seed: Long, dir: String): In = {
    val n = Days.toLong * RowsPerDay
    val rnd = new SplittableRandom(seed)
    val nulls = Gen.distinct(rnd, n, (n / 1000).toInt, Set.empty)
    val spikes = Gen.distinct(rnd, n, 2 * Days, nulls.toSet)
    val id = col("id")
    val value = when(Gen.isin(id, nulls), lit(null).cast("double"))
      .otherwise(signal(id) + Gen.noise(seed, 1, id) * 0.5 +
        when(Gen.isin(id, spikes), SpikeSize).otherwise(0.0))
    val path = s"$dir/series.parquet"
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .select(id.as("sample_id"), timestamp_seconds(lit(Gen.T0) + id * 60).as("ts"),
        value.as("value"))
      .coalesce(1).write.parquet(path)
    val back = spark.read.parquet(path)
    val r = back.agg(count(lit(1)), count_if(col("value").isNull),
      count_if(abs(col("value") - signal(col("sample_id"))) > SpikeSize / 2)).head()
    require(r.getLong(0) == n && r.getLong(1) == nulls.length && r.getLong(2) == spikes.length,
      s"qc_review input: planted counts differ: $r vs ($n, ${nulls.length}, ${spikes.length})")
    Input(path, n, spikes, nulls, Workload.fingerprint(back))
  }

  def pass(spark: SparkSession, in: In, out: String, sp: Spans, check: Boolean): PassResult =
    script(spark, in, out, sp, check, StepsPerPass, SaveEvery)

  /** Every action of the script, at a fifth of the steps: the JIT warms
    * on each call path without a full pass's cost in set-up. */
  override def warmUp(spark: SparkSession, in: In, out: String): PassResult =
    script(spark, in, out, Fused, check = false, StepsPerPass / 5, SaveEvery / 5)

  private def script(spark: SparkSession, in: In, out: String, sp: Spans, check: Boolean,
      steps: Int, saveEvery: Int): PassResult = {
    val raw = spark.read.parquet(in.path)
    val spikes = in.spikes.toSet
    def brush(rows: Array[Row]): Seq[Long] = rows.toSeq
      .filter(r => spikes(r.getAs[Long]("sample_id")))
      .map(_.getAs[Long](graft.qc.QcWindows.RowIdCol))

    val t0 = System.nanoTime()
    var (s, rows) = sp("qc.open") {
      val opened = QcSession.open(QcFlags.addFlags(raw, Seq("value")), "value", "ts",
        winHrs = 24, tiebreakers = Seq("sample_id"))
      (opened, opened.render().collect())
    }
    val openS = Workload.nowS(t0)
    sp.retained("qc.open")
    val stepMs = mutable.ArrayBuffer.empty[Double]
    val saveS = mutable.ArrayBuffer.empty[Double]
    var lastSave = ""
    var savedAt = 0
    for (k <- 1 to steps) {
      val ts = System.nanoTime()
      val sel = brush(rows)
      s = sp("qc.flag_and_next")(s.flagAndNext(sel))
      rows = sp("qc.render")(s.render().collect())
      stepMs += (System.nanoTime() - ts) / 1e6
      if (k % saveEvery == 0) {
        val tv = System.nanoTime()
        lastSave = s"$out/save_$k.parquet"
        savedAt = k
        s = sp("qc.save") {
          val c = s.compact()
          QcSession.checkpoint(c, lastSave)
          c
        }
        saveS += Workload.nowS(tv)
        sp.retained("qc.save")
      }
    }
    val progress = sp("qc.progress")(QcProgress.summary(s.df).collect())
    val result = s.done()
    val wallS = Workload.nowS(t0)
    val retainedMb = Blocks.mb(Blocks.bytes())

    val errors = mutable.ArrayBuffer.empty[String]
    val reviewed = steps.toLong * RowsPerDay
    if (check) {
      Workload.check(errors, s.cursor == steps, s"qc_review: cursor ${s.cursor}, expected $steps")
      Workload.check(errors, rows.length == RowsPerDay,
        s"qc_review: last window has ${rows.length} rows, expected $RowsPerDay")
      val nRows = in.rows
      checkFlags(errors, "final table", result, in, reviewed, nRows)
      if (lastSave.nonEmpty) {
        val saved = spark.read.parquet(lastSave)
        checkFlags(errors, s"checkpoint $lastSave", saved, in, savedAt.toLong * RowsPerDay, nRows)
      }
      checkProgress(errors, progress, in, reviewed, nRows)
    }
    PassResult(wallS, retainedMb,
      Map("qc_open_s" -> Seq(openS), "qc_step_ms" -> stepMs.toSeq, "qc_save_s" -> saveS.toSeq),
      errors.toSeq)
  }

  /** The flags implied by the script: reviewed windows are approved
    * except the brushed spikes (-2), missing values stay -1 and rows of
    * unreviewed windows stay 0. */
  private def expectedFlag(in: In, reviewed: Long) =
    when(col("value").isNull, lit(FlagSchema.OrigNA))
      .when(col("sample_id") < reviewed,
        when(Gen.isin(col("sample_id"), in.spikes), lit(FlagSchema.ManualFlag))
          .otherwise(lit(FlagSchema.Approved)))
      .otherwise(lit(FlagSchema.Unchecked))

  private def checkFlags(errors: mutable.Buffer[String], what: String, df: DataFrame,
      in: In, reviewed: Long, nRows: Long): Unit = {
    val f = FlagSchema.qcol(FlagSchema.flagCols(df).head)
    val r = df.agg(count(lit(1)),
      count_if(f.isNull || f =!= expectedFlag(in, reviewed))).head()
    Workload.check(errors, r.getLong(0) == nRows,
      s"qc_review $what: ${r.getLong(0)} rows, expected $nRows")
    Workload.check(errors, r.getLong(1) == 0L,
      s"qc_review $what: ${r.getLong(1)} rows carry a flag the script does not imply")
  }

  private def checkProgress(errors: mutable.Buffer[String], progress: Array[Row],
      in: In, reviewed: Long, nRows: Long): Unit = {
    def below(xs: Array[Long], lim: Long) = xs.count(_ < lim).toLong
    val nulls = below(in.nulls, nRows)
    val flagged = below(in.spikes, math.min(reviewed, nRows))
    val approved = math.min(reviewed, nRows) - below(in.nulls, reviewed) - flagged
    def pct(k: Long) = 100.0 * k / nRows
    progress.find(_.getAs[String]("variable") == "value") match {
      case None => errors += "qc_review progress: no row for value"
      case Some(r) =>
        Workload.check(errors, r.getAs[Long]("total") == nRows - nulls,
          s"qc_review progress: total ${r.getAs[Long]("total")}, expected ${nRows - nulls}")
        for ((c, k) <- Seq("pct_flagged" -> flagged, "pct_approved" -> approved,
            "pct_missing" -> nulls))
          Workload.check(errors, math.abs(r.getAs[Double](c) - pct(k)) <= 0.005 + 1e-9,
            s"qc_review progress: $c ${r.getAs[Double](c)}, expected ${pct(k)}")
    }
  }

  override def report(passes: Seq[PassResult]): Seq[String] = Seq(
    Report.timing("qc_open_s", "s", passes.flatMap(_.samples("qc_open_s"))),
    Report.timing("qc_step_ms", "ms", passes.flatMap(_.samples("qc_step_ms"))),
    Report.timing("qc_save_s", "s", passes.flatMap(_.samples("qc_save_s"))))
}
