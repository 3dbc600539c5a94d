package graft.qc

import graft.{Bench, SparkSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import java.sql.Timestamp

class QcAutoSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import FlagSchema._

  private def series(vals: Seq[Double]) = {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    vals.zipWithIndex
      .map { case (v, i) => (i.toLong, new Timestamp(t0 + i * 60000L), v) }
      .toDF("id", "t", "v")
  }

  test("flagSpikes: a lone outlier is flagged, steady neighbours are not") {
    val vals = Seq.fill(20)(10.0).updated(10, 500.0) ++
      Seq.tabulate(20)(i => 10.0 + 0.1 * i)
    val flagged = QcFlags.addFlags(series(vals), Seq("v"))
    val out = QcAuto.flagSpikes(flagged, "v", Seq("t", "id"),
        bucket = lit(0), halfWindow = 5, z = 3.0)
      .filter(col("v_qcflag") === ManualFlag).select("id").as[Long].collect()
    assert(out.toSeq == Seq(10L), s"only the planted spike, got ${out.toSeq}")
  }

  test("flagFlatlines: runs >= minRun flagged, shorter runs untouched, OrigNA immune") {
    val vals = Seq(1.0, 2.0, 7.0, 7.0, 7.0, 7.0, 3.0, 5.0, 5.0, 4.0)
    val withNa = series(vals)
      .withColumn("v", when(col("id") === 8, lit(null)).otherwise(col("v")))
    val flagged = QcFlags.addFlags(withNa, Seq("v"))
    val out = QcAuto.flagFlatlines(flagged, "v", Seq("t", "id"),
        bucket = lit(0), minRun = 4)
      .select("id", "v_qcflag").as[(Long, Int)].collect().sortBy(_._1)
    assert(out.filter(_._2 == ManualFlag).map(_._1).toSeq == Seq(2L, 3L, 4L, 5L),
      "exactly the 4-run of 7.0s")
    assert(out(8)._2 == OrigNA, "missing row keeps OrigNA")
  }

  test("flagFlatlines: a missing value neither extends nor bridges a run") {
    val vals = Seq(7.0, 7.0, -1.0, 8.0) // -1 placeholder, nulled below
    val withNa = series(vals)
      .withColumn("v", when(col("id") === 2, lit(null)).otherwise(col("v")))
    val flagged = QcFlags.addFlags(withNa, Seq("v"))
    val out = QcAuto.flagFlatlines(flagged, "v", Seq("t", "id"),
        bucket = lit(0), minRun = 3)
      .filter(col("v_qcflag") === ManualFlag).count()
    assert(out == 0, "only 2 consecutive identical non-missing values — not a 3-run")
  }

  test("flagMadOutliers: robust to the outlier itself; MAD=0 groups flag nothing") {
    // 20 values near 10 plus one gross outlier: mean/std would be
    // dragged, the median/MAD is not
    val vals = (0 until 20).map(i => 10.0 + (i % 5) * 0.1) :+ 1000.0
    val df = QcFlags.addFlags(series(vals), Seq("v"))
    val out = QcAuto.flagMadOutliers(df, "v", lit(0))
    val flagged = out.filter(col("v_qcflag") === ManualFlag)
      .select("id").as[Long].collect().toSeq
    assert(flagged == Seq(20L), s"only the outlier: $flagged")

    // constant series → MAD 0 → nothing flagged, no division blow-up
    val const = QcFlags.addFlags(series(Seq.fill(10)(7.0) :+ 7.0), Seq("v"))
    assert(QcAuto.flagMadOutliers(const, "v", lit(0))
      .filter(col("v_qcflag") === ManualFlag).count() == 0)

    // null bucket: rows survive unflagged, never dropped
    val withNullBucket = QcFlags.addFlags(series(vals), Seq("v"))
      .withColumn("site", when(col("id") === 5L, lit(null)).otherwise(lit(0)))
    val out2 = QcAuto.flagMadOutliers(withNullBucket, "v", col("site"))
    assert(out2.count() == vals.length, "a detector never deletes rows")
    assert(out2.filter(col("id") === 5L)
      .select("v_qcflag").as[Int].head() == Unchecked)
  }

  /** The grouped form `flagMadOutliers` had before it scored with
    * window aggregates: median and MAD from two bucket-keyed
    * aggregates, each broadcast and LEFT-joined back. */
  private def groupedMad(
      df: DataFrame, v: String, bucket: Column,
      z: Double = 3.5, suffix: String = AutoSuffix): DataFrame = {
    // LEFT joins: a null bucket matches no group and must leave the
    // row present-but-unflagged (a detector never deletes rows)
    val med = df.groupBy(bucket.as("__b"))
      .agg(expr(s"percentile(`$v`, 0.5)").as("__med"))
    val withMed = df.withColumn("__b", bucket)
      .join(broadcast(med), Seq("__b"), "left")
    val mad = withMed
      .withColumn("__res", abs(qcol(v) - col("__med")))
      .groupBy(col("__b"))
      .agg(expr("percentile(__res, 0.5)").as("__mad"))
    val scored = withMed.join(broadcast(mad), Seq("__b"), "left")
      .withColumn("__mz",
        when(col("__mad") > 0,
          lit(0.6745) * abs(qcol(v) - col("__med")) / col("__mad")))
    QcActions.flagSelected(scored, v, col("__mz") > z, suffix)
      .drop("__b", "__med", "__mad", "__mz")
  }

  /** A table with every shape the MAD scores must agree on: random
    * rows in buckets 0-3 with tied values, nulls and null buckets, a
    * gross outlier among spread values in bucket 0, a constant bucket
    * 5 (MAD = 0) and a one-row bucket 6. */
  private val madTable: Gen[Seq[(Option[Int], Option[Double])]] = {
    val value = Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.choose(0, 24).map(i => Some(i * 0.5)),
      2 -> Gen.choose(-50.0, 50.0).map(Some(_)))
    val bucket = Gen.frequency(1 -> Gen.const(None), 8 -> Gen.choose(0, 3).map(Some(_)))
    for {
      n <- Gen.choose(10, 300)
      rows <- Gen.listOfN(n, Gen.zip(bucket, value))
      const <- Gen.choose(2, 6)
    } yield rows ++ Seq(1.0, 2.0, 4.0, 1e6).map(v => Some(0) -> Some(v)) ++
      Seq.fill(const)(Some(5) -> Some(7.0)) :+ (Some(6) -> Some(3.0))
  }

  test("flagMadOutliers equals the grouped broadcast-join form, row for row " +
      "(codegen and interpreted)") {
    val prop = Prop.forAllNoShrink(madTable) { rows =>
      val bad = inCodegenModes {
        val df = QcFlags.addFlags(rows.zipWithIndex
          .map { case ((b, v), i) => (i.toLong, b, v) }.toDF("id", "site", "v"), Seq("v"))
        Seq("site" -> col("site"), "lit(0)" -> lit(0)).flatMap { case (name, bucket) =>
          val got = QcAuto.flagMadOutliers(df, "v", bucket)
          val want = groupedMad(df, "v", bucket)
          val extra = got.exceptAll(want).count()
          val missing = want.exceptAll(got).count()
          val flagged = got.filter(col("v_qcflag") === ManualFlag).count()
          Seq(
            Option.when(got.columns.toSeq != want.columns.toSeq)(
              s"bucket $name: columns ${got.columns.toSeq} vs ${want.columns.toSeq}"),
            Option.when(extra + missing > 0)(
              s"bucket $name: $extra rows only in the window form, $missing only in the grouped"),
            Option.when(flagged == 0)(s"bucket $name: the outlier is not flagged")
          ).flatten
        }
      }.flatMap { case (mode, m) => m.map(s"$mode: " + _) }
      Prop(bad.isEmpty) :| bad.mkString("\n")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withInitialSeed(Seed(20261020L)).withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("the five-detector chain over a sensor bucket plans one shuffle and " +
      "no broadcast; a full-plan count of it runs at most 2 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("qc-chain").toString
    try {
      val n = 8 * 1440L
      spark.range(0, n, 1, 4).select(
          concat(lit("S"), (col("id") / 1440).cast("string")).as("sensor"),
          timestamp_seconds(lit(1700000000L) + col("id") % 1440 * 60).as("ts"),
          (sin(col("id") / 100.0) * 10 + 20).as("temp"))
        .write.parquet(s"$dir/sensors")
      val raw = spark.read.parquet(s"$dir/sensors")
      assert(raw.inputFiles.length == 4, raw.inputFiles.toSeq)
      val bucket = col("sensor")
      val order = Seq("ts")
      val init = QcAuto.flagRange(QcFlags.addFlags(raw, Seq("temp")), "temp", -50.0, 150.0)
      val chain = QcAuto.flagSteps(
        QcAuto.flagMadOutliers(
          QcAuto.flagFlatlines(QcAuto.flagSpikes(init, "temp", order, bucket),
            "temp", order, bucket),
          "temp", bucket),
        "temp", order, bucket, minShift = 30.0)
      // the bench's timing action: `Dataset.count` would prune every
      // detector column, and with it every window and join
      val run = Bench.time(1)(Bench.exec(chain))
      assert(run.result.contains(n), run)
      val plan = chain.queryExecution.executedPlan
      val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
      val broadcasts = collect(plan) { case e: BroadcastExchangeExec => e }
      assert(shuffles.size == 1 && broadcasts.isEmpty,
        s"${shuffles.size} shuffles, ${broadcasts.size} broadcasts:\n$plan")
      assert(run.counters.jobs <= 2, s"a count of the chain ran ${run.counters.jobs} jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("flagRange flags outside [lo, hi] only") {
    val flagged = QcFlags.addFlags(series(Seq(5.0, 50.0, 500.0)), Seq("v"))
    val out = QcAuto.flagRange(flagged, "v", 10.0, 100.0)
      .select("id", "v_qcflag").as[(Long, Int)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(ManualFlag, Unchecked, ManualFlag))
  }

  test("flagSteps: level shift flagged at the boundary, guards hold") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 40 points: flat 10.0 then flat 60.0 from index 20 — one clean step
    val rows = (0 until 40).map(i =>
      (i.toLong, new java.sql.Timestamp(t0 + i * 60000L),
        if (i < 20) 10.0 else 60.0))
    val df = QcFlags.addFlags(rows.toDF("id", "ts", "v"), Seq("v"))
    val out = QcAuto.flagSteps(df, "v", Seq("ts", "id"),
        bucket = org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts")),
        halfWindow = 6, minShift = 30.0)
      .filter(org.apache.spark.sql.functions.col("v_qcflag") === FlagSchema.ManualFlag)
      .select("id").as[Long].collect().sorted
    assert(out.nonEmpty, "the planted step must be detected")
    assert(out.forall(i => i >= 14 && i <= 25),
      s"only boundary rows flagged, got ${out.toSeq}")
    assert(out.contains(20L), "the first row of the new level is flagged")
  }

  test("flagSeasonalResiduals: learns the rhythm, flags only the surprise") {
    import java.sql.Timestamp
    // two alternating hourly levels (10 vs 100) — a global z-score
    // would treat every hour-1 row as a shift; the diurnal profile
    // absorbs the rhythm, so only the +500 plant at id 13 flags
    val rows = (0 until 48).map { i =>
      val hr = i % 2
      val base = if (hr == 0) 10.0 else 100.0
      val v = base + (i % 5) * 0.5 + (if (i == 13) 500.0 else 0.0)
      (i.toLong, Timestamp.valueOf(f"2024-01-01 0$hr%d:15:00"), v)
    }.toDF("id", "t", "v")
    val flagged = QcFlags.addFlags(rows, Seq("v"))
    val out = QcAuto.flagSeasonalResiduals(flagged, "v", "t", lit(0))
      .filter(col("v_qcflag") === ManualFlag)
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(13L), s"got $out")
    // a detector never deletes rows
    assert(QcAuto.flagSeasonalResiduals(flagged, "v", "t", lit(0))
      .count() == 48)
  }
}
