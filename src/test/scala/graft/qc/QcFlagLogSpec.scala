package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The event-sourced fold must agree EXACTLY with direct sequential
  * QcActions application — the SURVEY §7.3 equivalence. */
class QcFlagLogSpec extends SparkSpec {
  import spark.implicits._
  import FlagSchema._
  import QcFlagLog._
  import QcActions._

  private def base = {
    val rnd = new scala.util.Random(13)
    (0 until 60).map { i =>
      val v = if (i % 11 == 3) None else Some(rnd.nextDouble() * 200)
      (i.toLong, (i / 15).toLong, v) // 4 windows of 15 rows
    }.toDF(".rowid", "win_id", "v")
      .transform(QcFlags.addFlags(_, Seq("v")))
  }

  test("fold equals direct sequential action application (random scripts)") {
    val rnd = new scala.util.Random(99)
    for (trial <- 0 until 5) {
      var direct = base
      var events = Seq.empty[Event]
      var seq = 0L
      for (_ <- 0 until 8) {
        seq += 1
        rnd.nextInt(5) match {
          case 0 => // M1 flag selected
            val ids = (0 until 60).filter(_ => rnd.nextBoolean()).map(_.toLong)
            direct = QcActions.flagSelected(direct, "v",
              FlagSchema.qcol(".rowid").isin(ids.map(java.lang.Long.valueOf): _*))
            events ++= pointEvents(seq, "v", ids, Flag)
          case 1 => // M2 approve selected
            val ids = (0 until 60).filter(_ => rnd.nextInt(3) == 0).map(_.toLong)
            direct = QcActions.approveSelected(direct, "v",
              FlagSchema.qcol(".rowid").isin(ids.map(java.lang.Long.valueOf): _*))
            events ++= pointEvents(seq, "v", ids, Approve)
          case 2 => // M4 flag window
            val w = rnd.nextInt(4).toLong
            direct = QcActions.flagWindow(direct, "v", col("win_id") === w)
            events :+= windowEvent(seq, "v", w, Flag)
          case 3 => // M5 approve unflagged in window
            val w = rnd.nextInt(4).toLong
            direct = QcActions.approveUnflagged(direct, "v", col("win_id") === w)
            events :+= windowEvent(seq, "v", w, ApproveUnflagged)
          case 4 => // M8 reset all
            direct = QcActions.resetAll(direct, "v")
            events :+= globalEvent(seq, "v", Unflag)
        }
      }
      val folded = QcFlagLog.fold(base, toLog(spark, events))
      val a = direct.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
      val b = folded.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
      assert(a == b, s"trial $trial: direct $a != folded $b")
    }
  }

  test("M7 as two consecutive events: unguarded selection beats approve-rest") {
    val ids = Seq(3L, 4L)
    val direct = QcActions.flagAndApproveRest(base, "v",
      FlagSchema.qcol(".rowid").isin(3L, 4L), col("win_id") === 0L)
    val log = toLog(spark,
      pointEvents(1L, "v", ids, FlagUnguarded) :+
        windowEvent(2L, "v", 0L, ApproveUnflagged))
    val folded = QcFlagLog.fold(base, log)
    import spark.implicits._
    val a = direct.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    val b = folded.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    assert(a == b)
  }

  test("over-limit point-event history folds through a shuffle join, same result") {
    // a replayed year-long interactive history can exceed broadcast
    // limits: past the broadcast gate the rowid join must run
    // UN-hinted (no BroadcastHashJoin on the point-event side) and
    // still produce the identical fold
    val n = 60
    val events =
      (0 until n).map(i => // one approve per row, then a flag on evens
        (i + 1L, "v", ScopePoint, Some(i.toLong), Option.empty[Long],
          FlagSchema.Approved, GuardNotOrigNA)) ++
        (0 until n by 2).map(i =>
          (n + i + 1L, "v", ScopePoint, Some(i.toLong), Option.empty[Long],
            FlagSchema.ManualFlag, GuardNotOrigNA))
    val log = toLog(spark, events)
    def flags(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    val hinted = QcFlagLog.fold(base, log)
    assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the fold under the gate should keep the broadcast hint")
    val hintedResult = flags(hinted)
    // with broadcast joins disabled every scope is past the gate, and
    // any BroadcastHashJoin left could only come from a hint (the
    // planner/AQE may still broadcast from observed sizes in normal
    // operation, which is the desired degrade-don't-OOM behavior; the
    // hazard is an unconditional hint that size stats cannot override)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val fallback = QcFlagLog.fold(base, log)
      val unhinted = fallback.queryExecution.executedPlan.toString
      assert(!unhinted.contains("BroadcastHashJoin"),
        s"a fold past the gate must not hint event-table broadcasts:\n$unhinted")
      assert(flags(fallback) == hintedResult,
        "join strategy must not change the folded flags")
    } finally spark.conf.set(key, prev)
  }

  test("building a fold runs the jobs of one per-(variable, scope) count") {
    val b = base
    val log = toLog(spark,
      pointEvents(1L, "v", Seq(3L, 4L), FlagUnguarded) :+
        windowEvent(2L, "v", 0L, ApproveUnflagged) :+
        globalEvent(3L, "v", Unflag))
    val (_, countJobs) = jobsOf("graft_qc_fold_count_jobcount") {
      log.groupBy(col("variable"), col("scope")).count().collect()
    }
    val (_, foldJobs) = jobsOf("graft_qc_fold_jobcount")(QcFlagLog.fold(b, log))
    assert(countJobs > 0)
    assert(foldJobs == countJobs,
      s"building the fold ran $foldJobs jobs, one count collect runs $countJobs")
  }

  test("empty log is identity; rows without events untouched") {
    val folded = QcFlagLog.fold(base, emptyLog(spark))
    assert(folded.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").collect().toSeq ==
      base.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").collect().toSeq)
  }
}
