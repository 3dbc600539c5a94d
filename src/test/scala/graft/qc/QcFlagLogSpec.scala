package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The event-sourced fold must agree EXACTLY with direct sequential
  * QcActions application — the SURVEY §7.3 equivalence. */
class QcFlagLogSpec extends SparkSpec {
  import spark.implicits._
  import FlagSchema._
  import QcFlagLog._

  private def base = {
    val rnd = new scala.util.Random(13)
    (0 until 60).map { i =>
      val v = if (i % 11 == 3) None else Some(rnd.nextDouble() * 200)
      (i.toLong, (i / 15).toLong, v) // 4 windows of 15 rows
    }.toDF(".rowid", "win_id", "v")
      .transform(QcFlags.addFlags(_, Seq("v")))
  }

  private def toLogDf(evs: Seq[(Long, String, Int, Option[Long], Option[Long], Int, Int)]) =
    evs.toDF("seq", "variable", "scope", "rowid", "win_id", "new_flag", "guard")

  test("fold equals direct sequential action application (random scripts)") {
    val rnd = new scala.util.Random(99)
    for (trial <- 0 until 5) {
      var direct = base
      var events = Seq.empty[(Long, String, Int, Option[Long], Option[Long], Int, Int)]
      var seq = 0L
      for (_ <- 0 until 8) {
        seq += 1
        rnd.nextInt(5) match {
          case 0 => // M1 flag selected
            val ids = (0 until 60).filter(_ => rnd.nextBoolean()).map(_.toLong)
            direct = QcActions.flagSelected(direct, "v",
              FlagSchema.qcol(".rowid").isin(ids.map(java.lang.Long.valueOf): _*))
            events ++= pointEvents(seq, "v", ids, ManualFlag)
          case 1 => // M2 approve selected
            val ids = (0 until 60).filter(_ => rnd.nextInt(3) == 0).map(_.toLong)
            direct = QcActions.approveSelected(direct, "v",
              FlagSchema.qcol(".rowid").isin(ids.map(java.lang.Long.valueOf): _*))
            events ++= pointEvents(seq, "v", ids, Approved)
          case 2 => // M4 flag window
            val w = rnd.nextInt(4).toLong
            direct = QcActions.flagWindow(direct, "v", col("win_id") === w)
            events :+= windowEvent(seq, "v", w, ManualFlag, GuardNotOrigNA)
          case 3 => // M5 approve unflagged in window
            val w = rnd.nextInt(4).toLong
            direct = QcActions.approveUnflagged(direct, "v", col("win_id") === w)
            events :+= windowEvent(seq, "v", w, Approved, GuardApproveUnchecked)
          case 4 => // M8 reset all
            direct = QcActions.resetAll(direct, "v")
            events :+= globalEvent(seq, "v", Unchecked)
        }
      }
      val folded = QcFlagLog.fold(base, toLogDf(events))
      val a = direct.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
      val b = folded.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
      assert(a == b, s"trial $trial: direct $a != folded $b")
    }
  }

  test("M7 as two consecutive events: unguarded selection beats approve-rest") {
    val ids = Seq(3L, 4L)
    val direct = QcActions.flagAndApproveRest(base, "v",
      FlagSchema.qcol(".rowid").isin(3L, 4L), col("win_id") === 0L)
    val log = toLogDf(
      pointEvents(1L, "v", ids, ManualFlag, GuardNone) :+
        windowEvent(2L, "v", 0L, Approved, GuardApproveUnchecked))
    val folded = QcFlagLog.fold(base, log)
    import spark.implicits._
    val a = direct.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    val b = folded.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    assert(a == b)
  }

  test("LoggedQcSession replays the same script as QcSession actions") {
    val direct = QcActions.approveUnflagged(
      QcActions.flagSelected(base, "v", FlagSchema.qcol(".rowid").isin(1L, 2L)),
      "v", col("win_id") === 0L)
    val logged = LoggedQcSession(base, "v", Seq.empty)
      .flagSelected(Seq(1L, 2L))
      .approveUnflagged(0L)
    val a = direct.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").collect().toSeq
    val b = logged.current.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").collect().toSeq
    assert(a == b)
    assert(logged.log.count() == 3, "2 point events + 1 window event")
  }

  test("over-limit point-event history folds through a shuffle join, same result") {
    // a replayed year-long interactive history can exceed broadcast
    // limits: above broadcastEventLimit the rowid join must run
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
    val log = toLogDf(events)
    val hintedResult = QcFlagLog.fold(base, log)
      .orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    // -1 puts every scope over the limit (even empty ones, count 0)
    val fallback = QcFlagLog.fold(base, log, broadcastEventLimit = -1L)
    val fallbackResult = fallback
      .orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag").as[Int].collect().toSeq
    assert(hintedResult == fallbackResult,
      "join strategy must not change the folded flags")
    // plan shape: with the optimizer's own size-based broadcast choice
    // disabled, any BroadcastHashJoin left can only come from a HINT —
    // over the limit the hint must be gone (the planner/AQE may still
    // broadcast from observed sizes in normal operation, which is the
    // desired degrade-don't-OOM behavior; the hazard was the
    // unconditional hint that size stats cannot override)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val unhinted = QcFlagLog.fold(base, log, broadcastEventLimit = -1L)
        .queryExecution.executedPlan.toString
      assert(!unhinted.contains("BroadcastHashJoin"),
        s"over-limit fold must not hint event-table broadcasts:\n$unhinted")
      val hinted = QcFlagLog.fold(base, log)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        "under-limit fold should keep the broadcast hint")
    } finally spark.conf.set(key, prev)
  }

  test("log auto-compacts at the threshold; subsequent folds broadcast again") {
    val b = base
    val s0 = LoggedQcSession(b, "v", Seq.empty, autoCompactEvents = 4)
    val s1 = s0.flagSelected(Seq(1L, 2L)) // 2 events: below threshold
    assert(s1.events.size == 2 && s1.compactedEvents == 0L)
    val s2 = s1.flagSelected(Seq(3L, 4L)) // 4 events: triggers compact
    assert(s2.events.isEmpty,
      "reaching autoCompactEvents must fold the log into a new base")
    assert(s2.compactedEvents == 4L)
    assert(s2.nextSeq == 3L, "seq numbering continues across compaction")
    // the compacted base is MATERIALIZED (localCheckpoint leaf), not a
    // fold plan that would re-execute per consumer
    assert(s2.base.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty, "compacted base must be an eager checkpoint leaf")
    // post-compaction actions fold the SAME state as a never-compacted
    // session and as direct QcActions application
    val s3 = s2.approveUnflagged(0L)
    assert(s3.events.size == 1, "post-compaction log restarts tiny")
    val never = LoggedQcSession(b, "v", Seq.empty)
      .flagSelected(Seq(1L, 2L)).flagSelected(Seq(3L, 4L)).approveUnflagged(0L)
    val direct = QcActions.approveUnflagged(
      QcActions.flagSelected(b, "v",
        FlagSchema.qcol(".rowid").isin(1L, 2L, 3L, 4L)),
      "v", col("win_id") === 0L)
    def flags(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.orderBy(FlagSchema.qcol(".rowid")).select("v_qcflag")
        .as[Int].collect().toSeq
    val compacted = flags(s3.current)
    assert(compacted == flags(never.current),
      "compaction must not change the folded state")
    assert(compacted == flags(direct),
      "compacted session must still equal direct action application")
    // and the post-compaction fold is broadcast-hinted again: with the
    // optimizer's own size-based broadcast choice disabled, any
    // BroadcastHashJoin can only come from the fold's hint
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = s3.current.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"post-compaction fold should broadcast its tiny event table:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("onCompact audit sink: no event is lost across auto-compaction, " +
      "and a sink failure keeps the log intact") {
    // the sink appends every delivered batch; the complete trail is
    // then sink ⊎ in-session log — the enforceable form of the
    // "persist the log before it fires" contract
    val sunk = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val sink: org.apache.spark.sql.DataFrame => Unit = df =>
      sunk ++= df.select("seq", "new_flag").as[(Long, Int)].collect()
    val s0 = LoggedQcSession(base, "v", Seq.empty,
      autoCompactEvents = 4, onCompact = Some(sink))
    // 6 actions → auto-compaction fires mid-append at event 4
    val s1 = s0.flagSelected(Seq(1L, 2L)).flagSelected(Seq(3L, 4L))
      .approveSelected(Seq(1L)).unflagSelected(Seq(2L))
    assert(s1.compactedEvents == 4L && sunk.size == 4,
      s"sink must receive exactly the folded events, got ${sunk.size}")
    // audit completeness: sink ⊎ current log is the full 6-row trail
    // (one seq per ACTION — the two point-selections share their seq
    // across their two rows)
    val all = (sunk.map(_._1) ++ s1.events.map(_._1)).sorted
    assert(all == Seq(1L, 1L, 2L, 2L, 3L, 4L),
      s"sink + log must be the complete ordered trail, got $all")
    // a failing sink aborts compaction with the events intact
    val bad = s1.copy(onCompact =
      Some(_ => throw new RuntimeException("sink down")))
    val beforeEvents = bad.events
    intercept[RuntimeException](bad.compact())
    assert(bad.events == beforeEvents,
      "failed sink must leave the un-persisted audit trail in place")
  }

  test("building a fold runs the jobs of one per-(variable, scope) count") {
    val b = base
    val log = toLogDf(
      pointEvents(1L, "v", Seq(3L, 4L), ManualFlag, GuardNone) :+
        windowEvent(2L, "v", 0L, Approved, GuardApproveUnchecked) :+
        globalEvent(3L, "v", Unchecked))
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
