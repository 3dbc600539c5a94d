package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end session replay of the vignette workflow
  * (overall_workflow.Rmd: add flags → M7 sweeps → progress → apply →
  * export) on a synthetic ibutton-like series. */
class QcSessionSpec extends SparkSpec {
  import spark.implicits._

  private def mkSeries = {
    val rnd = new scala.util.Random(42)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 400).map { i =>
      val v = if (i % 50 == 3) None
      else Some(20 + 5 * math.sin(i / 10.0) + rnd.nextGaussian())
      (new Timestamp(t0 + i * 3600L * 1000), v)
    }.toDF("DateTime", "temp")
  }

  /** Jobs submitted by `body` on this thread: the job-group
    * status-tracker count of GraphSpec's job-count pins. */
  private def jobsOf[A](group: String)(body: => A): (A, Int) = {
    spark.sparkContext.setJobGroup(group, "QcSession job-count pin")
    try {
      val a = body
      (a, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(QcWindows.WinIdCol).collect().toSeq

  test("open validates inputs") {
    intercept[IllegalArgumentException] {
      QcSession.open(mkSeries, "temp", "DateTime") // no flags yet
    }
    intercept[IllegalArgumentException] {
      QcSession.open(mkSeries.withColumn("DateTime", lit("notatime")), "temp", "DateTime")
    }
  }

  test("full interactive replay: windows, M7 sweep, progress, done") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    var s = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    assert(s.windowCount == 4, "400 hourly points / 100h windows")
    assert(s.render().count() == 100)

    // window 0: brush two points then M7 (flag selection, approve rest)
    val ids = s.render().select(FlagSchema.qcol(".rowid")).as[Long]
      .collect().sorted.take(2)
    s = s.flagAndNext(ids.toSeq)
    assert(s.cursor == 1)

    // windows 1..3: approve everything unflagged
    for (_ <- 1 to 3) { s = s.approveUnflagged(); s = s.next }

    val prog = QcProgress.summary(s.done()).collect()(0)
    assert(prog.getAs[Double]("pct_checked") == 100.0,
      "every non-missing point approved or flagged")
    assert(prog.getAs[Double]("pct_flagged") == 0.5, "2 of 400 brushed")
    val missing = prog.getAs[Double]("pct_missing")
    assert(missing == 2.0, s"8 of 400 missing, got $missing")

    // apply + verify masking
    val clean = QcFlags.applyFlags(s.done())
    assert(clean.filter(col("temp").isNull).count() == 10, "8 NA + 2 flagged")
  }

  test("rewindow recomputes the catalog at a new width") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    val r = s.rewindow(50.0)
    assert(r.windowCount == 8)
    assert(r.cursor == 0)
  }

  test("include-filter navigation only reaches windows with matching flags") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    var s = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    // approve window 0 fully, then restrict navigation to unchecked
    s = s.approveUnflagged()
    val restricted = s.rewindow(100.0, include = Seq(FlagSchema.Unchecked))
    assert(restricted.windowCount == 3, "window 0 has no unchecked flags left")
  }

  test("navigation and actions submit no Spark job after open") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 24.0)
    val ids = s0.render().select(FlagSchema.qcol(".rowid")).as[Long]
      .collect().sorted.take(1).toSeq
    val (s, jobs) = jobsOf("graft_qc_nav_jobcount") {
      var s = s0
      for (_ <- 1 to 10) {
        s = s.flagAndNext(ids).next.prev
        assert(s.windowCount == 17, "400 hourly points / 24h windows")
      }
      s
    }
    assert(jobs == 0, s"navigation submitted $jobs jobs")
    assert(s.cursor == 10)
  }

  test("rewindow runs its catalog jobs once; navigation after it runs none") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    s.render().count() // materialize the cache so both runs below read it
    val lazyCat = QcWindows.windowCatalog(
      QcWindows.withWinId(s.df.drop(QcWindows.WinIdCol, QcWindows.WinDenseCol),
        "DateTime", 50.0, Some(s.t0)), "DateTime", "temp")
    val (_, catalogJobs) = jobsOf("graft_qc_catalog_jobcount")(lazyCat.collect())
    val (r, rewindowJobs) = jobsOf("graft_qc_rewindow_jobcount")(s.rewindow(50.0))
    assert(catalogJobs > 0)
    assert(rewindowJobs == catalogJobs,
      s"rewindow ran $rewindowJobs jobs, one catalog collect runs $catalogJobs")
    val (_, navJobs) = jobsOf("graft_qc_rewindow_nav_jobcount") {
      (1 to 10).foldLeft(r)((x, _) => x.next.goto(3).prev).windowCount
    }
    assert(navJobs == 0, s"navigation after rewindow submitted $navJobs jobs")
  }

  test("the collected catalog has exactly the lazy catalog's rows") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    val lazyOpen = QcWindows.windowCatalog(
      QcWindows.withWinId(flagged, "DateTime", 100.0, Some(s.t0)), "DateTime", "temp")
    assert(s.catalog.schema == lazyOpen.schema)
    assert(sortedRows(s.catalog) == sortedRows(lazyOpen))
    assert(s.windowCount == 4)

    // partly approved, then restricted to windows with unchecked flags
    val approved = s.approveUnflagged().next.approveUnflagged()
    val r = approved.rewindow(100.0, include = Seq(FlagSchema.Unchecked))
    val lazyRe = QcWindows.windowCatalog(
      QcWindows.withWinId(approved.df.drop(QcWindows.WinIdCol, QcWindows.WinDenseCol),
        "DateTime", 100.0, Some(s.t0)),
      "DateTime", "temp", include = Seq(FlagSchema.Unchecked))
    assert(sortedRows(r.catalog) == sortedRows(lazyRe))
    assert(r.windowCount == 2, "windows 0 and 1 have no unchecked flags left")
    assert(r.catalog.select(QcWindows.WinIdCol).as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }
}
