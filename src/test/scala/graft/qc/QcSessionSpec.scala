package graft.qc

import graft.SparkSpec
import graft.pipeline.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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

  private def sortedRows(df: DataFrame) =
    df.orderBy(QcWindows.WinIdCol).collect().toSeq

  private def byRowId(df: DataFrame) =
    df.orderBy(FlagSchema.qcol(QcWindows.RowIdCol)).collect().toSeq

  /** Row ids of each dense window, non-missing rows first. */
  private def idsByWindow(s: QcSession): Map[Long, Seq[Long]] =
    s.df.select(col(QcWindows.WinDenseCol), FlagSchema.qcol(QcWindows.RowIdCol),
        col("temp").isNull.as("na"))
      .as[(Long, Long, Boolean)].collect().toSeq
      .groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(r => (r._3, r._2)).map(_._2) }

  /** `log` folded onto `base` over dense windows, in `cols` order. */
  private def replay(base: DataFrame, log: DataFrame, cols: Seq[String]) =
    QcFlagLog.fold(base, log, winIdCol = QcWindows.WinDenseCol)
      .select(cols.map(FlagSchema.qcol): _*)

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

  test("a brush reaches only the current window's rows") {
    // R/qc_window_app.R:211-213: a brush can only select points plotted
    // in the current window, so ids of other windows are ignored, and a
    // missing row (unplottable) keeps its OrigNA flag
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0).next
    val byWin = idsByWindow(s0)
    val (a, b, na) = (byWin(0L).head, byWin(1L).head, byWin(1L).last)
    def flagOf(df: DataFrame, id: Long): Int =
      df.filter(FlagSchema.qcol(QcWindows.RowIdCol) === id)
        .select("temp_qcflag").as[Int].collect().toSeq match { case Seq(f) => f }
    def nFlag(df: DataFrame, flag: Int): Long =
      df.filter(col("temp_qcflag") === flag).count()
    assert(flagOf(s0.df, na) == FlagSchema.OrigNA)

    for ((what, s) <- Seq(
        "flagSelected" -> s0.flagSelected(Seq(a, b, na)),
        "flagAndNext" -> s0.flagAndNext(Seq(a, b, na)).prev)) {
      assert(s.cursor == 1L)
      assert(flagOf(s.render(), b) == FlagSchema.ManualFlag, what)
      assert(nFlag(s.render(), FlagSchema.ManualFlag) == 1L, what)
      assert(flagOf(s.df, a) == FlagSchema.Unchecked, s"$what reached window 0")
      assert(nFlag(s.done(), FlagSchema.ManualFlag) == 1L, what)
      assert(flagOf(s.render(), na) == FlagSchema.OrigNA, s"$what overwrote a missing row")
      assert(flagOf(s.df, na) == FlagSchema.OrigNA, s"$what overwrote a missing row")
      assert(nFlag(s.done(), FlagSchema.OrigNA) == 8L, s"$what overwrote a missing row")
    }
  }

  test("render has the full fold's rows in every window (random action scripts)") {
    // even trials render from the working window, odd ones Spark-side
    // (a one-byte budget puts the table over it); renders between
    // actions fill the working window, so a memo that kept the old
    // base across compact or rewindow would show stale flags
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val dense = col(QcWindows.WinDenseCol)
    val synthetic = Seq(QcWindows.RowIdCol, QcWindows.WinIdCol, QcWindows.WinDenseCol)
    val rnd = new scala.util.Random(7)
    val seen = scala.collection.mutable.Set.empty[Int]
    def shown(s: QcSession, hide: Boolean) = byRowId(s.render(hideBadRows = hide))
    def expected(s: QcSession, k: Long, hide: Boolean) = {
      val w = s.df.filter(dense === k)
      byRowId(if (hide) QcPlotFeed.hideBad(w, "temp") else w)
    }
    for (trial <- 0 until 4) {
      val opened = QcSession.open(flagged, "temp", "DateTime", winHrs = 50.0)
      val s0 = if (trial % 2 == 0) opened else opened.withByteLimit(1L)
      assert(s0.windowCount == 8)
      var n = s0.windowCount
      var byWin = idsByWindow(s0)
      var all = byWin.values.flatten.toIndexedSeq
      var s = s0
      var direct = s0.df
      var cur = 0L
      def clamp(k: Long) = math.max(0L, math.min(k, n - 1))
      // a brush mixes ids of the current window, its missing row (the
      // last id) included, with ids of any window
      def brush(): Seq[Long] =
        Seq.fill(1 + rnd.nextInt(3))(byWin(cur)(rnd.nextInt(byWin(cur).size))) ++
          Seq.fill(rnd.nextInt(3))(all(rnd.nextInt(all.size))) :+ byWin(cur).last
      for (_ <- 0 until 14) {
        val w = dense === cur
        def sel(ids: Seq[Long]) = QcPlotFeed.selScope(ids) && w
        val op = rnd.nextInt(13)
        seen += op
        op match {
          case 0 => val ids = brush()
            s = s.flagSelected(ids); direct = QcActions.flagSelected(direct, "temp", sel(ids))
          case 1 => val ids = brush()
            s = s.approveSelected(ids); direct = QcActions.approveSelected(direct, "temp", sel(ids))
          case 2 => val ids = brush()
            s = s.unflagSelected(ids); direct = QcActions.unflagSelected(direct, "temp", sel(ids))
          case 3 => s = s.flagWindow(); direct = QcActions.flagWindow(direct, "temp", w)
          case 4 => s = s.approveUnflagged(); direct = QcActions.approveUnflagged(direct, "temp", w)
          case 5 => s = s.resetWindow(); direct = QcActions.resetWindow(direct, "temp", w)
          case 6 => val ids = brush() // a session's M7 selection is guarded
            s = s.flagAndNext(ids)
            direct = QcActions.flagAndApproveRest(direct, "temp",
              sel(ids) && col("temp_qcflag") =!= FlagSchema.OrigNA, w)
            cur = clamp(cur + 1)
          case 7 => s = s.resetAll(); direct = QcActions.resetAll(direct, "temp")
          case 8 => s = s.next; cur = clamp(cur + 1)
          case 9 => s = s.prev; cur = clamp(cur - 1)
          case 10 => val k = rnd.nextInt(n.toInt + 2) - 1L; s = s.goto(k); cur = clamp(k)
          case 11 => s = s.compact()
          case 12 => val width = Seq(50.0, 40.0, 72.0)(rnd.nextInt(3))
            s = s.rewindow(width)
            direct = QcWindows.withDenseId(QcWindows.withWinId(
              direct.drop(QcWindows.WinIdCol, QcWindows.WinDenseCol),
              "DateTime", width, Some(s.t0)), s.catalog)
            n = s.windowCount; cur = 0L
            byWin = idsByWindow(s); all = byWin.values.flatten.toIndexedSeq
        }
        assert(s.cursor == cur)
        val hide = rnd.nextBoolean()
        assert(shown(s, hide) == expected(s, cur, hide),
          s"trial $trial: op $op renders other rows than the full fold")
      }
      for (k <- 0L until n; hide <- Seq(false, true))
        assert(shown(s.goto(k), hide) == expected(s, k, hide),
          s"trial $trial: window $k (hideBadRows = $hide) renders other rows than the full fold")
      assert(s.done().orderBy("DateTime").collect().toSeq ==
        direct.drop(synthetic: _*).orderBy("DateTime").collect().toSeq,
        s"trial $trial: session differs from direct action application")
      assert(byRowId(replay(s.base, s.log, s.df.columns)) == byRowId(s.df),
        s"trial $trial: the folded log differs from the session's table")
    }
    assert(seen == (0 until 13).toSet, s"script never ran actions ${(0 until 13).toSet -- seen}")
  }

  test("render runs no job once the table is fetched; after compact it fetches once") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 24.0)
    val first = s0.render().select(FlagSchema.qcol(QcWindows.RowIdCol)).as[Long]
      .collect().sorted.take(1).toSeq
    def steps(from: QcSession, k: Int) = (1 to k).foldLeft(from) { (s, _) =>
      val next = s.flagAndNext(first)
      assert(next.render().collect().nonEmpty)
      next
    }
    val (s, jobs) = jobsOf("graft_qc_render_jobcount")(steps(s0, 30))
    assert(jobs == 0, s"30 steps after the fetch submitted $jobs jobs")
    assert(s.cursor == 16L)
    assert(s.render().queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "the optimizer must evaluate the folded window on the driver")
    val (_, backJobs) = jobsOf("graft_qc_render_back_jobcount") {
      Seq(s.goto(0), s.prev, s.prev.prev, s0).foreach(b => assert(b.render().collect().nonEmpty))
    }
    assert(backJobs == 0, s"renders behind the cursor and of the opened session ran $backJobs jobs")
    val c = s.compact().goto(3)
    val (_, fetchJobs) = jobsOf("graft_qc_refetch_jobcount")(c.render().collect())
    assert(fetchJobs == 1, s"the first render after compact ran $fetchJobs jobs")
    val (_, afterJobs) = jobsOf("graft_qc_after_refetch_jobcount")(steps(c.goto(0), 10))
    assert(afterJobs == 0, s"renders after the re-fetch submitted $afterJobs jobs")
  }

  test("the working window is fetched only while the whole table fits the driver budget") {
    // one long column: a row header, the null bitset and one word
    val long = new org.apache.spark.sql.types.StructType()
      .add("v", org.apache.spark.sql.types.LongType)
    val row = Fixpoint.RowHeaderBytes + 16
    assert(Fixpoint.rowBytes(long) == row)
    val rows = Seq(10L, 20L, 30L, 40L).sum
    assert(Fixpoint.fitsDriver(rows, long, row * 100), "100 rows fit 100 rows' bytes")
    assert(!Fixpoint.fitsDriver(rows + 1, long, row * 100), "one row more does not")
    assert(!Fixpoint.fitsDriver(40L, long, row * 39), "a lone window over budget is not fetched")
    assert(Fixpoint.fitsDriver(rows, long, 0L), "a limit of 0 is unlimited")
    val wide = org.apache.spark.sql.types.StructType(
      (0 until 1000).map(i => org.apache.spark.sql.types.StructField(s"c$i",
        org.apache.spark.sql.types.LongType)))
    assert(!Fixpoint.fitsDriver(Long.MaxValue / 4, wide, 1L << 30),
      "the byte estimate must not overflow")
    val gib = 1L << 30
    assert(QcSession.workingBudget(gib, 8 * gib, 0.6) == gib, "a large heap: maxResultSize")
    assert(QcSession.workingBudget(gib, gib, 0.6) == (gib * 0.4).toLong,
      "a 1 GiB driver: the heap Spark leaves to user data")
    assert(QcSession.workingBudget(0L, 2 * gib, 0.6) == (2 * gib * 0.4).toLong,
      "an unlimited maxResultSize is still capped by the heap")
    val s = QcSession.open(QcFlags.addFlags(mkSeries, Seq("temp")), "temp", "DateTime",
      winHrs = 100.0)
    val budget = 400L * Fixpoint.rowBytes(s.base.schema)
    val (_, fitJobs) = jobsOf("graft_qc_fits_jobcount") {
      val fits = s.withByteLimit(budget)
      (fits.render().collect(), fits.next.render().collect())
    }
    assert(fitJobs == 1, s"a table at the budget ran $fitJobs jobs for two renders")
    val (_, overJobs) = jobsOf("graft_qc_over_jobcount") {
      val over = s.withByteLimit(budget - 1)
      (over.render().collect(), over.next.render().collect())
    }
    assert(overJobs == 2, s"a table one byte over the budget ran $overJobs jobs for two renders")
  }

  test("the logs read before each compact and at the end hold every action once") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    val byWin = idsByWindow(s0)
    val (a, b, c) = (byWin(0L).head, byWin(1L).head, byWin(2L).head)
    val ((s1, log1), jobs) = jobsOf("graft_qc_log_jobcount") {
      val s = s0.flagSelected(Seq(a)).approveUnflagged().flagAndNext(Seq(b))
      (s, s.log)
    }
    assert(jobs == 0, s"actions and log submitted $jobs jobs")
    val c1 = s1.compact()
    assert(c1.base.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty, "the compacted base must be an eager checkpoint leaf")
    val s2 = c1.resetAll().flagWindow().next.flagAndNext(Seq(c))
    val log2 = s2.log
    val s3 = s2.compact().prev.unflagSelected(Seq(b))
    val logs = Seq(log1, log2, s3.log)
    import QcFlagLog._, QcActions._
    val all = logs.map(_.as[Event].collect().toSeq)
    val expected =
      pointEvents(1, "temp", Seq(a), Flag, Some(0L)) ++
        Seq(windowEvent(2, "temp", 0L, ApproveUnflagged)) ++
        pointEvents(3, "temp", Seq(b), Flag, Some(0L)) ++
        Seq(windowEvent(4, "temp", 0L, ApproveUnflagged)) ++
        Seq(globalEvent(5, "temp", Unflag), windowEvent(6, "temp", 1L, Flag)) ++
        pointEvents(7, "temp", Seq(c), Flag, Some(2L)) ++
        Seq(windowEvent(8, "temp", 2L, ApproveUnflagged)) ++
        pointEvents(9, "temp", Seq(b), Unflag, Some(2L))
    assert(all.flatten == expected)
    all.sliding(2).foreach { case Seq(x, y) =>
      assert(x.map(_._1).max < y.map(_._1).min, "seq must increase across compactions") }
    assert(byRowId(replay(s0.base, logs.reduce(_.union(_)), s3.df.columns)) ==
      byRowId(s3.df), "the trail folded over the opened table is the final table")
  }

  test("render's plan does not deepen as the session goes on") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    // Spark-side render (a one-byte budget): a working-window render
    // folds every projection into its local relation
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 12.0).withByteLimit(1L)
    assert(s0.windowCount == 34)
    def projects(s: QcSession): Int =
      s.render().queryExecution.optimizedPlan.collect { case p: Project => p }.size
    val byWin = idsByWindow(s0)
    val s = (0L until 20L).foldLeft(s0)((x, k) => x.flagAndNext(byWin(k).take(1)))
    assert(s.cursor == 20L)
    assert(projects(s) == projects(s0),
      s"render after 20 steps: ${projects(s)} projects, fresh session: ${projects(s0)}")
    // one action in the shown window: one projection either way
    val (acted, fresh) = (projects(s.flagWindow()), projects(s0.flagWindow()))
    assert(fresh > projects(s0), "a window action must show in the render plan")
    assert(acted == fresh,
      s"render after 20 steps and an action: $acted projects, fresh session: $fresh")
  }

  test("rewindow keeps the base one cut deep and releases its cache") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    val before = byRowId(s0.render())
    def nodes(s: QcSession): Int = s.base.queryExecution.analyzed.collect { case p => p }.size
    // each round folds two actions into a new base; built on the
    // previous base's plan, the base would nest every earlier round
    def round(s: QcSession, width: Double) =
      s.flagWindow().next.approveUnflagged().rewindow(width)
    val r1 = round(s0, 50.0)
    assert(s0.base.storageLevel == StorageLevel.NONE, "opened table still cached after rewindow")
    assert(byRowId(s0.render()) == before, "an older session recomputes the same rows")
    val r5 = Seq(72.0, 40.0, 50.0, 72.0).foldLeft(r1)(round)
    assert(nodes(r5) == nodes(r1),
      s"base after 5 rewindow rounds: ${nodes(r5)} plan nodes, after 1: ${nodes(r1)}")
    // the Spark-side render over it shows the working window's rows
    assert(byRowId(r5.withByteLimit(1L).render(hideBadRows = true)) ==
      byRowId(r5.render(hideBadRows = true)))
  }

  test("compact releases the opened table's cache; older sessions still render") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 100.0)
    val s = s0.flagAndNext(idsByWindow(s0)(0L).take(2)).approveUnflagged().prev
    val before = byRowId(s.render())
    assert(s.base.storageLevel != StorageLevel.NONE)
    val c = s.compact()
    assert(s.base.storageLevel == StorageLevel.NONE, "opened table still cached after compact")
    assert(c.pending.isEmpty)
    assert(byRowId(s.render()) == before, "an older session recomputes the same rows")
    assert(byRowId(c.render()) == before)
    assert(byRowId(c.next.render()) == byRowId(s.next.render()))
  }

  test("a 1,000-step session folds in one projection, as the log replays it") {
    val flagged = QcFlags.addFlags(mkSeries, Seq("temp"))
    val s0 = QcSession.open(flagged, "temp", "DateTime", winHrs = 24.0)
    val n = s0.windowCount
    val byWin = idsByWindow(s0)
    // step i brushes one point of window i mod n, a different one on
    // each visit, and approves the window's rest
    def brushed(i: Long): Long = {
      val ids = byWin(i % n)
      ids((i / n % ids.size).toInt)
    }
    val s = (0L until 1000L).foldLeft(s0)((x, i) => x.goto(i % n).flagAndNext(Seq(brushed(i))))
    def projects(x: QcSession): Int =
      x.df.queryExecution.optimizedPlan.collect { case p: Project => p }.size
    assert(projects(s) == projects(s0.flagAndNext(Seq(brushed(0L)))),
      "the fold's plan must not grow with the number of actions")

    // the same script on the driver: a brush flags its point unless it
    // is missing, then the window's unchecked, non-missing rest is
    // approved
    val missing = s0.df.filter(col("temp").isNull).select(FlagSchema.qcol(QcWindows.RowIdCol))
      .as[Long].collect().toSet
    val flags = scala.collection.mutable.Map.empty[Long, Int]
    byWin.values.flatten.foreach(id =>
      flags(id) = if (missing(id)) FlagSchema.OrigNA else FlagSchema.Unchecked)
    for (i <- 0L until 1000L) {
      val id = brushed(i)
      if (flags(id) != FlagSchema.OrigNA) flags(id) = FlagSchema.ManualFlag
      byWin(i % n).filter(flags(_) == FlagSchema.Unchecked)
        .foreach(flags(_) = FlagSchema.Approved)
    }
    def flagsOf(df: DataFrame): Map[Long, Int] =
      df.select(FlagSchema.qcol(QcWindows.RowIdCol), col("temp_qcflag")).as[(Long, Int)]
        .collect().toMap
    assert(flagsOf(s.df) == flags.toMap, "the fold differs from the script run on the driver")
    val c = s.compact()
    assert(byRowId(c.df) == byRowId(replay(s.base, s.log, s.df.columns)),
      "the compacted table differs from the replayed log")
    val done = s.done()
    assert(done.columns.toSeq == flagged.columns.toSeq)
    assert(done.schema("temp_qcflag").metadata == flagged.schema("temp_qcflag").metadata,
      "the fold must keep the flag column's metadata")
    assert(done.orderBy("DateTime").select("temp_qcflag").as[Int].collect().toSeq ==
      byRowId(c.df).map(_.getAs[Int]("temp_qcflag")))

    // past the broadcast gate the fold joins the log: the same rows,
    // columns and metadata
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val joined = s.goto(s.cursor).df
      assert(joined.queryExecution.analyzed.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty, "past the gate the fold joins the log")
      assert(joined.schema == s.df.schema)
      assert(byRowId(joined) == byRowId(s.df), "the join fold differs from the literal fold")
    } finally spark.conf.set(key, prev)
  }
}
