package graft.qc

import scala.collection.immutable.ArraySeq

import graft.pipeline.Fixpoint
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The qc_window_app server loop minus the pixels
  * (R/qc_window_app.R:194-448): a session value holding the table, the
  * window catalog, and the navigation cursor. Every action returns a
  * NEW session (Spark dfs are immutable — SURVEY §7.3); `render`
  * returns the current window's rows for the UI layer.
  *
  * Scale: the main df is ingested once (explicit time sort → row ids →
  * window ids) and cached. The catalog is tiny: `open` and `rewindow`
  * collect it once into a local relation and keep its row count as
  * `windowCount`, so navigation (`next`, `prev`, `goto`) and the
  * actions themselves submit no Spark job.
  *
  * State is `base` (the opened table, or the checkpoint after
  * [[compact]], or the re-windowed checkpoint after [[rewindow]]) plus a
  * driver-side `pending` list of actions as data, each tagged with the
  * dense window it was applied in, or global (M8 `resetAll`). [[df]]
  * folds every pending action onto `base` in ONE projection
  * ([[QcFlagLog.foldLiteral]]): the actions' events ride as literals
  * indexed by dense window, so neither its plan nor its generated code
  * grows with the session, and a save costs rows, not plan depth. Past
  * the broadcast gate the events fold through the log's joins
  * ([[QcFlagLog.fold]]) instead. [[render]] folds onto the current
  * window's rows only that window's events and the global ones, so a
  * render costs the same at every step however long the session runs.
  * The two agree because
  * every action is row-local and every non-global action is confined
  * to its window: a brush selects only the plotted points of the
  * current window, as in the reference (`brushed_ids`,
  * R/qc_window_app.R:211-213) — its ids are intersected with the
  * window and guarded against OrigNA, M7's selection included.
  *
  * The one mutable part is the [[QcSession.Working]] window, a memo of
  * `base` rows shared by `copy`, as a lazy val would be: when the
  * whole `base` fits the driver budget ([[QcSession.driverBudget]]), the
  * first render collects it once, grouped by dense window, and every
  * render after it folds the actions onto its window's rows as a
  * driver-local relation, which the optimizer evaluates in place: no
  * Spark job, wherever the cursor goes. The memo remembers which
  * `base` it holds and fetches again for a session with another one
  * (after [[compact]] or [[rewindow]]). A `base` over the budget
  * renders Spark-side, one filter job per render.
  *
  * [[log]] is the same list as [[QcFlagLog]] events, and
  * `QcFlagLog.fold(base, log, winIdCol = win_dense)` reproduces [[df]].
  * [[compact]] folds the pending actions into a checkpoint, mirroring
  * the reference's periodic save advice (overall_workflow.Rmd:144-165);
  * a caller keeping the audit trail reads [[log]] before it compacts.
  * Sequence numbers keep counting across compactions.
  */
final case class QcSession(
    base: DataFrame,
    y: String,
    t: String,
    winHrs: Double,
    t0: java.sql.Timestamp,
    catalog: DataFrame,
    windowCount: Long,
    cursor: Long = 0L,
    suffix: String = FlagSchema.AutoSuffix,
    pending: Vector[QcSession.Action] = Vector.empty,
    nextSeq: Long = 1L)(
    working: QcSession.Working = new QcSession.Working(None)) {

  import QcActions.{Approve, ApproveUnflagged, Flag, Unflag, Write}
  import QcSession.Action

  /** The whole table with every pending action applied: one projection
    * with the events as literals, or the log's join fold when they are
    * past the broadcast gate. */
  lazy val df: DataFrame = {
    val events = pending.flatMap(_.events(y))
    if (events.isEmpty || QcFlagLog.literalFits(base.sparkSession, events))
      QcFlagLog.foldLiteral(base, y, events, suffix)
    else {
      val f = FlagSchema.flagCol(y, suffix)
      val folded = QcFlagLog.fold(base, log, winIdCol = QcWindows.WinDenseCol, suffix = suffix)
      FlagSchema.keepMeta(base, folded.select(base.columns.toSeq.map(FlagSchema.qcol): _*), f)
    }
  }

  /** Rows of the current window (navigation slice): exactly
    * `df.filter(win_dense === cursor)`, folding only the events that
    * can touch this window onto its rows from the working window (or
    * from `base` when the table is over the driver budget). */
  def render(hideBadRows: Boolean = false): DataFrame = {
    val rows = working.rows(this).fold(QcWindows.slice(base, cursor))(
      GraftColumnBridge.localRelation(base.sparkSession, base.schema, _))
    val slice = QcFlagLog.foldLiteral(rows, y,
      pending.filter(_.window.forall(_ == cursor)).flatMap(_.events(y)), suffix)
    if (hideBadRows) QcPlotFeed.hideBad(slice, y, suffix) else slice
  }

  /** The same session with a fresh working window capped at `bytes` of
    * driver budget instead of [[QcSession.driverBudget]]. */
  private[qc] def withByteLimit(bytes: Long): QcSession =
    copy()(new QcSession.Working(Some(bytes)))

  /** The pending actions as [[QcFlagLog.LogSchema]] rows (window ids are
    * dense); a local relation, so no job. */
  def log: DataFrame = QcFlagLog.toLog(base.sparkSession, pending.flatMap(_.events(y)))

  /** Navigation clamps into [0, last kept window]; a session with no
    * kept windows stays at 0 and renders no rows. */
  private def lastWindow: Long = math.max(0L, windowCount - 1)

  def next: QcSession = goto(cursor + 1)
  def prev: QcSession = goto(cursor - 1)
  def goto(k: Long): QcSession = copy(cursor = math.max(0L, math.min(k, lastWindow)))(working)

  private def act(window: Option[Long], ids: Option[Seq[Long]], write: Write,
      approveRest: Boolean = false): QcSession = {
    val a = Action(nextSeq, window, ids, write, approveRest)
    copy(pending = pending :+ a, nextSeq = nextSeq + a.seqs)(working)
  }

  /** M1-M3 on a brushed id selection of the current window. */
  def flagSelected(ids: Seq[Long]): QcSession = act(Some(cursor), Some(ids), Flag)
  def approveSelected(ids: Seq[Long]): QcSession = act(Some(cursor), Some(ids), Approve)
  def unflagSelected(ids: Seq[Long]): QcSession = act(Some(cursor), Some(ids), Unflag)

  /** M4-M6 on the whole current window. */
  def flagWindow(): QcSession = act(Some(cursor), None, Flag)
  def approveUnflagged(): QcSession = act(Some(cursor), None, ApproveUnflagged)
  def resetWindow(): QcSession = act(Some(cursor), None, Unflag)

  /** M7 workhorse: flag the brushed selection, approve the window's
    * rest, advance. */
  def flagAndNext(ids: Seq[Long]): QcSession =
    act(Some(cursor), Some(ids), Flag, approveRest = true).next

  /** M8, the one global action. */
  def resetAll(): QcSession = act(None, None, Unflag)

  /** Restructure path (R/qc_window_app.R:426-439): recompute window ids
    * at a new width / include-filter — narrow recompute, no shuffle.
    * Dense window ids change, so the pending actions fold into the new
    * base, which sits on a lazy localCheckpoint of the folded table:
    * the catalog collect fills it, and the base's plan stays one cut
    * deep however many rewindows came before. The superseded base's
    * cache is released as in [[compact]]. */
  def rewindow(newWinHrs: Double, include: Seq[Int] = Nil): QcSession = {
    val stripped = df.drop(QcWindows.WinIdCol, QcWindows.WinDenseCol)
      .localCheckpoint(eager = false)
    val wdf = QcWindows.withWinId(stripped, t, newWinHrs, Some(t0))
    val (cat, n) = QcWindows.collectCatalog(wdf, t, y, include, suffix)
    if (base.storageLevel != StorageLevel.NONE) base.unpersist(blocking = false)
    copy(base = QcWindows.withDenseId(wdf, cat), winHrs = newWinHrs,
      catalog = cat, windowCount = n, cursor = 0L, pending = Vector.empty)(working)
  }

  /** Fold the pending actions into an eager localCheckpoint (the engine
    * analogue of the reference's periodic re-save) and release the
    * superseded base's cache. Older session values stay valid: they
    * recompute from lineage, which `withRowId` keeps value-deterministic. */
  def compact(): QcSession = {
    val cut = df.localCheckpoint(eager = true)
    if (base.storageLevel != StorageLevel.NONE) base.unpersist(blocking = false)
    copy(base = cut, pending = Vector.empty)(working)
  }

  /** Exit path (R/qc_window_app.R:442-447): strip synthetic columns and
    * return the flagged table. */
  def done(): DataFrame =
    df.drop(QcWindows.RowIdCol, QcWindows.WinIdCol, QcWindows.WinDenseCol)
}

object QcSession {

  /** The working window: every row of one session `base`, fetched to
    * the driver by one collect and grouped by dense window, or None
    * when that `base` is over the budget. Shared by the copies of a
    * session; asked for a session with another `base`, it fetches that
    * one instead. It sits in the session's second parameter list, so
    * it takes no part in equality. `byteLimit` replaces [[driverBudget]]
    * (a test seam). */
  final class Working private[qc] (byteLimit: Option[Long]) {
    private var from: DataFrame = _
    private var windows: Option[Map[Long, Array[InternalRow]]] = None

    /** The base rows of `s`'s current window; None when `s.base` is
      * over budget. */
    private[qc] def rows(s: QcSession): Option[Seq[InternalRow]] = synchronized {
      if (from ne s.base) {
        // driver-sized: the catalog is a local relation, one row per
        // kept window
        val nRows = s.catalog.select("n_rows").collect().map(_.getLong(0)).sum
        // the broadcast gate's rule; `base` holds exactly the kept
        // windows' rows (withDenseId is an inner join with the catalog)
        windows =
          if (!Fixpoint.fitsDriver(nRows, s.base.schema,
              byteLimit.getOrElse(driverBudget(s.base.sparkSession)))) None
          else {
            val at = s.base.schema.fieldIndex(QcWindows.WinDenseCol)
            // driver-sized: fitsDriver keeps the table within the budget
            Some(GraftColumnBridge.collectInternal(s.base).groupBy(_.getLong(at)))
          }
        from = s.base
      }
      windows.map(w => ArraySeq.unsafeWrapArray(w.getOrElse(s.cursor, Array.empty[InternalRow])))
    }
  }

  /** The working window's budget: `spark.driver.maxResultSize` (0 =
    * unlimited), capped by the heap that Spark leaves to user data
    * structures, `1 - spark.memory.fraction` of the driver's max heap,
    * since the fetched rows stay on the driver for the session. */
  private[qc] def driverBudget(spark: SparkSession): Long =
    workingBudget(Fixpoint.maxResultSize(spark), Runtime.getRuntime.maxMemory,
      spark.sparkContext.getConf.getDouble("spark.memory.fraction", 0.6))

  /** [[driverBudget]] from its inputs, in bytes. */
  private[qc] def workingBudget(
      maxResultSize: Long, maxHeap: Long, memoryFraction: Double): Long = {
    val user = (maxHeap * (1 - memoryFraction)).toLong
    if (maxResultSize <= 0) user else math.min(maxResultSize, user)
  }

  /** A pending action, as data: in dense window `window` (every row
    * when None), the brushed `ids` (the whole window when None) get
    * `write`; with `approveRest` (M7) the window's rest is then
    * approved. `seq` numbers its first event; M7's rest takes the
    * next. */
  final case class Action(seq: Long, window: Option[Long], ids: Option[Seq[Long]],
      write: QcActions.Write, approveRest: Boolean = false) {

    def seqs: Int = if (approveRest) 2 else 1

    /** The action as [[QcFlagLog]] events. */
    def events(y: String): Seq[QcFlagLog.Event] = {
      import QcFlagLog._
      val first = (ids, window) match {
        case (Some(is), _) => pointEvents(seq, y, is, write, window)
        case (None, Some(k)) => Seq(windowEvent(seq, y, k, write))
        case (None, None) => Seq(globalEvent(seq, y, write))
      }
      if (approveRest) first ++ window.map(windowEvent(seq + 1, y, _, QcActions.ApproveUnflagged))
      else first
    }
  }

  /** Persist the session's table to parquet (the engine's analogue of
    * the reference's save-workspace-and-resume loop,
    * overall_workflow.Rmd:144-165): writes via
    * [[QcExport.writeParquet]]; [[resume]] reopens it with the same
    * parameters. Synthetic columns are stripped so the checkpoint is a
    * plain flagged table. */
  def checkpoint(s: QcSession, path: String): Unit =
    QcExport.writeParquet(s.done(), path)

  def resume(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      y: String,
      t: String,
      winHrs: Double = 168.0,
      include: Seq[Int] = Nil,
      tiebreakers: Seq[String] = Nil): QcSession =
    open(QcExport.readCheckpoint(spark, path), y, t, winHrs, include, tiebreakers)

  /** Ingest (R/qc_window_app.R:42-85): validate, explicit time sort with
    * row ids, window ids from the global min time, window catalog
    * (collected once), cache. */
  def open(
      data: DataFrame,
      y: String,
      t: String,
      winHrs: Double = 168.0,
      include: Seq[Int] = Nil,
      tiebreakers: Seq[String] = Nil,
      suffix: String = FlagSchema.AutoSuffix): QcSession = {
    val sfx = FlagSchema.resolveSuffix(data, suffix)
    require(data.schema.fieldNames.contains(t), s"open: no time column $t")
    require(
      data.schema(t).dataType == org.apache.spark.sql.types.TimestampType,
      s"open: $t must be TimestampType (the reference errors on non-POSIXct, R/qc_window_app.R:52-57)")
    require(data.schema.fieldNames.contains(FlagSchema.flagCol(y, sfx)),
      s"open: run QcFlags.addFlags first — no flag column for $y (R/qc_window_app.R:59-62)")
    val t0 = QcWindows.minTime(data, t)
    // the catalog reads only t, y, the flag and win_id, and withRowId
    // keeps every row, so it skips the row-id branch
    val (cat, n) = QcWindows.collectCatalog(
      QcWindows.withWinId(data, t, winHrs, Some(t0)), t, y, include, sfx)
    val withIds = QcWindows.withRowId(data, t +: tiebreakers)
    val wdf = QcWindows.withWinId(withIds, t, winHrs, Some(t0))
    val cached = QcWindows.withDenseId(wdf, cat).persist(StorageLevel.MEMORY_AND_DISK)
    QcSession(cached, y, t, winHrs, t0, cat, n, 0L, sfx)()
  }
}
