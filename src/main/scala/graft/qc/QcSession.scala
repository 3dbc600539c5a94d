package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The qc_window_app server loop minus the pixels
  * (R/qc_window_app.R:194-448): an immutable session value holding the
  * table, the window catalog, and the navigation cursor. Every mutation
  * returns a NEW session (Spark dfs are immutable — SURVEY §7.3);
  * `render` returns the current window's rows for the UI layer.
  *
  * Scale: the main df is ingested once (explicit time sort → row ids →
  * window ids) and cached. The catalog is tiny: `open` and `rewindow`
  * collect it once into a local relation and keep its row count as
  * `windowCount`, so navigation (`next`, `prev`, `goto`) and the
  * actions themselves submit no Spark job.
  *
  * State is `base` (the opened table, or the checkpoint after
  * [[compact]], or the re-windowed table after [[rewindow]]) plus a
  * driver-side `pending` list of actions, each tagged with the dense
  * window it was applied in, or global (M8 `resetAll`). [[df]] folds
  * every pending action onto `base`; [[render]] folds onto the current
  * window's slice only that window's actions and the global ones, so a
  * render costs the same at every step however long the session runs.
  * The two agree because every action is row-local and every
  * non-global action is confined to its window: the brushed selection
  * of M1-M3 and M7 is intersected with the current window, as in the
  * reference, where a brush can only select the points plotted in the
  * current window (`brushed_ids`, R/qc_window_app.R:211-213). A new
  * action that is not window-scoped must be tagged global, or render
  * pruning drops it. [[compact]] folds the pending actions into a
  * checkpoint, mirroring the reference's periodic save advice
  * (overall_workflow.Rmd:144-165).
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
    pending: Vector[QcSession.Pending] = Vector.empty,
    appliedActions: Int = 0) {

  import QcSession.{Pending, foldOnto}

  /** The whole table with every pending action applied. */
  lazy val df: DataFrame = foldOnto(base, pending)

  private def winScope: Column = col(QcWindows.WinDenseCol) === cursor

  /** Rows of the current window (navigation slice): exactly
    * `df.filter(win_dense === cursor)`, folding only the actions that
    * can touch this window. */
  def render(hideBadRows: Boolean = false): DataFrame = {
    val slice = foldOnto(QcWindows.slice(base, cursor),
      pending.filter(_.window.forall(_ == cursor)))
    if (hideBadRows) QcPlotFeed.hideBad(slice, y, suffix) else slice
  }

  /** Navigation clamps into [0, last kept window]; a session with no
    * kept windows stays at 0 and renders no rows. */
  private def lastWindow: Long = math.max(0L, windowCount - 1)

  def next: QcSession = goto(cursor + 1)
  def prev: QcSession = goto(cursor - 1)
  def goto(k: Long): QcSession = copy(cursor = math.max(0L, math.min(k, lastWindow)))

  private def pend(window: Option[Long], act: DataFrame => DataFrame): QcSession =
    copy(pending = pending :+ Pending(window, act), appliedActions = appliedActions + 1)

  /** Queue an action confined to the current window; `act` gets the
    * window predicate. */
  private def inWindow(act: (DataFrame, Column) => DataFrame): QcSession = {
    val w = winScope
    pend(Some(cursor), act(_, w))
  }

  /** M1-M3 on a brushed id selection, intersected with the current
    * window (ids of other windows are ignored). */
  def flagSelected(ids: Seq[Long]): QcSession =
    inWindow((d, w) => QcActions.flagSelected(d, y, QcPlotFeed.selScope(ids) && w, suffix))
  def approveSelected(ids: Seq[Long]): QcSession =
    inWindow((d, w) => QcActions.approveSelected(d, y, QcPlotFeed.selScope(ids) && w, suffix))
  def unflagSelected(ids: Seq[Long]): QcSession =
    inWindow((d, w) => QcActions.unflagSelected(d, y, QcPlotFeed.selScope(ids) && w, suffix))

  /** M4-M6 on the whole current window. */
  def flagWindow(): QcSession = inWindow(QcActions.flagWindow(_, y, _, suffix))
  def approveUnflagged(): QcSession = inWindow(QcActions.approveUnflagged(_, y, _, suffix))
  def resetWindow(): QcSession = inWindow(QcActions.resetWindow(_, y, _, suffix))

  /** M7 workhorse: flag the selection (intersected with the current
    * window), approve the window's rest, advance. */
  def flagAndNext(ids: Seq[Long]): QcSession =
    inWindow((d, w) =>
      QcActions.flagAndApproveRest(d, y, QcPlotFeed.selScope(ids) && w, w, suffix)).next

  /** M8, the one global action. */
  def resetAll(): QcSession = pend(None, QcActions.resetAll(_, y, suffix))

  /** Restructure path (R/qc_window_app.R:426-439): recompute window ids
    * at a new width / include-filter — narrow recompute, no shuffle.
    * Dense window ids change, so the pending actions fold into the new
    * base. */
  def rewindow(newWinHrs: Double, include: Seq[Int] = Nil): QcSession = {
    val stripped = df.drop(QcWindows.WinIdCol, QcWindows.WinDenseCol)
    val wdf = QcWindows.withWinId(stripped, t, newWinHrs, Some(t0))
    val (cat, n) = QcWindows.collectCatalog(wdf, t, y, include, suffix)
    copy(base = QcWindows.withDenseId(wdf, cat), winHrs = newWinHrs,
      catalog = cat, windowCount = n, cursor = 0L, pending = Vector.empty)
  }

  /** Fold the pending actions into an eager localCheckpoint (the engine
    * analogue of the reference's periodic re-save) and release the
    * superseded base's cache. Older session values stay valid: they
    * recompute from lineage, which `withRowId` keeps value-deterministic. */
  def compact(): QcSession = {
    val cut = df.localCheckpoint(eager = true)
    if (base.storageLevel != StorageLevel.NONE) base.unpersist(blocking = false)
    copy(base = cut, pending = Vector.empty)
  }

  /** Exit path (R/qc_window_app.R:442-447): strip synthetic columns and
    * return the flagged table. */
  def done(): DataFrame =
    df.drop(QcWindows.RowIdCol, QcWindows.WinIdCol, QcWindows.WinDenseCol)
}

/** Event-log session: the 100 TB variant of [[QcSession]] (SURVEY
  * §7.3). Actions APPEND tiny event rows instead of folding `when`
  * projections onto the plan; the flagged table is materialized only
  * on [[LoggedQcSession.current]]/[[LoggedQcSession.done]] via
  * [[QcFlagLog.fold]]. The log is the audit trail and can be
  * persisted/replayed; plan depth stays constant no matter how long
  * the session runs.
  *
  * The log self-bounds: once it reaches `autoCompactEvents` events,
  * the next append triggers [[compact]] — the folded state becomes a
  * new materialized base and the in-session log empties, so the
  * driver-side event Seq, the fold's per-(variable, scope) event
  * tables, and therefore the fold's broadcast hints all stay small no
  * matter how long the session runs (the fold's un-hinted shuffle
  * fallback still exists for a REPLAYED oversized external log —
  * compaction is the in-session lever, the fallback the defensive
  * one). Compaction folds the audit trail into the base: a caller
  * keeping the full audit sets `onCompact` — an audit sink invoked
  * with the about-to-be-folded [[log]] DataFrame BEFORE the events
  * clear, on every compaction (auto or explicit), which makes the
  * "persist the log before it fires" contract enforceable instead of
  * advisory (auto-compaction fires mid-`append`, at a moment the
  * caller can't see). `compactedEvents` records how many events each
  * base already absorbed, and `nextSeq` keeps counting across
  * compactions so persisted audit seqs stay unique — a sink that
  * appends every delivered batch therefore reconstructs the complete
  * ordered trail as sink ⊎ [[log]]. */
final case class LoggedQcSession(
    base: DataFrame,
    y: String,
    events: Seq[(Long, String, Int, Option[Long], Option[Long], Int, Int)],
    nextSeq: Long = 1L,
    suffix: String = FlagSchema.AutoSuffix,
    autoCompactEvents: Int = LoggedQcSession.DefaultAutoCompactEvents,
    compactedEvents: Long = 0L,
    onCompact: Option[DataFrame => Unit] = None) {

  import QcFlagLog._

  /** MID-APPEND FAILURE SEMANTICS (r13 advice): when this append
    * crosses `autoCompactEvents` and the auto-compaction's `onCompact`
    * sink THROWS, the whole append throws — the triggering action's
    * events then exist NOWHERE: not in the sink (it failed before
    * persisting), not in any returned session (none was returned).
    * The receiver (`this`) is immutable and unchanged, so the caller's
    * recovery is: fix/replace the sink, then RETRY THE ACTION on the
    * session value they already hold. Do not assume the action was
    * recorded merely because the mutation method was called. */
  private def append(
      es: Seq[(Long, String, Int, Option[Long], Option[Long], Int, Int)],
      steps: Long = 1L): LoggedQcSession = {
    val next = copy(events = events ++ es, nextSeq = nextSeq + steps)
    if (next.events.sizeIs >= autoCompactEvents) next.compact() else next
  }

  /** Fold the log into a NEW eagerly-materialized base and clear it:
    * the event-sourced analogue of [[QcSession.compact]]'s lineage
    * truncation. Eager (localCheckpoint) so the fold runs once, not
    * once per later consumer, and the superseded base's plan is
    * dropped. Idempotent on an empty log. The `onCompact` audit sink
    * (if set) receives the folded [[log]] FIRST — a sink failure
    * aborts the compaction with the events intact, so the audit trail
    * can never be folded away un-persisted. NOTE: when compaction was
    * triggered by a mutation crossing `autoCompactEvents`, that
    * mutation's own events are NOT applied on a sink failure — see
    * `append`'s failure-semantics doc (retry the action after the
    * sink recovers). */
  def compact(): LoggedQcSession =
    if (events.isEmpty) this
    else {
      onCompact.foreach(sink => sink(log))
      copy(
        base = QcFlagLog.fold(base, log, suffix = suffix)
          .localCheckpoint(eager = true),
        events = Seq.empty,
        compactedEvents = compactedEvents + events.size)
    }

  def flagSelected(ids: Seq[Long]): LoggedQcSession =
    append(pointEvents(nextSeq, y, ids, FlagSchema.ManualFlag))
  def approveSelected(ids: Seq[Long]): LoggedQcSession =
    append(pointEvents(nextSeq, y, ids, FlagSchema.Approved))
  def unflagSelected(ids: Seq[Long]): LoggedQcSession =
    append(pointEvents(nextSeq, y, ids, FlagSchema.Unchecked))
  def flagWindow(winId: Long): LoggedQcSession =
    append(Seq(windowEvent(nextSeq, y, winId, FlagSchema.ManualFlag, GuardNotOrigNA)))
  def approveUnflagged(winId: Long): LoggedQcSession =
    append(Seq(windowEvent(nextSeq, y, winId, FlagSchema.Approved, GuardApproveUnchecked)))
  def resetWindow(winId: Long): LoggedQcSession =
    append(Seq(windowEvent(nextSeq, y, winId, FlagSchema.Unchecked, GuardNotOrigNA)))
  /** M7: selection (unguarded) then approve-rest, two consecutive seqs. */
  def flagAndApproveRest(ids: Seq[Long], winId: Long): LoggedQcSession =
    append(
      pointEvents(nextSeq, y, ids, FlagSchema.ManualFlag, GuardNone) :+
        windowEvent(nextSeq + 1, y, winId, FlagSchema.Approved, GuardApproveUnchecked),
      steps = 2L)
  def resetAll(): LoggedQcSession =
    append(Seq(globalEvent(nextSeq, y, FlagSchema.Unchecked)))

  /** The event log as a DataFrame ([[QcFlagLog.LogSchema]]). */
  def log: DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    events.toDF("seq", "variable", "scope", "rowid", "win_id", "new_flag", "guard")
  }

  /** Current flag state = base ⊳ fold(log). */
  def current: DataFrame =
    if (events.isEmpty) base else QcFlagLog.fold(base, log, suffix = suffix)

  def done(): DataFrame =
    current.drop(QcWindows.RowIdCol, QcWindows.WinIdCol, QcWindows.WinDenseCol)
}

object LoggedQcSession {
  /** Default auto-compaction threshold. Sized for the interactive
    * workload the session models (one event ≈ one reviewer action):
    * far below [[QcFlagLog.fold]]'s 5M-row broadcast bound — so folds
    * stay broadcast-joined — and small enough that the driver-side
    * event Seq stays trivially cheap to copy per action. */
  val DefaultAutoCompactEvents: Int = 100000
}

object QcSession {

  /** An action not yet folded onto the session's base: `window` is the
    * dense window its scopes are confined to, None for a global one. */
  final case class Pending(window: Option[Long], act: DataFrame => DataFrame)

  private def foldOnto(d: DataFrame, actions: Seq[Pending]): DataFrame =
    actions.foldLeft(d)((acc, p) => p.act(acc))

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
      suffix: String = FlagSchema.AutoSuffix,
      cache: Boolean = true): QcSession = {
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
    val full = QcWindows.withDenseId(wdf, cat)
    val cached =
      if (cache) full.persist(StorageLevel.MEMORY_AND_DISK) else full
    QcSession(cached, y, t, winHrs, t0, cat, n, 0L, sfx)
  }
}
