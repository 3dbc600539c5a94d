package graft.qc

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.Fixpoint

/** Event-sourced flag mutations — SURVEY §7.3, the scale answer to the
  * reference's by-reference table mutation (qc_window_app.R:362 etc.).
  *
  * Instead of rewriting a 100 TB table per interactive click, each
  * M1-M8 action appends a TINY event row; the current flag state is a
  * deterministic FOLD of the base flags through the event log in
  * sequence order, with each action's guard evaluated against the
  * folded state (exactly sequential-application semantics). The full
  * log doubles as the audit trail the reference's export rationale
  * asks for ("preserve raw + record of assigned flags",
  * overall_workflow.Rmd:187-189).
  *
  * Event scopes mirror the action algebra:
  *  - point:  a brushed row id (M1-M3, M7's selection)
  *  - window: every row of a window id (M4-M6, M7's approve-rest)
  *  - global: every row (M8)
  *
  * Fold cost at scale: one shuffle join on rowid for point events
  * (broadcast when the brushed sets are small — the common case), one
  * broadcast join on win_id for window events, one broadcast for
  * globals, then a narrow per-row fold over the row's few applicable
  * events. Mutation cost: appending rows to a log table.
  */
object QcFlagLog {

  import FlagSchema._
  import QcActions.{Guards, Write, admits}

  val ScopePoint = 0
  val ScopeWindow = 1
  val ScopeGlobal = 2

  /** One event row: (seq, variable, scope, rowid, win_id, new_flag,
    * guard). A point event with a `win_id` reaches its row only inside
    * that window (a brush, which selects plotted points of one window). */
  type Event = (Long, String, Int, Option[Long], Option[Long], Int, Int)

  val LogSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("variable", StringType, nullable = false),
    StructField("scope", IntegerType, nullable = false),
    StructField("rowid", LongType, nullable = true),
    StructField("win_id", LongType, nullable = true),
    StructField("new_flag", IntegerType, nullable = false),
    StructField("guard", IntegerType, nullable = false)))

  def emptyLog(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      LogSchema)

  /** Event constructors (driver-side row builders; append with
    * unionByName or write to the log table): each takes its write from
    * [[QcActions]]' M-operation table. */
  def pointEvents(seq: Long, v: String, ids: Seq[Long], w: Write,
      winId: Option[Long] = None): Seq[Event] =
    ids.map(id => (seq, v, ScopePoint, Some(id), winId, w.newFlag, w.guard))

  def windowEvent(seq: Long, v: String, winId: Long, w: Write): Event =
    (seq, v, ScopeWindow, None, Some(winId), w.newFlag, w.guard)

  def globalEvent(seq: Long, v: String, w: Write): Event =
    (seq, v, ScopeGlobal, None, None, w.newFlag, w.guard)

  /** An event list as a log DataFrame; a local relation, so no job. */
  def toLog(spark: SparkSession, events: Seq[Event]): DataFrame = {
    import spark.implicits._
    events.toDF(LogSchema.fieldNames.toSeq: _*)
  }

  /** Fold the event log onto the base table: for every flagged variable
    * with events, the final flag is the base flag threaded through the
    * row's applicable events in `seq` order, guards evaluated against
    * the running state. Rows without events pass through untouched.
    *
    * The point/window event tables broadcast only while
    * [[graft.pipeline.Fixpoint.broadcastIfFits]] admits the variable's
    * event count for that scope under the session's broadcast and
    * driver limits — a year-long interactive history (or a replayed
    * audit log) can exceed them, and an unconditional hint would OOM
    * the driver instead of degrading to a shuffle join. Past the gate
    * the join runs un-hinted (sort-merge/shuffled-hash on
    * rowid/win_id — the scale-safe shape); results are identical.
    * (Compacting the folded state into a new base —
    * [[QcSession.compact]] — is the complementary lever when the log
    * itself gets unwieldy; the fallback makes the fold correct either
    * way.) */
  def fold(
      base: DataFrame,
      log: DataFrame,
      idCol: String = QcWindows.RowIdCol,
      winIdCol: String = QcWindows.WinIdCol,
      suffix: String = AutoSuffix): DataFrame = {
    val sfx = resolveSuffix(base, suffix)
    // One tiny aggregate gives the variables to fold (its keys, sorted
    // so the fold order is deterministic) and decides every broadcast
    // hint below: the grouped event tables are at most event-count-sized,
    // so the per-(variable, scope) event count is a sound upper bound.
    // driver-sized by construction: ≤ |vars| × 3 scope rows, and each
    // variable must resolve to a flag column of `base` (the require
    // below), so |vars| is bounded by base's width.
    val eventCounts = log.groupBy(col("variable"), col("scope")).count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val vars = eventCounts.keys.map(_._1).toSeq.distinct.sorted

    vars.foldLeft(base) { (df, v) =>
      val f = flagCol(v, sfx)
      require(df.schema.fieldNames.contains(f), s"fold: no flag column $f")
      val lv = log.filter(col("variable") === v)
      // a grouped event table has at most one row per event
      def hinted(t: DataFrame, scope: Int): DataFrame =
        Fixpoint.broadcastIfFits(t, eventCounts.getOrElse((v, scope), 0L))

      val ev = struct(col("seq"), col("new_flag"), col("guard"), col("win_id"))
      val pt = lv.filter(col("scope") === ScopePoint)
        .groupBy(col("rowid").as(idCol)).agg(collect_list(ev).as("__pe"))
      val wn = lv.filter(col("scope") === ScopeWindow)
        .groupBy(col("win_id").as(winIdCol)).agg(collect_list(ev).as("__we"))
      val gl = lv.filter(col("scope") === ScopeGlobal)
        .agg(collect_list(ev).as("__ge"))

      val hasWin = df.schema.fieldNames.contains(winIdCol)
      val joined0 = df.join(hinted(pt, ScopePoint), Seq(idCol), "left")
      val joined1 =
        if (hasWin) joined0.join(hinted(wn, ScopeWindow), Seq(winIdCol), "left")
        else joined0.withColumn("__we", lit(null))
      // globals aggregate to ONE row (a collect_list of the global
      // events) — always broadcastable as a table; its ROW size is
      // bounded by session compaction, not by this hint
      val joined = joined1.crossJoin(broadcast(gl))

      val emptyEv =
        array().cast("array<struct<seq:bigint,new_flag:int,guard:int,win_id:bigint>>")
      val events = array_sort(concat(
        coalesce(col("__pe"), emptyEv),
        coalesce(col("__we"), emptyEv),
        coalesce(col("__ge"), emptyEv)))
      val missing = QcFlags.isMissing(df, v)
      // without a window column, events tied to a window reach no row
      val rowWin = if (hasWin) qcol(winIdCol) else lit(null).cast(LongType)
      val folded = aggregate(events, qcol(f),
        step(missing, e => e("win_id").isNull || e("win_id") === rowWin))
      joined
        .withColumn(f, folded.cast(IntegerType))
        .drop("__pe", "__we", "__ge")
    }
  }

  /** The fold's row step, the one place its semantics are written: the
    * running flag `acc` takes event `e`'s `new_flag` when `e` reaches
    * the row and `e`'s guard admits `acc`. */
  private def step(missing: Column, reaches: Column => Column)(acc: Column, e: Column): Column =
    when(reaches(e) &&
      Guards.map(g => e("guard") === g && admits(g, acc, missing)).reduce(_ || _),
      e("new_flag")).otherwise(acc)

  /** A driver-held literal's event: `rowid` null for a window or global
    * event. The literal is already in `seq` order. */
  private val LiteralEvent = StructType(Seq(
    StructField("rowid", LongType, nullable = true),
    StructField("new_flag", IntegerType, nullable = false),
    StructField("guard", IntegerType, nullable = false)))

  /** Whether [[foldLiteral]] may carry `events` as literals: they ship
    * with every task, as a broadcast does, so their elements (each
    * window's own events plus the global ones, and the global ones once
    * more) take the broadcast gate. */
  private[qc] def literalFits(spark: SparkSession, events: Seq[Event]): Boolean = {
    val (global, own) = events.partition(_._5.isEmpty)
    val elements = own.groupBy(_._5).values.map(_.size.toLong + global.size).sum + global.size
    Fixpoint.broadcastAllowed(spark, elements, LiteralEvent)
  }

  /** [[fold]] for driver-held events of one variable `v`, as ONE
    * projection whose plan and generated code do not grow with the
    * number of events. Every event carries its dense window (global
    * events none), as a session's do: each window's events, merged
    * with the global ones and sorted by `seq`, sit in one array
    * literal indexed by the dense window id; windows without events of
    * their own read the global events from a second literal. A row of
    * a window with no events, when there are no global ones, keeps its
    * flag without entering the fold's lambda. Keeps `d`'s column order
    * and the flag column's metadata; `d` itself when there are no
    * events. */
  private[qc] def foldLiteral(
      d: DataFrame,
      v: String,
      events: Seq[Event],
      suffix: String): DataFrame =
    if (events.isEmpty) d
    else {
      val f = flagCol(v, resolveSuffix(d, suffix))
      require(d.schema.fieldNames.contains(f), s"foldLiteral: no flag column $f")
      val elem = ArrayType(LiteralEvent, containsNull = false)
      def array(es: Seq[Event]): ArrayData = new GenericArrayData(es.sortBy(_._1).map(e =>
        InternalRow(e._4.map(Long.box).orNull, e._6, e._7)).toArray[Any])
      val (global, own) = events.partition(_._5.isEmpty)
      val byWin = own.groupBy(_._5.get)
      val windows = new Array[Any](if (byWin.isEmpty) 0 else (byWin.keys.max + 1).toInt)
      byWin.foreach { case (k, es) => windows(k.toInt) = array(es ++ global) }
      val lookup = try_element_at(
        GraftColumnBridge.column(Literal(new GenericArrayData(windows),
          ArrayType(elem, containsNull = true))),
        qcol(QcWindows.WinDenseCol).cast(IntegerType) + 1)
      val evs =
        if (global.isEmpty) lookup
        else coalesce(lookup, GraftColumnBridge.column(Literal(array(global), elem)))
      val rowId = qcol(QcWindows.RowIdCol)
      val folded = when(evs.isNull, qcol(f)).otherwise(aggregate(evs, qcol(f),
        step(QcFlags.isMissing(d, v), e => e("rowid").isNull || e("rowid") === rowId)))
      keepMeta(d, d.withColumn(f, folded.cast(IntegerType)), f)
    }
}
