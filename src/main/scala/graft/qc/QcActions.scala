package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** M1-M8: the interactive flag-mutation algebra — the Spark equivalents
  * of the qc_window_app button handlers (R/qc_window_app.R:359-419).
  *
  * The reference mutates a data.table by reference; here every action is
  * a pure `DataFrame => DataFrame` that rewrites ONE flag column with a
  * `when`-guarded projection — narrow, shuffle-free, whole-stage
  * codegen'd. Scopes are arbitrary `Column` predicates; a brushed
  * id-selection is an `isin` literal list (small sets → Catalyst
  * InSet). A large id selection is a table of point events folded by
  * [[QcFlagLog.fold]], whose point-event join broadcasts while it
  * fits, per SURVEY §4.2.
  *
  * Every action is a [[Write]] from the one table below: the flag it
  * sets and the guard it sets it under. [[admits]] is the one place the
  * guard rules are written; the projections here, [[QcFlagLog.fold]]
  * and [[QcSession]] all read them from there.
  *
  * Engine laws (property-tested in QcActionsSpec):
  *   - OrigNA (-1) is written only by addFlags and never overwritten by
  *     any action here (every action guards `flag != -1` except M7's
  *     selection write, whose rows are never OrigNA by construction —
  *     NA points are unplottable hence unselectable, SURVEY §2.6).
  *   - actions write only into {Approved, Unchecked, ManualFlag}.
  *   - actions touch flag columns only, never values.
  */
object QcActions {

  import FlagSchema._

  /** Guard codes, also the `guard` column of [[QcFlagLog.LogSchema]]. */
  val GuardNotOrigNA = 0 // flag != -1
  val GuardApproveUnchecked = 1 // flag == 0 && !missing
  val GuardNone = 2 // unguarded
  val Guards: Seq[Int] = Seq(GuardNotOrigNA, GuardApproveUnchecked, GuardNone)

  /** The guard rules: whether `guard` lets a write replace `flag` on a
    * row whose value is `missing` (R/qc_window_app.R:360-362 `flag !=
    * -1`; :394-398 `flag == 0 & !is.na(y)`). */
  def admits(guard: Int, flag: Column, missing: => Column): Column = guard match {
    case GuardNotOrigNA => flag =!= OrigNA
    case GuardApproveUnchecked => flag === Unchecked && !missing
    case GuardNone => lit(true)
  }

  /** One flag write: rows in scope that `guard` admits get `newFlag`. */
  final case class Write(newFlag: Int, guard: Int)

  /** The M-operation → write table. */
  val Flag = Write(ManualFlag, GuardNotOrigNA) // M1, M4; a session's M7 selection
  val Approve = Write(Approved, GuardNotOrigNA) // M2
  val Unflag = Write(Unchecked, GuardNotOrigNA) // M3, M6, M8
  val ApproveUnflagged = Write(Approved, GuardApproveUnchecked) // M5, M7's rest
  val FlagUnguarded = Write(ManualFlag, GuardNone) // M7's selection

  /** Core conditional flag update: ONE projection of chained `when`s —
    * each row gets the first (scope, write) whose scope holds and whose
    * guard admits it; all other rows keep their flag. */
  def setFlags(df: DataFrame, v: String, suffix: String = AutoSuffix)(
      writes: (Column, Write)*): DataFrame = {
    val f = flagCol(v, resolveSuffix(df, suffix))
    require(df.schema.fieldNames.contains(f), s"setFlag: no flag column $f")
    lazy val missing = QcFlags.isMissing(df, v) // read only by GuardApproveUnchecked
    val cases = writes.map { case (scope, w) =>
      (scope && admits(w.guard, qcol(f), missing), lit(w.newFlag)) }
    val chained = cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
      case (c, (p, x)) => c.when(p, x) }
    // keepMeta: the when-projection drops the qc_vars/qc_suffix column
    // Metadata (only bare attribute references carry it); re-attach
    keepMeta(df, df.withColumn(f, chained.otherwise(qcol(f)).cast(IntegerType)), f)
  }

  /** Set `v`'s flag by `write` where `scope` holds and the guard admits
    * the row, leaving all other rows' flags untouched. */
  def setFlag(df: DataFrame, v: String, scope: Column, write: Write,
      suffix: String = AutoSuffix): DataFrame =
    setFlags(df, v, suffix)(scope -> write)

  /** M1 Flag Selected (R/qc_window_app.R:384): brushed set → ManualFlag. */
  def flagSelected(df: DataFrame, v: String, scope: Column,
      suffix: String = AutoSuffix): DataFrame = setFlag(df, v, scope, Flag, suffix)

  /** M2 Approve Selected (R/qc_window_app.R:385). */
  def approveSelected(df: DataFrame, v: String, scope: Column,
      suffix: String = AutoSuffix): DataFrame = setFlag(df, v, scope, Approve, suffix)

  /** M3 Unflag Selected (R/qc_window_app.R:386). */
  def unflagSelected(df: DataFrame, v: String, scope: Column,
      suffix: String = AutoSuffix): DataFrame = setFlag(df, v, scope, Unflag, suffix)

  /** M4 Flag ENTIRE Window (R/qc_window_app.R:389-393): `windowScope`
    * is the current window's predicate (e.g. `col("win_dense") === k`). */
  def flagWindow(df: DataFrame, v: String, windowScope: Column,
      suffix: String = AutoSuffix): DataFrame = setFlag(df, v, windowScope, Flag, suffix)

  /** M5 Approve ALL Unflagged in window (R/qc_window_app.R:394-398):
    * approves only unchecked, non-missing points. Idempotent. */
  def approveUnflagged(df: DataFrame, v: String, windowScope: Column,
      suffix: String = AutoSuffix): DataFrame =
    setFlag(df, v, windowScope, ApproveUnflagged, suffix)

  /** M6 Reset Window (R/qc_window_app.R:399-403). */
  def resetWindow(df: DataFrame, v: String, windowScope: Column,
      suffix: String = AutoSuffix): DataFrame = setFlag(df, v, windowScope, Unflag, suffix)

  /** M7 "Flag Selected & Approve Unflagged & Next" — the workhorse
    * (R/qc_window_app.R:406-413, overall_workflow.Rmd:248-250):
    * 1. brushed selection → ManualFlag, UNGUARDED (selected points are
    *    plotted points, which are never OrigNA);
    * 2. the rest of the window (window ∖ selection) where
    *    `flag == 0 && !is.na(y)` → Approved.
    * One projection, two chained `when`s — selection wins. */
  def flagAndApproveRest(
      df: DataFrame,
      v: String,
      selection: Column,
      windowScope: Column,
      suffix: String = AutoSuffix): DataFrame =
    setFlags(df, v, suffix)(selection -> FlagUnguarded, windowScope -> ApproveUnflagged)

  /** M8 Reset ALL (R/qc_window_app.R:417-419): whole-table reset to
    * Unchecked, OrigNA immune. Idempotent. */
  def resetAll(df: DataFrame, v: String,
      suffix: String = AutoSuffix): DataFrame = setFlag(df, v, lit(true), Unflag, suffix)
}
