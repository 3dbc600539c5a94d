package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The superstep driver of the iterative operators (Pregel over
  * DataFrames; GraphX's `Pregel` is the RDD precedent). It owns the
  * decisions every loop would otherwise make for itself:
  *  - staging: an eager `localCheckpoint` (deserialized
  *    MEMORY_AND_DISK row blocks) plus a handle on its backing RDD —
  *    `Dataset.unpersist` only talks to the CacheManager, so that
  *    handle is the only way to free the blocks before driver GC — or
  *    the columnar cache; every cache under `graft/pipeline`, iterative
  *    or not, is staged and released here (SourceLintSpec);
  *  - lineage-cap cadence: [[LineageCap]] rounds between cuts, or
  *    every round for a step that re-reads its state;
  *  - block release: a superseded cut is released as soon as its
  *    successor has materialized, and everything a call staged is
  *    released when it returns or throws, except the blocks its
  *    lazily returned plan reads;
  *  - the broadcast gate for node-sized state tables
  *    ([[broadcastIfFits]]).
  * Per-round metrics (change counts, L1 totals, row counts) ride the
  * staging job as `observe` metrics, so they cost no extra job. */
private[graft] object Fixpoint {

  /** Rounds between lineage cuts for a step that reads its state once
    * per round. Each uncut round nests one more join+aggregate, so
    * analysis cost grows superlinearly with the gap, and
    * [[Graph.bfsHops]] reads its state twice per round, so its uncut
    * plan doubles per round. A cut never changes a value. */
  val LineageCap = 5

  /** An eager row-block cut whose blocks stay with the returned plan
    * (the ContextCleaner frees them once the plan is unreachable):
    * for results, so that everything they were built from can be
    * released before the caller runs an action. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  private def backing(staged: DataFrame): Option[RDD[_]] = {
    val leaf = staged.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd
    }
    // a missing leaf silently degrades every release to the GC-deferred
    // lifecycle: surface a Spark-upgrade plan-shape change once
    if (leaf.isEmpty && leafWarned.compareAndSet(false, true))
      System.err.println(
        "[graft] Fixpoint: no LogicalRDD leaf under localCheckpoint — " +
          "deterministic block release is DISABLED (GC-freed lifecycle); " +
          "a Spark upgrade likely changed the checkpoint plan shape")
    leaf
  }

  private val leafWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One staged table: a row-block cut, or a columnar cache entry. */
  private final case class Staged(df: DataFrame, columnar: Boolean) {
    def free(): Unit =
      if (columnar) df.unpersist(blocking = false)
      else backing(df).foreach(_.unpersist(blocking = false))
  }

  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** The blocks staged by one operator call (see [[scoped]]). */
  final class Blocks private[Fixpoint] () {
    private var owned = List.empty[Staged]

    /** Stage `df` eagerly. `metrics` (aggregates over `df`'s rows) are
      * observed on the staging job itself and returned as one row;
      * without metrics the row is empty. */
    def stage(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
      val name = s"graft_fixpoint_${observations.incrementAndGet()}"
      val run =
        if (metrics.isEmpty) df else df.observe(name, metrics.head, metrics.tail: _*)
      // registered before it fills, so a failing job still leaves the
      // cut to the call's release; counting the backing RDD fills it in
      // the one job an eager checkpoint runs
      val staged = stageLazy(run)
      backing(staged).fold(staged.count())(_.count())
      (staged,
        if (metrics.isEmpty) Row.empty else run.queryExecution.observedMetrics(name))
    }

    /** Stage `df` lazily: the blocks fill during the first action that
      * reads the result, so that action can double as a test. */
    def stageLazy(df: DataFrame): DataFrame = {
      val staged = df.localCheckpoint(false)
      owned ::= Staged(staged, columnar = false)
      staged
    }

    /** Stage `df` lazily in the columnar cache: the first action that
      * reads the result fills it (a caller that needs it full before
      * its next step counts it). For a table whose consumers each read
      * a column subset, which pruned, compressed scans serve better
      * than full row blocks, or that needs the real size statistics an
      * InMemoryRelation carries. The ContextCleaner never frees a
      * CacheManager entry, so the call always releases it when it
      * returns; a plan still reading it then recomputes it. */
    def stageColumnar(df: DataFrame): DataFrame = {
      val staged = df.persist(StorageLevel.MEMORY_AND_DISK)
      owned ::= Staged(staged, columnar = true)
      staged
    }

    /** Free the blocks of `staged` if this call staged it (reference
      * identity; any other plan is a no-op). Only safe once everything
      * that reads `staged` has materialized. */
    def release(staged: DataFrame): Unit = drop(_.df eq staged)

    private[Fixpoint] def drop(which: Staged => Boolean): Unit = {
      val (gone, kept) = owned.partition(which)
      owned = kept
      gone.foreach(_.free())
    }
  }

  /** One operator call: `body` stages through the given [[Blocks]].
    * When it throws, every staged block is released; when it returns,
    * every columnar stage and every row-block cut the returned plan
    * does not read is released. A lazily returned plan thus keeps
    * exactly its own cuts (freed by the ContextCleaner with the plan),
    * and an eager result from [[materialize]] keeps none of the
    * call's. */
  def scoped(body: Blocks => DataFrame): DataFrame = {
    val blocks = new Blocks
    val out =
      try body(blocks)
      catch {
        case scala.util.control.NonFatal(e) => blocks.drop(_ => true); throw e
      }
    val read = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    blocks.drop(s => s.columnar || !backing(s.df).exists(r => read.exists(_ eq r)))
    out
  }

  /** Run `rounds` supersteps of `step` from `init` and return the
    * final state. `everyRound` cuts every round, the last included: for
    * a step that re-reads its state (an unmaterialized chain re-runs
    * each round once per read) or whose rounds are corpus-sized to
    * recompute. Otherwise a cut lands every [[LineageCap]] rounds,
    * never after the last (the caller consumes the final state once).
    * Each cut releases the one it supersedes (`init` included, when
    * `blocks` staged it). */
  def iterate(
      blocks: Blocks, init: DataFrame, rounds: Int, everyRound: Boolean = false)(
      step: DataFrame => DataFrame): DataFrame =
    loop(blocks, init, rounds, everyRound, Nil)(step)._1

  /** Fixpoint loop: every round is cut, with `changed` (an aggregate
    * over the step's output counting the rows the round changed)
    * observed on the staging job; the loop stops after the first round
    * that changed nothing. The state keeps `init`'s columns, so a step
    * may emit helper columns for `changed`. `None` when `maxRounds` ran
    * out first. */
  def converge(
      blocks: Blocks, init: DataFrame, maxRounds: Int, changed: Column)(
      step: DataFrame => DataFrame): Option[DataFrame] = {
    val (state, converged) =
      loop(blocks, init, maxRounds, everyRound = true, Seq(changed))(step)
    if (converged) Some(state) else None
  }

  private def loop(
      blocks: Blocks, init: DataFrame, rounds: Int, everyRound: Boolean,
      metrics: Seq[Column])(step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    val columns = init.columns.toSeq.map(c => col(s"`$c`"))
    var state = init
    var lastCut = init
    var round = 0
    var converged = false
    while (!converged && round < rounds) {
      round += 1
      state = step(state)
      if (everyRound || (round % LineageCap == 0 && round < rounds)) {
        val (staged, m) = blocks.stage(state, metrics: _*)
        blocks.release(lastCut)
        lastCut = staged
        state = if (metrics.isEmpty) staged else staged.select(columns: _*)
        converged = metrics.nonEmpty && (m.isNullAt(0) || m.getLong(0) == 0L)
      }
    }
    (state, converged)
  }

  /** Driver heap bytes of one collected row of `schema`. An UnsafeRow
    * keeps its fields in one byte array: a null bitset (8 bytes per 64
    * fields), an 8-byte word per field, and each variable-width value
    * after them, taken at its type's `defaultSize` rounded up to a word.
    * The row object, the array's header and the reference that holds
    * the row add [[RowHeaderBytes]]. */
  def rowBytes(schema: StructType): Long = {
    val variable = schema.fields.iterator.map(_.dataType)
      .filterNot(UnsafeRow.isFixedLength).map(t => (t.defaultSize + 7L) / 8 * 8).sum
    RowHeaderBytes + UnsafeRow.calculateBitSetWidthInBytes(schema.size) +
      8L * schema.size + variable
  }

  /** A 40-byte UnsafeRow object, a 16-byte array header and an 8-byte
    * reference (compressed oops take less). */
  val RowHeaderBytes = 64L

  /** Whether `rows` rows of `schema` may be collected to the driver:
    * while their [[rowBytes]] fit in `spark.driver.maxResultSize` (0 =
    * unlimited). The broadcast gate and `QcSession`'s working window
    * share this rule. A broadcast's hashed relation holds its rows
    * without per-row objects, so for the narrow state tables the gate
    * broadcasts, the headers the estimate counts cover that copy. */
  def fitsDriver(rows: Long, schema: StructType, maxResultSize: Long): Boolean =
    maxResultSize <= 0 || BigInt(rows) * rowBytes(schema) <= maxResultSize

  /** The session's `spark.driver.maxResultSize` in bytes. */
  def maxResultSize(s: SparkSession): Long =
    s.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")

  /** Whether a state table of `rows` rows of `schema` may be
    * broadcast: never when the session disabled broadcast joins
    * (`spark.sql.autoBroadcastJoinThreshold` = -1); otherwise only
    * while it [[fitsDriver]]. A BroadcastExchange collects the table to
    * the driver every round under that limit. Above the gate the join
    * falls back to a shuffled one: slower, never a driver failure. */
  def broadcastFits(
      rows: Long, schema: StructType, broadcastEnabled: Boolean,
      maxResultSize: Long): Boolean =
    broadcastEnabled && fitsDriver(rows, schema, maxResultSize)

  /** `t` with a broadcast hint when [[broadcastFits]] allows it for
    * `rows` rows of `t`'s schema under `t`'s session configuration.
    * Without the hint a state table descending from checkpoint leaves
    * has no usable size statistics, so Spark sort-merge-joins it and
    * re-exchanges the edge side every round. */
  def broadcastIfFits(t: DataFrame, rows: Long): DataFrame =
    if (broadcastAllowed(t.sparkSession, rows, t.schema)) broadcast(t) else t

  /** [[broadcastFits]] for `rows` rows of `schema` under `s`'s
    * configuration. */
  def broadcastAllowed(s: SparkSession, rows: Long, schema: StructType): Boolean =
    broadcastFits(rows, schema,
      !s.conf.get("spark.sql.autoBroadcastJoinThreshold").trim.startsWith("-"),
      maxResultSize(s))
}
