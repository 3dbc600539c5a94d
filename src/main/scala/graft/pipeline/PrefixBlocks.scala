package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic lifecycle for the prefix-dedup family's materialized
  * intermediates (the ranked-prefix table, the prefix-signature table,
  * the exact-collapse's groups/reps tables) — replaces the earlier
  * GC-freed contract, under which a long interactive session issuing
  * repeated prefix-dedup calls accumulated one doc-count-sized block
  * set per LIVE returned plan until the ContextCleaner happened to
  * run.
  *
  * Contract: each top-level prefix-dedup call
  * ([[Dedup.prefixJaccardPairs]], [[Dedup.prefixJaccardCandidatePairs]],
  * [[Dedup.prefixJaccardPairsCollapsed]],
  * [[Dedup.incrementalJaccardPairs]]) RELEASES the previous call's
  * staged blocks ON THE SAME (session, thread) before staging its own,
  * so executor storage holds at most ONE call's block set per calling
  * thread no matter how many calls it issues (ShuffleBudgetSpec locks
  * this). Keying by thread, not just session, is what makes concurrent
  * calls on a shared session safe: a call on thread B never retires
  * thread A's in-flight blocks. The corollary the caller must honor:
  * CONSUME a call's result before issuing the next prefix-dedup call
  * on the same session+thread — a plan retained across calls throws on
  * re-execution once its blocks retire (the cc_star round-release
  * pattern, applied across calls). [[release]] frees the session's
  * sets across all threads immediately for sessions done deduping.
  *
  * Storage format is PER TABLE SHAPE AND SCALE — all A/B-measured:
  *  - [[stageRows]] ([[Fixpoint.stageRowBlocks]] row blocks, release
  *    handle kept): the collapse's text-carrying tables.
  *    The columnar cache's write + per-consumer read conversion
  *    measured +0.7 s/call at sf0.1 on them (min-of-4 A/B) — full
  *    rows are what every consumer reads anyway.
  *  - [[stageColumnar]] (CacheManager `persist`): the big EXPLODED
  *    narrow prefix table, whose five consumers each read a column
  *    subset. Row blocks deserialize full rows per consumer and
  *    measured 12.2 s vs 2.4 s on the 10× replica corpus's
  *    dedup_prefix — column pruning + compression win with ~10⁷
  *    exploded rows, and the gap WIDENS with scale, so columnar is
  *    the 100 TB-side choice.
  *  - [[stageAdaptive]] (what the prefix/sig call sites actually use)
  *    picks between them on the optimizer's size estimate: the
  *    columnar write + eager count + read-conversion tax that buys
  *    the pruning win at 10⁷ rows is a dead loss at gate scale — the
  *    round-13 interleaved staircase bisect isolated the sf0.1
  *    dedup_prefix bench regression (1.56 → 2.05 s session-min with
  *    flat q1_agg controls, 3 cycles × 5 trees on one host) to
  *    exactly the commit that made columnar unconditional. The
  *    estimate is plan-stats (source-file-size-derived, linear in
  *    corpus: ~0.9 MB at sf0.1, ~9 MB at the 10× replica), so the
  *    default 4 MiB threshold splits the two measured regimes with
  *    a decade of margin on each side.
  *
  * Nested entry points (the collapse calls the pair join, which calls
  * the candidate stage) share ONE scope via a thread-local depth: the
  * inner call must not retire the outer call's still-referenced
  * groups/reps tables.
  */
object PrefixBlocks {
  // Release thunks (a Dataset.unpersist or a backing-RDD unpersist),
  // keyed per (session, CALLING THREAD): Spark explicitly supports
  // concurrent actions on a shared session, and a session-only key let
  // a prefix-dedup call on thread B retire thread A's IN-FLIGHT staged
  // blocks — columnar stages recompute, but stageRows blocks
  // (localCheckpoint) are non-replayable, so thread A's running job
  // failed with SparkException. With the thread in the key, scoped()
  // only ever retires blocks staged by a COMPLETED call on the same
  // thread; concurrent callers each hold exactly their own one set.
  // (A WeakHashMap on the session can't replace the stopped-context
  // sweep below: the thunks close over Datasets/RDDs that reference
  // the session, so the value would strongly reach the key and the
  // entry would never collect.)
  private val live =
    scala.collection.mutable.Map.empty[(SparkSession, Long), List[() => Unit]]
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  /** Run `body` as one prefix-pipeline call scope: retire THIS
    * THREAD's previous top-level call's blocks, adopt everything staged
    * inside. A failed call releases its own partial stages (nothing
    * leaks from a mid-build exception). */
  private[pipeline] def scoped[T](s: SparkSession)(body: => T): T =
    if (depth.get > 0) body
    else {
      releaseKey((s, Thread.currentThread().getId)) // previous call on
      // THIS thread retires here — deterministic, never cross-thread
      depth.set(1)
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          releaseKey((s, Thread.currentThread().getId)); throw e
      } finally depth.set(0)
    }

  /** Materialize `df` once as ROW blocks (eager localCheckpoint) and
    * track its backing RDD for release at the next top-level
    * prefix-dedup call. For text-carrying tables whose consumers read
    * full rows.
    *
    * The returned plan carries a [[RetiredStageGuardRDD]] shim: row
    * blocks are non-replayable, so a result plan RETAINED across the
    * next top-level call (the contract violation documented above)
    * used to die on re-execution with an opaque block-manager
    * SparkException from deep inside Spark — the guard rethrows it
    * naming the contract, so the caller learns what to fix instead of
    * chasing a storage bug. The guard costs one iterator indirection
    * per partition and preserves the checkpoint's partitioning
    * (rebuilt via `LogicalRDD.fromDataset`, the constructor
    * `Dataset.checkpoint` itself uses). */
  private[pipeline] def stageRows(df: DataFrame): DataFrame = {
    val (c, release) = Fixpoint.stageRowBlocks(df)
    val retired = new java.util.concurrent.atomic.AtomicBoolean(false)
    track(c.sparkSession, List(() => { retired.set(true); release() }))
    org.apache.spark.sql.GraftColumnBridge.mapCheckpointRdd(
      c, r => new RetiredStageGuardRDD(r, retired))
  }

  /** Materialize `df` once in the COLUMNAR cache (persist + count) and
    * track it for release at the next top-level prefix-dedup call.
    * For wide-fan-out narrow tables whose consumers each read a column
    * subset (pruned, compressed scans). Bonus vs row blocks: a
    * retained plan re-executed after release recomputes instead of
    * throwing (CacheManager, replayable). */
  private[pipeline] def stageColumnar(df: DataFrame): DataFrame = {
    val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    c.count()
    track(c.sparkSession, List(() => { c.unpersist(blocking = false); () }))
    c
  }

  /** Default [[stageAdaptive]] threshold: the optimizer's estimate is
    * ~0.9 MB for the sf0.1 prefix table (where row blocks win the A/B)
    * and ~9 MB at the 10× replica (where columnar wins 12.2 → 2.4 s),
    * both linear in source bytes — 4 MiB splits the measured regimes
    * with a decade of margin each side. Overridable for tests and
    * deployments via `-Dgraft.prefix.columnarMinBytes=N`. */
  val DefaultColumnarMinBytes: Long = 4L << 20

  /** Second [[stageAdaptive]] signal: corpus row count at which
    * columnar wins regardless of the bytes estimate. Needed because
    * SOURCE BYTES ARE NOT A ROW PROXY UNDER COMPRESSION — the r13
    * stress rerun caught the bytes-only gate choosing row blocks on
    * the 10× replica (10× the docs compress to only 2.9× the parquet
    * bytes; near-duplicate text is what a dedup corpus IS), which
    * re-created the 12 s row-block penalty the columnar path exists
    * to avoid. 10× replica = 10,710 corpus docs (columnar measured
    * 5× faster), sf0.1 = 1,071 (rows measured faster): 4,000 splits
    * them. Overridable via `-Dgraft.prefix.columnarMinDocs=N`. */
  val DefaultColumnarMinDocs: Long = 4000L

  private def columnarMinBytes: BigInt = BigInt(
    sys.props.get("graft.prefix.columnarMinBytes").map(_.toLong)
      .getOrElse(DefaultColumnarMinBytes))

  private def columnarMinDocs: Long =
    sys.props.get("graft.prefix.columnarMinDocs").map(_.toLong)
      .getOrElse(DefaultColumnarMinDocs)

  // test hooks: how many stagings each format has taken in this JVM
  private[graft] val columnarStagings = new java.util.concurrent.atomic.AtomicLong
  private[graft] val rowStagings = new java.util.concurrent.atomic.AtomicLong

  /** Stage `df` in the format its SCALE wants: columnar when EITHER
    * scale signal clears its threshold (wide-fan-out pruned scans win
    * and a retained plan recomputes after release), row blocks below
    * both (the eager-count + columnar write/read conversion tax
    * outweighs pruning on small tables; a retained plan then falls
    * under the consume-before-next-call contract and throws the named
    * [[RetiredStageGuardRDD]] error).
    *
    * Two OR'd signals, each covering the other's blind spot:
    *  - the optimizer's size estimate (source-file bytes through plan
    *    stats): free, available before materialization, and the one
    *    that catches long-document corpora whose doc COUNT is small —
    *    but it under-reads highly compressible corpora (near-dup text
    *    compresses 3-4×, and near-dup text is the dedup workload);
    *  - `rowsHint` (the caller's corpus doc count, lazily evaluated —
    *    only paid when the bytes signal is below threshold, so big
    *    corpora never run the count; for parquet-direct inputs it is
    *    metadata-only anyway): compression-independent, and the one
    *    that caught the 10× replica.
    * `rowsHint < 0` means unknown (bytes-only decision). */
  private[pipeline] def stageAdaptive(
      df: DataFrame, rowsHint: => Long = -1L): DataFrame = {
    val columnar =
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= columnarMinBytes || {
        val h = rowsHint
        h >= 0 && h >= columnarMinDocs
      }
    if (columnar) {
      columnarStagings.incrementAndGet()
      stageColumnar(df)
    } else {
      rowStagings.incrementAndGet()
      stageRows(df)
    }
  }

  private def track(s: SparkSession, thunks: List[() => Unit]): Unit =
    synchronized {
      // Opportunistic sweep: a session whose CONTEXT stopped without a
      // final release would otherwise pin its entry (and the session
      // object) for the JVM lifetime of a multi-session driver. Its
      // executor blocks died with the context, so the thunks are just
      // dropped. Same-context sibling sessions aren't detectable this
      // way — such drivers call release(s) when done deduping (the
      // documented contract above).
      live.keys.filter(_._1.sparkContext.isStopped).toList
        .foreach(live.remove)
      val key = (s, Thread.currentThread().getId)
      live(key) = thunks ::: live.getOrElse(key, Nil)
    }

  private def releaseKey(key: (SparkSession, Long)): Unit = {
    val thunks = synchronized { live.remove(key).getOrElse(Nil) }
    thunks.foreach(_.apply())
  }

  /** Free the session's staged blocks now, across ALL calling threads
    * (idempotent) — for sessions done deduping that don't want to wait
    * for each thread's next call. Only safe once no prefix-dedup
    * result plan from this session is still being consumed. */
  def release(s: SparkSession): Unit = {
    val thunks = synchronized {
      val keys = live.keys.filter(_._1 eq s).toList
      keys.flatMap(k => live.remove(k).getOrElse(Nil))
    }
    thunks.foreach(_.apply())
  }

  /** Staged tables currently holding executor blocks, all threads
    * (test hook). */
  def liveCount(s: SparkSession): Int =
    synchronized {
      live.collect { case ((ss, _), ts) if ss eq s => ts.size }.sum
    }
}
