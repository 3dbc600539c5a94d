package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.qc.{FlagSchema, QcActions, QcFlags}

/** Structured-Streaming extension (SURVEY §7.5; the reference is batch
  * + human-in-the-loop, §2.10 — this is the beyond-parity continuous
  * ingest path): flag assignment applied on the fly to a stream, plus
  * watermarked tumbling-window QC statistics, so a 100 TB/day feed
  * arrives already carrying the reference's flag-column data model.
  *
  * Both transforms are standard streaming-safe shapes: addFlags is
  * stateless (narrow projection); the progress aggregation is a
  * watermarked event-time window group-by (bounded state, late data
  * dropped past the watermark).
  */
object QcStream {

  import FlagSchema._

  /** Stateless streaming flag init: the P1 projection applied to a
    * streaming df (works unchanged — `when`/`isnull` are
    * streaming-safe). Rule-based auto-flagging composes the same way:
    * pass `autoFlag` predicates (keyed by variables in `vars`) mapping
    * to ManualFlag; they write through [[QcActions.flagSelected]], so
    * the flag columns keep their metadata. */
  def withFlags(
      stream: DataFrame,
      vars: Seq[String],
      autoFlag: Map[String, org.apache.spark.sql.Column] = Map.empty,
      suffix: String = AutoSuffix): DataFrame = {
    require(autoFlag.keySet.subsetOf(vars.toSet),
      s"withFlags: autoFlag names variables outside vars: ${autoFlag.keySet -- vars}")
    val sfx = resolveSuffix(stream, suffix)
    autoFlag.foldLeft(QcFlags.addFlags(stream, vars, sfx)) { case (df, (v, bad)) =>
      QcActions.flagSelected(df, v, bad, sfx)
    }
  }

  /** Streaming exact dedup: drop duplicate keys arriving within the
    * watermark delay (`dropDuplicatesWithinWatermark` keeps state
    * bounded — the streaming face of the batch exact-dedup operator;
    * late duplicates beyond the watermark are the documented
    * trade-off). */
  def streamingExactDedup(
      stream: DataFrame,
      keys: Seq[String],
      t: String,
      watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(t, watermark).dropDuplicatesWithinWatermark(keys)

  /** Streaming near-exact text dedup: keyed on the whitespace-
    * insensitive rolling-hash fingerprint instead of the raw text, so
    * trivially-reformatted duplicates dedup too and the state key is a
    * long, not a document. Composes [[graft.pipeline.TextAnalysis]]
    * with `dropDuplicatesWithinWatermark` — bounded state. */
  def streamingFingerprintDedup(
      stream: DataFrame,
      textCol: String,
      t: String,
      watermark: String = "1 hour",
      fpCol: String = "__fp"): DataFrame =
    stream
      .withColumn(fpCol,
        graft.pipeline.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(t, watermark)
      .dropDuplicatesWithinWatermark(fpCol)
      .drop(fpCol)

  /** Streaming incremental filter: keys arriving on the stream that
    * are NOT in the static known-key table (stream-static LEFT ANTI —
    * stateless, the static side broadcasts), then exact-deduped
    * within the watermark so each new key emits once. The streaming
    * face of [[graft.pipeline.Dedup.incrementalJaccardPairs]]'s
    * batch-vs-corpus mode: state is one timestamp per NEW key, the
    * standing corpus never enters the state store. */
  def streamingNewKeys(
      stream: DataFrame,
      known: DataFrame,
      keys: Seq[String],
      t: String,
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    streamingExactDedup(
      stream.join(broadcast(known), keys, "left_anti"), keys, t, watermark)
  }

  /** Stream-static enrichment: broadcast-join a static dimension onto
    * a stream. Stream-static joins are STATELESS — every micro-batch
    * joins against the static snapshot, no watermark or state store
    * involved — so this composes freely with watermarked aggregation
    * downstream. The dimension is broadcast explicitly: at cluster
    * scale the stream side never shuffles for the join. */
  def enrichStatic(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      joinType: String = "left_outer"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Streaming face of the batch curation chain
    * ([[graft.pipeline.Curation]]): PII scrub → token-count quality
    * gate → exact-content dedup within the watermark → deterministic
    * split assignment. Everything but the dedup is stateless; the
    * dedup's state is one long per unique document inside the
    * watermark, so a 100 TB/day feed arrives scrubbed, gated, deduped,
    * and already routed to train/val/test.
    *
    * The dedup keys on the EXACT scrubbed text (via xxhash64), not the
    * whitespace-insensitive fingerprint: with a fingerprint key, two
    * reformatted variants of one document would racily keep either
    * one while `md5(text)`-keyed splits differ between them — the
    * output would depend on arrival order. Exact-content keying makes
    * the (dedup, split) pair consistent; chain
    * [[streamingFingerprintDedup]] upstream if whitespace-variant
    * collapsing is wanted. Decontamination joins stay batch (the
    * benchmark set is static — run them on the landed output). */
  def streamingCurate(
      stream: DataFrame,
      textCol: String,
      t: String,
      splitKeyCol: String,
      minTokens: Int = 20,
      watermark: String = "1 hour",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    val scrubbed = stream
      .withColumn(textCol, graft.pipeline.Curation.scrubPii(col(textCol)))
      .withColumn("n_tokens",
        graft.pipeline.TextAnalysis.nTokens(col(textCol)).cast("long"))
      .filter(col("n_tokens") >= minTokens)
    val deduped = scrubbed
      .withColumn("__th", xxhash64(col(textCol)))
      .withWatermark(t, watermark)
      .dropDuplicatesWithinWatermark("__th")
      .drop("__th")
    graft.pipeline.Curation.withSplit(deduped, splitKeyCol, splits)
  }

  /** Per-key session state for [[streamingSessionize]]: the current
    * session's id and the last event time seen. */
  case class SessionState(sessionId: Long, lastTs: Long)

  /** Session assignment output row. */
  case class SessionAssign(key: Long, ts: java.sql.Timestamp, sessionId: Long)

  /** Streaming sessionization via `flatMapGroupsWithState` — the
    * custom-state face of the batch [[graft.timeseries.TimeSeriesOps
    * .sessionize]]: events more than `gapSecs` after the key's previous
    * event open a new session. State per key is two longs (bounded by
    * key cardinality, evicted after `stateTimeout` idle); events within
    * a micro-batch are processed in event-time order. Unlike the batch
    * operator this assigns ids incrementally — no global shuffle-sort
    * per recompute.
    *
    * Session ids are the session's OPENING event time (epoch millis),
    * not a 0-based counter: a counter would restart at 0 after a
    * state-timeout eviction and silently collide with the key's
    * earlier sessions. Start-time ids stay unique across evictions
    * (two sessions of one key cannot open in the same millisecond —
    * they are `gapSecs` apart by construction).
    *
    * Caveats (documented): cross-batch late data older than the key's
    * `lastTs` is appended to the CURRENT session rather than splitting
    * history — the streaming trade-off; use the batch operator for
    * reprocessing. With `stateTimeout` set, idle keys are evicted on
    * processing-time timeouts, but the engine then triggers continuous
    * timeout-check batches — fine under a real trigger, but
    * `processAllAvailable()` never settles, so tests use the
    * no-timeout default.
    */
  def streamingSessionize(
      stream: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      gapSecs: Double,
      stateTimeout: Option[String] = None): org.apache.spark.sql.Dataset[SessionAssign] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import stream.sparkSession.implicits._
    def assign(
        key: Long,
        events: Iterator[(Long, java.sql.Timestamp)],
        state: GroupState[SessionState]): Iterator[SessionAssign] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var s = state.getOption.getOrElse(SessionState(Long.MinValue, Long.MinValue))
        val out = events.toSeq.sortBy(_._2.getTime).map { case (_, ts) =>
          val t = ts.getTime
          s =
            if (s.sessionId == Long.MinValue || (t - s.lastTs) / 1000.0 > gapSecs)
              SessionState(t, t) // new session, id = opening event time
            else s.copy(lastTs = math.max(s.lastTs, t))
          SessionAssign(key, ts, s.sessionId)
        }
        state.update(s)
        stateTimeout.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    stream.groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (stateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(assign)
  }

  /** Watermarked tumbling-window flag histogram per variable — the
    * streaming qc_progress: for each event-time window, counts by flag
    * class. State is bounded by the watermark; output mode append once
    * windows close. */
  def windowedProgress(
      flagged: DataFrame,
      t: String,
      v: String,
      windowWidth: String = "1 hour",
      watermark: String = "2 hours",
      suffix: String = AutoSuffix): DataFrame = {
    val f = col(flagCol(v, resolveSuffix(flagged, suffix)))
    val classes = Seq(Approved -> "n_approved", Unchecked -> "n_unchecked",
      OrigNA -> "n_missing", ManualFlag -> "n_flagged")
    flagged
      .withWatermark(t, watermark)
      .groupBy(window(col(t), windowWidth).as("win"))
      .agg(count(lit(1)).as("n_rows"), classes.map { case (flag, name) =>
        sum(when(f === flag, 1L).otherwise(0L)).as(name) }: _*)
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("n_rows"), col("n_approved"), col("n_unchecked"),
        col("n_missing"), col("n_flagged"))
  }
}
