package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup
import graft.qc.{QcAuto, QcFlags, QcProgress}

/** sf1.0-shaped stress check: synthesize a `factor`× (default 10×)
  * replica of the scale-bearing tables from an existing sf dir, run
  * the scale-critical query subset against it, and record per-query
  * timings plus the scaling ratio vs the sf0.1 bench (a ratio ≈ 1
  * means the query scales linearly with data volume; > 2 flags a
  * super-linear plan — the thing that would break at 100 TB).
  *
  * Replicas are NOT byte-copies: document text gets a per-replica
  * suffix (so near-dup detection faces real 10-member duplicate
  * groups), ids are remapped to stay unique, and event series overlap
  * the same time range (denser windows, the realistic growth mode).
  *
  * Run: SPARK_GRAFT_STRESS_X=10 sbt "runMain graft.Stress"
  * (timed through [[Bench.time]]; Bench's SPARK_GRAFT_BENCH_FILTER and
  * SPARK_GRAFT_BENCH_REPS pick the queries and reps, and
  * SPARK_GRAFT_STRESS_100X adds the 100× decade points)
  * Output: STRESS_local.json beside the bench record
  * ([[Bench.artifactPath]]), whose timings it reads
  */
object Stress {

  /** Scale-critical subset: every family with a shuffle/join/window
    * whose behavior could bend super-linearly. The STATEFUL streaming
    * queries are included (sessionization, PSI, anomaly, dedup,
    * decontam, top-k): state-size bugs — state growing with stream
    * length instead of with keys-per-watermark-window — only surface
    * when the drained volume grows, and the 10× replica's denser
    * event series is exactly that growth mode. Micro-batch fixed cost
    * still dominates their small-scale numbers, which INFLATES
    * x_vs_linear denominators' fairness (fixed cost amortizes at 10×),
    * so a stateful leak would show as x_vs_linear ≫ 1, not hide. */
  private val StressQueries = Seq(
    "stream_session_native", "stream_sessionize", "stream_psi",
    "stream_anomaly", "stream_dedup", "stream_decontam", "stream_topk",
    "q1_agg", "q3_join", "q5_region_join", "q6_filter_agg", "q17_small_qty",
    "dedup_exact", "dedup_minhash", "dedup_prefix", "dedup_ngram",
    "dedup_clusters", "dedup_embed",
    "sim_topk_agg", "sim_ivf", "embed_centroids",
    "text_tfidf", "text_langid_ngram", "text_quality",
    "cur_decontam_keep", "cur_pack",
    "auto_mad", "auto_flatline", "ts_rolling", "ts_asof",
    "ts_scd2", "ts_cusum", "ts_ohlc", "text_heavy_hitters",
    "w1_rowid", "m5_approve_unflagged", "a1_progress", "plot_m4", "u1_union",
    "text_perplexity", "text_chunks", "text_quality_clf", "text_rouge",
    // dedup_semdedup_sharded (not the pinned-k flat query) is the
    // scale-bearing SemDeDup: per-shard k derives from shard counts
    "embed_kmeans", "dedup_semdedup_sharded", "mm_phash", "mm_phash_wide",
    "mm_audio_stats",
    "grouped_topk", "cdc_apply", "sketch_cms", "sketch_quantile",
    "layout_zorder", "text_bpe_encode", "ts_retention",
    "graph_pagerank", "graph_kcore", "text_bm25", "text_inverted_index",
    "cur_table_diff", "ivm_merge", "sketch_quantile_grouped", "q4_semi",
    "cur_dsir", "dedup_keep_best", "er_match", "sim_ivfpq", "graph_cc",
    "cur_pack_spans", "dedup_strip_spans", "graph_cc_star",
    "pipeline_curate2", "stream_clf", "dedup_minhash_prune",
    // the remaining iterative/quadratic-risk graph ops: triangles'
    // O(m^1.5) and jaccard's wedge reshape are exactly where a 10×
    // bend would hide, and none of the six had ever been measured
    // under scale (the co-supplier projection's per-order fan-out
    // grows with the replica factor, so these are the harshest
    // entries in the list by construction)
    "graph_lpa", "graph_hits", "graph_ppr", "graph_jaccard",
    "graph_triangles", "graph_bfs",
    // the fully-linear SemDeDup tier (the sharded/IVF tier is above)
    "dedup_semdedup_lsh")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR",
      System.getProperty("java.io.tmpdir") + "/graft_stress")
    val factor = sys.env.getOrElse("SPARK_GRAFT_STRESS_X", "10").toInt
    // RECORDED in the artifact: the 6M semdedup point's volume-sized 64
    // shuffle partitions run 2 waves on 32 threads but 4 on 16 — an
    // invocation at another width exactly doubles the big endpoint
    // (measured 230.4 vs 114.1 s, same code) and fabricates a
    // superlinear "bend" in every within-run big-vs-small control.
    // Scale evidence is only comparable at the recorded thread count.
    val cpus = Bench.cpus
    val spark = Bench.session("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    synthesize(spark, srcDir, outDir, factor)

    // warmup (JIT/codegen), untimed
    spark.read.parquet(s"$outDir/lineitem.parquet").count()

    // STRESS keeps the UNSAMPLED exact triangle count: the registered
    // bench query moved to a node-sampled projection (r14 verdict task
    // 5 — the bench was measuring the near-complete sf0.1 projection's
    // ~1.7e8-triangle output volume, not plan quality), but out here
    // the output-bound O(m^1.5) scaling curve is exactly the claim
    // under test, so the stress point overrides the registry entry.
    val all = SparkEntry.queries + ("graph_triangles" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        SparkEntry.exactTriangles(s, d)))
    // Bench's query filter; a filtered run writes STRESS_partial.json
    val stressNames = StressQueries.filter(Bench.wanted)
    // staging-format audit (Dedup.stagesColumnar): record which
    // staging format the prefix pipeline actually CHOSE at each scale,
    // so "the gate picked columnar at 100×" is a recorded artifact
    // fact, not a probed claim. Deltas of Dedup's staging counters
    // around the measured reps.
    val stagingChoice =
      scala.collection.mutable.Map.empty[String, (Long, Long)]
    def withStagingAudit[A](name: String, scaleKey: String)(body: => A): A =
      if (name != "dedup_prefix") body
      else {
        val c0 = graft.pipeline.Dedup.columnarStagings.get()
        val r0 = graft.pipeline.Dedup.rowStagings.get()
        val out = body
        stagingChoice(scaleKey) = (
          graft.pipeline.Dedup.columnarStagings.get() - c0,
          graft.pipeline.Dedup.rowStagings.get() - r0)
        out
      }
    def stagingJson(scaleKey: String): String =
      stagingChoice.get(scaleKey).fold("") { case (c, r) =>
        s""","columnar_stagings":$c,"row_stagings":$r""" }
    // min-of-reps like Bench (Bench's reps): a single-shot measurement
    // charges one query with codegen compilation + page-cache warmup,
    // and at stress scale that first-run tax reached 2-6× on unlucky
    // queries. Output ROWS are recorded too: several operators
    // (exact-threshold near-dup joins above all) are output-sensitive —
    // dup groups grow with the replica factor, so their output grows
    // ~factor² by construction and time-vs-linear ratios must be read
    // against rows-vs-linear (per_row_x below).
    val results = stressNames.map { name =>
      val t = withStagingAudit(name, "10x") {
        Bench.time(Bench.reps)(Bench.exec(all(name)(spark, outDir)))
      }
      spark.catalog.clearCache()
      t.failure.foreach(e =>
        System.err.println(s"[stress] $name FAILED: ${e.getMessage}"))
      // any failed rep fails the query, as in Bench
      val rows = if (t.failure.isEmpty) t.result.get else -1L
      println(f"[stress] $name%-22s ${t.best}%8.2f s  ($rows%d rows)")
      name -> ((t.best, rows))
    }

    // scaling ratio vs the recorded sf0.1 bench: stress / (bench × factor)
    val benchOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val bench = readBench(Bench.artifactPath(benchOut, None))
    // base-scale OUTPUT rows: several exact-threshold operators are
    // output-sensitive (near-dup pair joins emit every qualifying pair,
    // and the replica corpus grows dup groups, so output grows ~factor²
    // by construction). For those, time-vs-linear must be read against
    // output-vs-linear: `per_row_x` = (sec/row at stress) / (sec/row at
    // base) — the per-output-pair cost ratio, the number that actually
    // says whether the PLAN degrades with scale. Counting base rows
    // costs one cheap base-scale run per query.
    val baseRows: Map[String, Long] = results.map { case (name, _) =>
      name -> (try Bench.exec(all(name)(spark, srcDir))
               catch { case _: Throwable => -1L })
    }.toMap
    val qs = results.map { case (k, (v, rows)) =>
      val ratio = bench.get(k).filter(_ > 0).map(b => v / (b * factor))
      val perRow = for {
        b <- bench.get(k) if b > 0
        br <- baseRows.get(k) if br > 0 && rows > 0
      } yield (v / rows) / (b / br)
      "\"" + k + "\":{\"sec\":" + v + ",\"rows\":" + rows +
        ",\"rows_base\":" + baseRows.getOrElse(k, -1L) +
        ratio.map(r => ",\"x_vs_linear\":" + f"$r%.3f").getOrElse("") +
        perRow.map(r => ",\"per_row_x\":" + f"$r%.3f").getOrElse("") +
        (if (k == "dedup_prefix") stagingJson("10x") else "") + "}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, (v, _)) if v >= 0 => v }.sum
    // candidate-volume audit for the output-sensitive prefix join: the
    // candidates/pairs ratio is the number that says whether the
    // CANDIDATE JOIN (a plan property) or the irreducible output is
    // the cost at scale — recorded at both scales so the claim in the
    // artifact is checkable, not asserted
    val aux =
      if (!stressNames.contains("dedup_prefix")) ""
      else try {
        val cs = Dedup.prefixJaccardCandidatePairs(
          SparkEntry.prefixCorpus(spark, outDir), "doc_id", "text", 0.9).count()
        val cb = Dedup.prefixJaccardCandidatePairs(
          SparkEntry.prefixCorpus(spark, srcDir), "doc_id", "text", 0.9).count()
        s""","aux":{"dedup_prefix_candidates":$cs,"dedup_prefix_candidates_base":$cb}"""
      } catch { case e: Throwable =>
        System.err.println(s"[stress] candidate audit failed: ${e.getMessage}")
        ""
      }
    // 100× stress point for the scale flagships (env-gated: ~20-30 min
    // including the 100× synthesis): 10× catches quadratic blowups,
    // 100× catches memory cliffs and n·log n bends — the claim on the
    // tin is 100 TB. Corpus-driven queries run on a factor-100 replica
    // of the sf dir; `x_vs_10x_per_decade` = sec₁₀₀ / (10 × sec₁₀ from
    // THIS run) — ≈1 means the extra decade cost exactly one decade of
    // time. The other points synthesize their own deterministic inputs
    // at two sizes a decade apart (see [[decade]] below).
    // Optional regex selecting WHICH 100× points run (synthetic decade
    // points and corpus queries both) — targeted retiming without the
    // full ~30-min block. A subset run writes to STRESS_partial.json:
    // the committed STRESS_local.json is a coherent single-run record
    // and a partial run must never silently replace it (same rule as
    // the 10× query filter, enforced by path).
    val points100 = sys.env.get("SPARK_GRAFT_STRESS_100X_POINTS").map(_.r)
    def pointWanted(name: String): Boolean =
      points100.forall(_.findFirstIn(name).isDefined)
    val artifactPath = Bench.artifactPath(benchOut, Some(
      if (points100.isDefined || Bench.nameFilter.isDefined) "STRESS_partial.json"
      else "STRESS_local.json"))
    // Checkpoint the artifact BEFORE the env-gated 100× block: a 100×
    // failure mode is a wedged JVM (e.g. an OOM killing a dispatcher
    // thread — jobs then hang rather than throw), and without this
    // write a ~30-min 10× measurement would die with it. The final
    // write below replaces this file with the aux_100x-extended line.
    // Run-level taint: set once any FATAL JVM error (OOM, stack
    // overflow, linkage) escapes a 100× point — later timings on a
    // possibly-degraded JVM must not read as clean measurements.
    var fatalTainted = false
    def record(extra: String): String =
      s"""{"metric":"stress_total","value":$total,"unit":"sec","factor":$factor,"base":"$srcDir","cpus":$cpus,"driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"${if (fatalTainted) ""","tainted":true""" else ""},"queries":$qs$aux$extra}"""
    def writeArtifact(extra: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(artifactPath),
        record(extra).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (sys.env.contains("SPARK_GRAFT_STRESS_100X")) writeArtifact("")
    val aux100 = sys.env.get("SPARK_GRAFT_STRESS_100X").map { _ =>
      // Fragments accumulate here and the artifact is REWRITTEN after
      // every completed (or failed) point, so a failure in the last
      // point keeps every earlier expensive measurement. Each point is
      // individually guarded — a failure emits an explicit FAILED
      // marker and the block moves on.
      val auxParts = scala.collection.mutable.ArrayBuffer[String]()
      def assembled: String =
        if (auxParts.isEmpty) "" else s""","aux_100x":{${auxParts.mkString(",")}}"""
      def guarded(name: String)(body: => String): Unit =
        if (pointWanted(name)) {
          // NonFatal only on the continue-and-mark path: a fatal JVM
          // error (OOM that killed a dispatcher thread, linkage error)
          // leaves a degraded JVM whose later timings are fiction —
          // taint the whole artifact, checkpoint it, and rethrow so
          // the run dies loudly instead of recording clean-looking
          // numbers on a broken heap.
          try auxParts += body
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[stress100] $name FAILED: ${e.getMessage}")
              auxParts += s""""$name":{"failed":true}"""
            case e: Throwable =>
              System.err.println(s"[stress100] $name FATAL: $e")
              auxParts += s""""$name":{"failed":true,"fatal":true}"""
              fatalTainted = true
              writeArtifact(assembled)
              throw e
          }
          writeArtifact(assembled)
        }
      val corpusNames = Seq("dedup_strip_spans", "stream_session_native",
        "dedup_prefix").filter(pointWanted)
      val dir100 = outDir + "_100x"
      if (corpusNames.nonEmpty) {
        synthesize(spark, srcDir, dir100, 100)
        spark.read.parquet(s"$dir100/lineitem.parquet").count()
      }
      // UNTIMED block-boundary reclaim: the synthetic points drop their
      // result references (eager localCheckpoints) on return, but the
      // blocks only release when driver GC feeds the ContextCleaner —
      // and the 100× section runs enough decade pairs back-to-back that
      // the accumulated pinned generations squeezed execution memory to
      // ZERO mid-window-sort (r12: UNABLE_TO_ACQUIRE_MEMORY in the 600K
      // semdedup point on a 32 GiB heap, AFTER the 6M warmup passed —
      // pressure, not working set). Production code releases its own
      // staged blocks deterministically (Fixpoint's call scopes);
      // this reclaims what the HARNESS retains: measurement hygiene at
      // a timing boundary, outside every timed region.
      def reclaim(): Unit = {
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(1500) // let the async ContextCleaner drain
      }
      // EVERY synthetic timing is min-of-2 (the suite's steady-state
      // protocol): single-shot points mixed cold-JIT small runs against
      // warm big runs — round 9's semdedup decade numbers swung
      // 1.06 → 0.77 across rounds on exactly that asymmetry. Returns
      // the seconds and the run's output count; a failed rep fails the
      // point with that rep's error.
      def minOf2(run: => Long): (Double, Long) = {
        val t = Bench.time(2, reclaim())(run)
        t.failure.foreach(e => throw e)
        (t.secs.min, t.result.get)
      }
      // Volume-sized shuffle width for a given row count (~100K rows a
      // task, 16 at least) — the drainToTable statePartitions argument,
      // batch edition: a deployment sizes width to volume, it does not
      // run 6M rows through partitions sized for the sf0.1 suite.
      // Measured: semdedup at 6M through 16 partitions was GC-BIMODAL
      // (131 / 213 / 221 s across same-code runs) where the 64-wide run
      // was stable within ±5%; minhash at 6M through 16 partitions read
      // 2.657/decade with candidate volume EXACTLY linear (60,000 →
      // 600,063) — spill and GC, not a plan bend.
      def volumeSized[A](n: Long)(body: => A): A = {
        val w = math.max(16L,
          java.lang.Long.highestOneBit(n / 100000L) * 2).toString
        val spKey = "spark.sql.shuffle.partitions"
        val spPrev = spark.conf.get(spKey)
        try { spark.conf.set(spKey, w); body }
        finally spark.conf.set(spKey, spPrev)
      }
      // cc_star runs FIRST (before the 100× corpus queries too): besides
      // being its own decade point it is the within-run DRIFT CONTROL
      // for every point after it — its committed quiet-host value is
      // 0.66/decade, and a run whose cc control lands far off that band
      // (±0.1) is measuring the host, not the code.
      var ccControl: Option[Double] = None
      def ccControlJson: String =
        ccControl.fold("")(c => s""","cc_star_control_x_per_decade":${f"$c%.3f"}""")
      type Run = (Double, Long)
      /** One decade point: untimed warm-up runs at `warm` sizes (the
        * FIRST synthetic run pays whole-pipeline codegen and C2
        * compilation — a 5.4 vs 8.9 s swing on the small cc endpoint —
        * and the first full-scale run pays heap expansion: 200.7 s
        * first vs 96.4 s second for semdedup at 6M), then min-of-2 at
        * `small` and `big`, their per-decade ratio, a stdout line and
        * the JSON entry with the point's `extra` fields and the cc
        * control. `sized` runs every size at its volume-sized width.
        * Returns the ratio. */
      def decade(name: String, unit: String, small: Long, big: Long,
          warm: Seq[Long] = Nil, sized: Boolean = false,
          extra: (Run, Run) => String = (_, _) => "")(
          run: Long => Long): Option[Double] = {
        var ratio = Option.empty[Double]
        guarded(name) {
          def at[A](n: Long)(body: => A): A =
            if (sized) volumeSized(n)(body) else body
          warm.foreach { n => at(n)(run(n)); reclaim() }
          val s = at(small)(minOf2(run(small)))
          val b = at(big)(minOf2(run(big)))
          val x = b._1 / (s._1 * (big.toDouble / small))
          val more = extra(s, b)
          println(f"[stress100] $name: $small%d $unit ${s._1}%.2f s, " +
            f"$big%d $unit ${b._1}%.2f s, per-decade $x%.3f $more")
          ratio = Some(x)
          s""""$name":{"${unit}_small":$small,"sec_small":${f"${s._1}%.2f"},"${unit}_big":$big,"sec_big":${f"${b._1}%.2f"},"x_per_decade":${f"$x%.3f"}$more$ccControlJson}"""
        }
        ratio
      }
      // cc_star, pageRank and HITS share one generator: node ids grow
      // with the edge count (n = m/3), so degree stays bounded at both
      // endpoints. A synthetic graph, not the 100× corpus: the
      // co-supplier projection's per-order pair fan-out grows
      // quadratically in the replica factor, so the corpus would measure
      // the fixture's explosion, not the operator's scaling (expected
      // per-decade for cc_star is log(10n)/log(n) ≈ 1.1 — rounds grow
      // logarithmically while per-round work is linear).
      def edgesOf(m: Long) = spark.range(m).select(
        pmod(xxhash64(col("id")), lit(m / 3)).as("src"),
        pmod(xxhash64(col("id") + m), lit(m / 3)).as("dst"))
      ccControl = decade("graph_cc_star_synth", "edges", 1800000L, 18000000L,
          warm = Seq(180000L)) { m =>
        graft.pipeline.Graph.connectedComponentsStar(edgesOf(m), "src", "dst").count()
      }
      // MinHash-LSH — right after its control (this VM class drifts
      // 1.2–2× with uptime, so the retiming belongs at the front). The
      // banding bucket-join is exactly where a quadratic term would hide
      // (a hot band bucket joins c² pairs); the flood cap bounds it by
      // construction, and this pins that claim at a decade. Corpus: a
      // constant 1000-word vocab (so the shingle space — and with it
      // bucket occupancy statistics — is scale-invariant) with a 1-in-10
      // near-dup rate: doc 10k+1 repeats doc 10k's 30 tokens with the
      // LAST REPLACED (27 of its 28 3-shingles shared, union 29,
      // J ≈ 0.93 > 0.5), so TRUE pairs grow exactly linearly (n/10,
      // verified in the output count) while independent docs stay far
      // below threshold.
      def dupTexts(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("w"), pmod(xxhash64(
            (when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id")))
              * 31 + i
              + when(col("id") % 10 === 1 && i === 29, lit(999983L))
                .otherwise(lit(0L))),
            lit(1000))))).as("text"))
      decade("dedup_minhash_synth", "docs", 600000L, 6000000L,
          warm = Seq(60000L, 6000000L), sized = true,
          extra = { case ((_, pairsS), (_, pairsB)) =>
            // UNTIMED candidate-volume audit at both endpoints: the
            // verified-pair count alone cannot bound the banding join's
            // work (false-positive candidates and flood-cap drops are
            // invisible to it)
            def cands(n: Long): Long = volumeSized(n) {
              val c = graft.pipeline.Dedup.minHashCandidatePairs(
                dupTexts(n), "doc_id", "text",
                shingleN = 3, numHashes = 128, bands = 32).count()
              reclaim()
              c
            }
            val cS = cands(600000L); val cB = cands(6000000L)
            s""","pairs_small":$pairsS,"candidates_small":$cS,"pairs_big":$pairsB,"candidates_big":$cB,"candidate_ratio":${f"${cB.toDouble / cS}%.3f"}"""
          }) { n =>
        graft.pipeline.Dedup.minHashNearDupPairs(
          dupTexts(n), "doc_id", "text",
          shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5).count()
      }
      // withRowId (the r15 bucket redesign at sizes the replica tables
      // never reach): the operator's claim is ONE data shuffle — a
      // percentile_approx boundary aggregate, the bucket-keyed window
      // sort, and a catalog-sized offsets broadcast, each linear or
      // constant by construction. Input: a pseudo-random rangeable key
      // + unique tiebreaker — exactly the (ts, event_id) caller shape.
      decade("w1_rowid_synth", "rows", 1000000L, 10000000L,
          warm = Seq(100000L, 10000000L)) { n =>
        Bench.exec(graft.qc.QcWindows.withRowId(spark.range(n).select(
          pmod(xxhash64(col("id")), lit(1000000000L)).as("k"),
          col("id").as("event_id")), Seq("k", "event_id")))
      }
      // The QC session's save (QcSession.compact) folds every pending
      // action in one projection: ten times the actions on one table
      // should cost far less than ten times the time (a per-decade
      // ratio well under 1; 0.20 on 4 cores), and ten times the rows
      // about ten times (near 1; a per-row cost of the interpreted fold
      // would show above it). The qc_review shape: a 1-minute series in daily windows,
      // each action brushing one point of its window, flagging it and
      // approving the rest. Opened tables are reused across reps, so
      // the timed reps pay the actions and the save only.
      val sessions = scala.collection.mutable.Map.empty[Long, graft.qc.QcSession]
      def opened(n: Long): graft.qc.QcSession = sessions.getOrElseUpdate(n, {
        val series = spark.range(n).select(col("id").as("sample_id"),
          timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
          sin(col("id") / 100.0).as("value"))
        // compacted once, so the shared base is a checkpoint that a
        // later save does not release
        graft.qc.QcSession.open(graft.qc.QcFlags.addFlags(series, Seq("value")),
          "value", "ts", winHrs = 24, tiebreakers = Seq("sample_id")).compact()
      })
      def saved(n: Long, actions: Long): Long = {
        val s0 = opened(n)
        val perWindow = 1440L
        (0L until actions).foldLeft(s0) { (s, i) =>
          val k = i % s0.windowCount
          s.goto(k).flagAndNext(Seq(k * perWindow + (i / s0.windowCount) % perWindow))
        }.compact().windowCount
      }
      decade("qc_session_compact_actions", "actions", 100L, 1000L,
          warm = Seq(100L, 1000L))(a => saved(57600L, a))
      decade("qc_session_compact_rows", "rows", 1000000L, 10000000L,
          warm = Seq(1000000L, 10000000L))(n => saved(n, 25L))
      sessions.clear()
      // The bulk QC detector chain (range, spikes, flatlines, MAD,
      // steps) and its progress summary on a 1-minute series in 8
      // sensor buckets. Every detector is a window over the sensor, so
      // the chain is one exchange and one sort per bucket: about 1 per
      // decade. A run returns the Spark jobs of its one action.
      var chainRuns = 0
      def chainJobs(n: Long): Long = {
        val perSensor = n / 8
        val series = spark.range(n).select(
          concat(lit("S"), (col("id") / perSensor).cast("string")).as("sensor"),
          timestamp_seconds(lit(1700000000L) + col("id") % perSensor * 60).as("ts"),
          (sin(col("id") / 100.0) * 10 + 20).as("temp"))
        val bucket = col("sensor")
        val order = Seq("ts")
        val init = QcAuto.flagRange(QcFlags.addFlags(series, Seq("temp")), "temp", -50.0, 150.0)
        val flagged = QcAuto.flagSteps(
          QcAuto.flagMadOutliers(
            QcAuto.flagFlatlines(QcAuto.flagSpikes(init, "temp", order, bucket),
              "temp", order, bucket),
            "temp", bucket),
          "temp", order, bucket, minShift = 30.0)
        chainRuns += 1
        val group = s"qc_auto_chain_$chainRuns"
        val sc = spark.sparkContext
        sc.setJobGroup(group, "qc_auto_chain_rows")
        try {
          QcProgress.summary(flagged).collect() // driver-sized: one row per variable
          sc.statusTracker.getJobIdsForGroup(group).length.toLong
        } finally sc.clearJobGroup()
      }
      decade("qc_auto_chain_rows", "rows", 1000000L, 10000000L,
          warm = Seq(1000000L, 10000000L),
          extra = { case ((_, jobsS), (_, jobsB)) =>
            s""","jobs_small":$jobsS,"jobs_big":$jobsB""" })(chainJobs)
      // 100× CORPUS queries — after the cc drift control: size streaming
      // state partitions to the 100× volume, the way a deployment at
      // that volume would (see drainToTable's doc: the default 4 is a
      // micro-batch-latency choice for the gate scales). The 10× phase
      // above keeps the default so its numbers stay comparable with
      // earlier artifacts; the per-decade ratio therefore compares
      // "each scale deployed as it would be deployed", not a
      // fixed-config scaling curve.
      sys.props("graft.drain.statePartitions") = cpus.toString
      sys.props("graft.drain.sink") = "parquet"
      val res = results.toMap
      // Each corpus entry checkpoints INCREMENTALLY (auxParts append +
      // writeArtifact per completed name, mirroring guarded()); a fatal
      // leaves a {"failed":true,"fatal":true} marker for the query.
      try corpusNames.foreach { name =>
        val t = withStagingAudit(name, "100x") {
          Bench.time(1)(Bench.exec(all(name)(spark, dir100)))
        }
        t.failure.foreach {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[stress100] $name FAILED: ${e.getMessage}")
          case e => // fatal: mark, taint, checkpoint, die loudly
            auxParts += s""""$name":{"failed":true,"fatal":true}"""
            fatalTainted = true
            writeArtifact(assembled)
            throw e
        }
        val sec = math.abs(t.secs.head)
        val n = t.result.getOrElse(-1L)
        reclaim()
        // a FAILED run gets an explicit marker and NO scaling ratio —
        // sec is then time-to-failure, and a per-decade number derived
        // from it would read as a valid scaling point when it isn't
        val ratio = if (n < 0) None
          else res.get(name).map(_._1).filter(_ > 0).map(b => sec / (b * 10))
        // output-sensitive ops (the prefix join above all) grow their
        // OUTPUT superlinearly by construction (dup groups × factor ⇒
        // pairs × factor²), so the time ratio alone reads as a bend
        // when per-pair cost is flat — record the per-OUTPUT-row
        // decade ratio next to it, same as the 10× phase's per_row_x
        val perRow = for {
          (b, br) <- res.get(name) if b > 0 && br > 0 && n > 0
        } yield (sec / n) / (b / br) / 10
        // the staging-gate audit made loud: at 100× corpus volume the
        // adaptive gate choosing ROW blocks would be a silent repeat
        // of the r12/r13 regression — warn immediately, not at read
        // time (the artifact fields below are the durable record)
        if (name == "dedup_prefix")
          stagingChoice.get("100x").foreach { case (c, r) =>
            if (c == 0 && r > 0) System.err.println(
              "[stress100] WARNING: Dedup.stagesColumnar chose ROW staging at " +
                s"the 100x corpus (columnar=$c row=$r) — gate misfire")
          }
        println(f"[stress100] $name%-22s $sec%8.2f s  ($n%d rows)" +
          (if (n < 0) "  FAILED"
           else ratio.fold("")(r => f"  x_vs_10x_per_decade $r%.3f") +
             perRow.fold("")(r => f"  per_row_x_per_decade $r%.3f")))
        auxParts += s""""$name":{"sec":${f"$sec%.2f"},"rows":$n${
          if (n < 0) ""","failed":true"""
          else ratio.fold("")(r => s""","x_vs_10x_per_decade":${f"$r%.3f"}""") +
            perRow.fold("")(r => s""","per_row_x_per_decade":${f"$r%.3f"}""")}${
          if (name == "dedup_prefix") stagingJson("100x") else ""}$ccControlJson}"""
        writeArtifact(assembled)
      } finally {
        sys.props.remove("graft.drain.statePartitions")
        sys.props.remove("graft.drain.sink")
      }
      // Perceptual-hash image dedup (the r12 verdict's highest-10×-ratio
      // family without a decade point). The measured pipeline is the
      // real thing end to end: render+PNG-encode a deterministic noise
      // raster per doc (standing in for the storage read), decode with
      // ImageIO, DCT-pHash, then pair via the WIDE pigeonhole join
      // (32-bit chunks). The wide hash is load-bearing at this scale:
      // 64-bit chunking at maxHamming 6 has 512 buckets/band, so iid
      // hashes drive the join candidate volume as 7n²/512 —
      // join-quadratic past ~10⁵ docs — while 32-bit chunks keep iid
      // occupancy ≪ 1 at both endpoints, so decode stays the dominant
      // linear term, which is the claim under test. Planted dups mirror
      // mm_phash: groups of 5 jittered variants → true pairs ≈ 2n.
      def rasterHashes(n: Long) = {
        import spark.implicits._
        val payloads = spark.range(n).as[Long].map { id =>
          (id, graft.pipeline.Multimodal.makeNoisePng(
            id / 5, (id % 5).toInt * 8, (id % 5).toInt))
        }
        graft.pipeline.Multimodal.decodeBatched(payloads)(
            _.map(graft.pipeline.Multimodal.pHashWide))
          .toDF("doc_id", "phash")
      }
      def wideJoin(hashed: org.apache.spark.sql.DataFrame) =
        graft.pipeline.Dedup.hammingNearDupPairsWide(
          hashed, "doc_id", "phash",
          maxHamming = 7, words = 4, chunkBits = 32)
      decade("mm_phash_wide_synth", "imgs", 300000L, 3000000L,
          warm = Seq(30000L),
          extra = { case ((_, pairsS), (_, pairsB)) =>
            // join-only attribution on pre-staged hashes (untimed
            // decode): the sub-dominance claim made checkable — the
            // join's own decade ≤ linear
            def joinOnly(n: Long): Double = {
              val staged = rasterHashes(n).localCheckpoint(true)
              val t = minOf2(wideJoin(staged).count())._1
              reclaim()
              t
            }
            val jS = joinOnly(300000L); val jB = joinOnly(3000000L)
            s""","pairs_small":$pairsS,"pairs_big":$pairsB,"join_only_sec_small":${f"$jS%.2f"},"join_only_sec_big":${f"$jB%.2f"},"join_x_per_decade":${f"${jB / (jS * 10)}%.3f"}"""
          }) { n => wideJoin(rasterHashes(n)).count() }
      // SemDeDup-LSH on a deterministic vector synth at 600K → 6M rows,
      // past any flat-path ceiling; every stage bounded per row by the
      // (shardTarget, targetCellSize) constants is the claim under test.
      def semRun(n: Long): Long =
        graft.pipeline.Vec.semDedupLsh(spark.range(n).select(
            col("id").as("vec_id"),
            transform(sequence(lit(0), lit(31)),
              i => (pmod(xxhash64(col("id") * 32 + i), lit(2000L)) - 1000L) / 1000.0)
              .as("embedding")),
          "vec_id", "embedding", dim = 32, iters = 2, threshold = 0.999,
          shardTarget = 4096).count()
      decade("semdedup_lsh", "n", 600000L, 6000000L,
          warm = Seq(100000L, 6000000L), sized = true,
          extra = { case (_, (semB, _)) =>
            // EQUAL-OCCUPANCY control: the shard space is
            // 2^⌈log2(n/shardTarget)⌉, so mean occupancy (and the
            // count-derived per-shard k = per-row assignment work) rides
            // a bounded sawtooth in [shardTarget/2, shardTarget]. 600K
            // lands at occupancy 2344 (k=37) while 6M lands at 2930
            // (k=46) — a 1.24× per-row handicap BUILT INTO the decade
            // endpoints. 750K lands at exactly 6M's occupancy: if
            // 750K→6M (8×) runs ≈linear, the decade point's excess is
            // the sawtooth, not a scaling bend.
            val semC = volumeSized(750000L)(minOf2(semRun(750000L)))._1
            // FIXED-WIDTH control: the same 6M run through the
            // session's own width — what a deployment pays for NOT
            // resizing; recorded as the capacity-sizing cost,
            // deliberately NOT the headline.
            val semW = minOf2(semRun(6000000L))._1
            val width = spark.conf.get("spark.sql.shuffle.partitions")
            s""","widths":"volume-sized (~100K rows/task): 600K/750K @16, 6M @64","equal_occupancy_control":{"n_small":750000,"sec_small":${f"$semC%.2f"},"n_big":6000000,"sec_big":${f"$semB%.2f"},"x_vs_linear":${f"${semB / (semC * 8)}%.3f"}},"fixed_width_control":{"n":6000000,"shuffle_partitions":$width,"sec":${f"$semW%.2f"},"x_vs_linear_vs_750k":${f"${semW / (semC * 8)}%.3f"}}"""
          })(semRun)
      // graph_jaccard's shape — fingerprint-bucket wedge join, cost
      // Σ_fp c_fp² — on a synthetic bipartite whose bucket sizes stay
      // Poisson(3) at BOTH scales (ids and fps grow with memberships),
      // so linear-in-memberships is the contract under test; the
      // fixture's co-supplier replica would measure the projection's
      // quadratic fan-out instead (the cc_star argument).
      def jaccard(m: Long): Long = {
        val nbrs = spark.range(m).select(
          pmod(xxhash64(col("id")), lit(m / 3)).as("id"),
          pmod(xxhash64(col("id") + m), lit(m / 3)).as("fp")).distinct()
        val deg = nbrs.groupBy(col("id")).agg(count(lit(1)).as("deg"))
        graft.pipeline.Dedup.sharedFingerprintPairs(
            nbrs, "id", "fp", minShared = 2)
          .join(deg.select(col("id").as("id_a"), col("deg").as("deg_a")),
            "id_a")
          .join(deg.select(col("id").as("id_b"), col("deg").as("deg_b")),
            "id_b")
          .select(col("id_a"), col("id_b"), col("n_shared"),
            (col("n_shared") /
              (col("deg_a") + col("deg_b") - col("n_shared"))).as("jaccard"))
          .count()
      }
      // Text-model family: model-train + corpus-score shapes whose MODEL
      // side is bounded by construction (vocab-sized bigram counts; 6
      // merge literals) — the claim under test is that the corpus side
      // stays linear. 30 tokens/doc from a 1000-word vocab (id-hash), so
      // the model size is CONSTANT across scales while the corpus grows
      // a clean decade.
      def texts(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("w"), pmod(xxhash64(col("id") * 31 + i), lit(1000)))))
          .as("text"))
      // pageRank/HITS iters match the registered queries (5 / 3), and
      // 6M nodes of 16-byte score rows pass the broadcast gate, so both
      // endpoints run the SAME join strategy
      Seq[(String, String, Long, Long, Seq[Long], Long => Long)](
        ("graph_jaccard_synth", "memberships", 1800000L, 18000000L, Nil, jaccard),
        ("graph_pagerank_synth", "edges", 1800000L, 18000000L, Seq(180000L),
          m => graft.pipeline.Graph.pageRank(edgesOf(m), "src", "dst", iters = 5).count()),
        ("graph_hits_synth", "edges", 1800000L, 18000000L, Seq(180000L),
          m => graft.pipeline.Graph.hits(edgesOf(m), "src", "dst", iters = 3).count()),
        ("text_perplexity_synth", "docs", 600000L, 6000000L, Seq(100000L),
          n => graft.pipeline.TextAnalysis.bigramCrossEntropy(
            texts(n), "doc_id", "text").count()),
        ("text_bpe_encode_synth", "docs", 600000L, 6000000L, Seq(100000L),
          n => {
            val docs = texts(n)
            graft.pipeline.TextAnalysis.bpeEncode(docs, "doc_id", "text",
              graft.pipeline.TextAnalysis.bpeTrain(docs, "text", merges = 6)).count()
          })
      ).foreach { case (name, unit, small, big, warm, run) =>
        decade(name, unit, small, big, warm)(run)
      }
      assembled
    }.getOrElse("")
    println(record(aux100))
    writeArtifact(aux100)
    spark.stop()
  }

  /** factor× replication with id remap (`id*factor + r`), suffixed
    * document text, unchanged timestamps/embeddings. Dimension tables
    * copy through untouched; lineitem fans out (same orderkeys — the
    * join side grows, the realistic fact-table growth mode). */
  private def synthesize(
      spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val reps = spark.range(factor).select(col("id").cast("int").as("__r"))
    def rep(t: String)(remap: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val df = spark.read.parquet(s"$src/$t.parquet").crossJoin(broadcast(reps))
      remap(df).drop("__r")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    rep("events")(df => df
      .withColumn("event_id", col("event_id") * factor + col("__r"))
      .withColumn("user_id", col("user_id") * factor + col("__r")))
    rep("documents")(df => df
      .withColumn("doc_id", col("doc_id") * factor + col("__r"))
      .withColumn("text", concat(col("text"), lit(" rep"), col("__r"))))
    rep("embeddings")(df => df
      .withColumn("vec_id", col("vec_id") * factor + col("__r"))
      // per-replica SCALING (cosine-invariant: cos(αa, b) = cos(a, b),
      // hyperplane signs and LSH buckets unchanged) so replicas are
      // not bit-identical vectors — without it the k-means lowest-id
      // init picks 16 copies of two vectors and every cell collapses
      .withColumn("embedding",
        transform(col("embedding"),
          x => x * (lit(1.0) + col("__r") * lit(0.001)))))
    rep("lineitem")(df => df
      .withColumn("l_linenumber", col("l_linenumber") * factor + col("__r")))
    Seq("orders", "customer", "supplier", "part", "nation", "region")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
  }

  /** Crude single-purpose parse of BENCH_local.json's flat
    * `"name":seconds` map (no JSON lib on the classpath). */
  // parse is scoped to the flat "queries":{...} object so the record's
  // other numeric keys (value, reps, cpus, runs) can't shadow a query
  private def readBench(path: String): Map[String, Double] =
    Bench.readFile(path).map(BenchDelta.parseFlatObject(_, "queries"))
      .getOrElse(Map.empty)
}
