package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

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
  * Output: /root/repo/STRESS_local.json
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
    "cur_decontam_bloom", "cur_pack",
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
    // shuffle partitions run 2 waves on 32 threads but 4 on the default
    // 16 — an invocation at the wrong width exactly doubles the big
    // endpoint (measured 230.4 vs 114.1 s, same code) and fabricates a
    // superlinear "bend" in every within-run big-vs-small control.
    // Scale evidence is only comparable at the recorded thread count.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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
    // optional regex filter (unanchored find) for targeted iteration;
    // output stays in the STRESS_local.json format but only covers the
    // matching subset — don't overwrite a full artifact with one
    val stressNames = sys.env.get("SPARK_GRAFT_STRESS_FILTER") match {
      case Some(re) => StressQueries.filter(re.r.findFirstIn(_).isDefined)
      case None => StressQueries
    }
    // min-of-reps like Bench: a single-shot measurement charges one
    // query with codegen compilation + page-cache warmup, and at stress
    // scale that first-run tax reached 2-6× on unlucky queries —
    // x_vs_linear then flags plans that are perfectly linear. The min
    // is the steady-state number a long-lived cluster actually sees.
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "2").toInt)
    // stageAdaptive gate audit (r13 verdict task 6): record which
    // staging format the prefix pipeline actually CHOSE at each scale,
    // so "the gate picked columnar at 100×" is a recorded artifact
    // fact, not a probed claim. Deltas of PrefixBlocks' JVM counters
    // around the measured reps.
    val stagingChoice =
      scala.collection.mutable.Map.empty[String, (Long, Long)]
    def withStagingAudit[A](name: String, scaleKey: String)(body: => A): A =
      if (name != "dedup_prefix") body
      else {
        val c0 = graft.pipeline.PrefixBlocks.columnarStagings.get()
        val r0 = graft.pipeline.PrefixBlocks.rowStagings.get()
        val out = body
        stagingChoice(scaleKey) = (
          graft.pipeline.PrefixBlocks.columnarStagings.get() - c0,
          graft.pipeline.PrefixBlocks.rowStagings.get() - r0)
        out
      }
    def stagingJson(scaleKey: String): String =
      stagingChoice.get(scaleKey).fold("") { case (c, r) =>
        s""","columnar_stagings":$c,"row_stagings":$r""" }
    val results = stressNames.map { name =>
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        // record output ROWS too: several operators (exact-threshold
        // near-dup joins above all) are output-sensitive — dup groups
        // grow with the replica factor, so their output grows ~factor²
        // by construction and time-vs-linear ratios must be read
        // against rows-vs-linear (per_row_x below).
        // Bench.exec, not count(): the FULL-PLAN action (projections
        // and final sort execute; count() let Catalyst prune both —
        // the r13 verdict's headline defect). Row count is identical.
        try {
          val n = Bench.exec(all(name)(spark, outDir))
          ((System.nanoTime() - t0) / 1e9, n)
        } catch {
          case e: Throwable =>
            System.err.println(s"[stress] $name FAILED: ${e.getMessage}")
            (-math.max((System.nanoTime() - t0) / 1e9, 0.001), -1L)
        }
      }
      val runs = withStagingAudit(name, "10x") { Seq.fill(reps)(once()) }
      spark.catalog.clearCache()
      // any SUCCESSFUL rep wins: a transient first-run failure (cold
      // cache, codegen) must not discard a valid steady-state number —
      // the query is FAILED only when every rep failed
      val ok = runs.filter(_._1 >= 0)
      val (t, rows) = if (ok.nonEmpty) ok.minBy(_._1) else runs.head
      println(f"[stress] $name%-22s $t%8.2f s  ($rows%d rows)")
      name -> ((t, rows))
    }

    // scaling ratio vs the recorded sf0.1 bench: stress / (bench × factor)
    val bench = readBench("/root/repo/BENCH_local.json")
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
    // dedicated scaling check for LSH-sharded SemDeDup at corpus sizes
    // BEYOND the flat path's 4096-cell ceiling (~260k rows) — the
    // replica tables never reach that size, so this synthesizes its
    // own deterministic corpus. SPARK_GRAFT_STRESS_SEMDEDUP="30000,
    // 300000" times both sizes (min of 2 reps) and records the 10×
    // time ratio vs linear. Vectors are id-hash pseudo-random (dim
    // 32); with shardTarget 4096 the big corpus runs ~128 LSH shards
    // of ~37 clusters each — every stage bounded per row by the
    // (shardTarget, targetCellSize) constants, which is the claim
    // under test.
    val semAux = sys.env.get("SPARK_GRAFT_STRESS_SEMDEDUP").map { spec =>
      val parts = spec.split(",").map(_.trim.toLong)
      val (nSmall, nBig) = (parts(0), parts(1))
      def synth(n: Long) = spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(31)),
          i => (pmod(xxhash64(col("id") * 32 + i), lit(2000L)) - 1000L) / 1000.0)
          .as("embedding"))
      def run(n: Long): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.pipeline.Vec.semDedupLsh(synth(n), "vec_id", "embedding",
          dim = 32, iters = 2, threshold = 0.999, shardTarget = 4096).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val ts = run(nSmall); val tb = run(nBig)
      val x = tb / (ts * (nBig.toDouble / nSmall))
      println(f"[stress] semdedup_lsh scaling: $nSmall -> $ts%.2f s, " +
        f"$nBig -> $tb%.2f s, x_vs_linear $x%.3f")
      s""","aux_semdedup_lsh":{"n_small":$nSmall,"sec_small":$ts,"n_big":$nBig,"sec_big":$tb,"x_vs_linear":${f"$x%.3f"}}"""
    }.getOrElse("")
    // 100× stress point for the scale flagships (env-gated: ~20-30 min
    // including the 100× synthesis): 10× catches quadratic blowups,
    // 100× catches memory cliffs and n·log n bends — the claim on the
    // tin is 100 TB. Corpus-driven queries run on a factor-100 replica
    // of the sf dir; `x_vs_10x_per_decade` = sec₁₀₀ / (10 × sec₁₀ from
    // THIS run) — ≈1 means the extra decade cost exactly one decade of
    // time. cc_star gets a SYNTHETIC edge graph instead: the
    // co-supplier projection's per-order pair fan-out grows
    // quadratically in the replica factor, so a 100× corpus would
    // measure the fixture's explosion, not the operator's scaling
    // (expected per-decade ratio for cc_star is log(10n)/log(n) ≈ 1.1,
    // NOT 1.0 — rounds grow logarithmically while per-round work is
    // linear). SemDeDup-LSH reuses its deterministic vector synth at
    // 600K → 6M rows, past any flat-path ceiling.
    // Optional regex selecting WHICH 100× points run (synthetic decade
    // points and corpus queries both) — targeted retiming without the
    // full ~30-min block. A subset run writes to STRESS_partial.json:
    // the committed STRESS_local.json is a coherent single-run record
    // and a partial run must never silently replace it (same rule as
    // the 10× SPARK_GRAFT_STRESS_FILTER, now enforced by path instead
    // of by operator discipline).
    val points100 = sys.env.get("SPARK_GRAFT_STRESS_100X_POINTS").map(_.r)
    def pointWanted(name: String): Boolean =
      points100.forall(_.findFirstIn(name).isDefined)
    val artifactPath =
      if (points100.isDefined || sys.env.contains("SPARK_GRAFT_STRESS_FILTER"))
        "/root/repo/STRESS_partial.json"
      else "/root/repo/STRESS_local.json"
    // Checkpoint the artifact BEFORE the env-gated 100× block: a 100×
    // failure mode is a wedged JVM (e.g. an OOM killing a dispatcher
    // thread — jobs then hang rather than throw), and without this
    // write a ~30-min 10× measurement would die with it. The final
    // write below replaces this file with the aux_100x-extended line.
    // Run-level taint: set once any FATAL JVM error (OOM, stack
    // overflow, linkage) escapes a 100× point — later timings on a
    // possibly-degraded JVM must not read as clean measurements.
    var fatalTainted = false
    def writeArtifact(extra: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(artifactPath),
        s"""{"metric":"stress_total","value":$total,"unit":"sec","factor":$factor,"base":"$srcDir","cpus":$cpus,"driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"${if (fatalTainted) ""","tainted":true""" else ""},"queries":$qs$aux$semAux$extra}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (sys.env.contains("SPARK_GRAFT_STRESS_100X")) writeArtifact("")
    val aux100 = sys.env.get("SPARK_GRAFT_STRESS_100X").map { _ =>
      // Fragments accumulate here and the artifact is REWRITTEN after
      // every completed (or failed) point: before this, the aux_100x
      // string was assembled only at the very end, so an exception in
      // the LAST synthetic point discarded every earlier expensive
      // measurement of the run (the pre-block checkpoint had written
      // aux100 empty). Each point is also individually guarded — a
      // failure emits an explicit FAILED marker and the block moves on.
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
      // staged blocks deterministically (Graph/PrefixBlocks handles);
      // this reclaims what the HARNESS retains: measurement hygiene at
      // a timing boundary, outside every timed region.
      def reclaim(): Unit = {
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(1500) // let the async ContextCleaner drain
      }
      // EVERY synthetic scaling point is min-of-2 (the suite's
      // steady-state protocol): single-shot points mixed cold-JIT small
      // runs against warm big runs — round 9's semdedup decade numbers
      // swung 1.06 → 0.77 across rounds on exactly that asymmetry (a
      // probed warm 600K ran 9.1 s where the cold single-shot charged
      // it 20.5 s), so nothing here is single-sampled anymore
      def minOf2(body: => Unit): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        body
        val t = (System.nanoTime() - t0) / 1e9
        reclaim()
        t
      }.min
      def edgesOf(n: Long, m: Long) = spark.range(m).select(
        pmod(xxhash64(col("id")), lit(n)).as("src"),
        pmod(xxhash64(col("id") + m), lit(n)).as("dst"))
      def ccRun(n: Long, m: Long): Double = minOf2 {
        graft.pipeline.Graph.connectedComponentsStar(
          edgesOf(n, m), "src", "dst").count()
      }
      // cc_star runs FIRST — before the 100× CORPUS queries too (r13
      // advice: the corpus block, including dedup_prefix, previously
      // ran ahead of it and so had no drift control): besides being
      // its own decade point it is the within-run DRIFT CONTROL for
      // everything after it — its committed quiet-host value is
      // 0.66/decade, and a run whose cc control lands far off that
      // band (±0.1) is measuring the host, not the code (exactly how
      // r12's first minhash timing was caught and discarded).
      var ccControl: Option[Double] = None
      guarded("graph_cc_star_synth") {
        // untimed JIT warmup (the Bench warmup argument): the FIRST
        // synthetic point otherwise pays whole-pipeline codegen +
        // interpreter-to-C2 compilation — measured as a 5.4 vs 8.9 s
        // swing on the small cc endpoint between same-code runs, which
        // alone moves the decade ratio 0.47 → 0.94
        ccRun(60000L, 180000L)
        val ccS = ccRun(600000L, 1800000L)
        val ccB = ccRun(6000000L, 18000000L)
        val ccX = ccB / (ccS * 10)
        ccControl = Some(ccX)
        println(f"[stress100] graph_cc_star synth: 1.8M edges $ccS%.2f s, " +
          f"18M edges $ccB%.2f s, per-decade $ccX%.3f")
        s""""graph_cc_star_synth":{"edges_small":1800000,"sec_small":${f"$ccS%.2f"},"edges_big":18000000,"sec_big":${f"$ccB%.2f"},"x_per_decade":${f"$ccX%.3f"}}"""
      }
      def ccControlJson: String =
        ccControl.fold("")(c => s""","cc_star_control_x_per_decade":${f"$c%.3f"}""")
      // MinHash-LSH 100× point — runs EARLY, right after its control:
      // the r12 timing was discarded as drift-tainted after running
      // LAST on a 4-hour-uptime VM, and this VM class drifts 1.2–2×
      // with uptime (COVERAGE.md) — the owed retiming belongs at the
      // front of the block, not the tail. The banding bucket-join is
      // exactly where a quadratic term would hide (a hot band bucket
      // joins c² pairs); capBuckets bounds it by construction, and
      // this pins that claim at a decade. Corpus: a constant 1000-word
      // vocab (so the shingle space — and with it bucket occupancy
      // statistics — is scale-invariant) with a 1-in-10 near-dup rate:
      // doc 10k+1 repeats doc 10k's 30 tokens with the LAST REPLACED
      // (27 of its 28 3-shingles shared, union 29, J ≈ 27/29 ≈ 0.93
      // > 0.5), so TRUE pairs grow exactly linearly (n/10, verified in
      // the output count) while independent docs stay far below
      // threshold.
      def dupTexts(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("w"), pmod(xxhash64(
            (when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id")))
              * 31 + i
              + when(col("id") % 10 === 1 && i === 29, lit(999983L))
                .otherwise(lit(0L))),
            lit(1000))))).as("text"))
      guarded("dedup_minhash_synth") {
        // VOLUME-SIZED shuffle width, the semdedup precedent applied:
        // the banding stage shuffles 32n rows (bands × docs) — at the
        // 6M endpoint that is 192M rows, and through the suite's 16
        // partitions the per-task sort state grows 10× with the data,
        // turning spill/GC into the measurement. The first r13 full
        // run recorded exactly that: 2.657/decade AT WIDTH 16 with
        // candidate volume EXACTLY linear (60,000 → 600,063) and the
        // cc control fast-biased — a deployment artifact, not a plan
        // bend. Width n/100K (docs) ≈ 3M banded rows/task: both
        // endpoints deployed as a deployment would size them, the
        // same both-endpoints rule the semdedup headline uses; the
        // width-16 reading stays recorded in COVERAGE as the
        // fixed-width control.
        def mhSized(n: Long)(body: => Double): Double = {
          val w = math.max(16L,
            java.lang.Long.highestOneBit(n / 100000L) * 2).toString
          val spKey = "spark.sql.shuffle.partitions"
          val spPrev = spark.conf.get(spKey)
          try { spark.conf.set(spKey, w); body }
          finally spark.conf.set(spKey, spPrev)
        }
        var mhPairs = 0L
        def mhRun(n: Long): Double = mhSized(n) { minOf2 {
          mhPairs = graft.pipeline.Dedup.minHashNearDupPairs(
            dupTexts(n), "doc_id", "text",
            shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5).count()
        } }
        mhRun(60000L) // untimed JIT warmup (the cc_star argument)
        // untimed FULL-SCALE warmup (the semdedup lesson verbatim):
        // the first 6M-row execution in a JVM pays heap expansion +
        // C2 for the big-partition paths regardless of width
        mhSized(6000000L) {
          graft.pipeline.Dedup.minHashNearDupPairs(
            dupTexts(6000000L), "doc_id", "text",
            shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5).count()
          reclaim(); 0.0
        }
        val mhS = mhRun(600000L); val mhPairsS = mhPairs
        val mhB = mhRun(6000000L); val mhPairsB = mhPairs
        val mhX = mhB / (mhS * 10)
        // UNTIMED candidate-volume audit at both endpoints: the
        // verified-pair count alone cannot bound the banding join's
        // work (false-positive candidates and capBuckets drops are
        // invisible to it) — lshCandidatePairs volume is the number
        // that pins the join's linearity, recorded from committed
        // instrumentation (Dedup.minHashCandidatePairs), not asserted.
        var mhCandS = 0L; var mhCandB = 0L
        mhSized(600000L) {
          mhCandS = graft.pipeline.Dedup.minHashCandidatePairs(
            dupTexts(600000L), "doc_id", "text",
            shingleN = 3, numHashes = 128, bands = 32).count()
          reclaim(); 0.0
        }
        mhSized(6000000L) {
          mhCandB = graft.pipeline.Dedup.minHashCandidatePairs(
            dupTexts(6000000L), "doc_id", "text",
            shingleN = 3, numHashes = 128, bands = 32).count()
          reclaim(); 0.0
        }
        println(f"[stress100] dedup_minhash synth: 600K docs $mhS%.2f s " +
          f"($mhPairsS pairs, $mhCandS candidates), 6M $mhB%.2f s " +
          f"($mhPairsB pairs, $mhCandB candidates), per-decade $mhX%.3f")
        s""""dedup_minhash_synth":{"docs_small":600000,"sec_small":${f"$mhS%.2f"},"pairs_small":$mhPairsS,"candidates_small":$mhCandS,"docs_big":6000000,"sec_big":${f"$mhB%.2f"},"pairs_big":$mhPairsB,"candidates_big":$mhCandB,"candidate_ratio":${f"${mhCandB.toDouble / mhCandS}%.3f"},"x_per_decade":${f"$mhX%.3f"}$ccControlJson}"""
      }
      // withRowId decade point (the r15 bucket redesign at sizes the
      // replica tables never reach): the operator's claim is ONE data
      // shuffle — a percentile_approx boundary aggregate, the
      // bucket-keyed window sort, and a catalog-sized offsets
      // broadcast, each linear or constant by construction. A decade
      // bend here would mean one of those stages is quietly
      // data-sized. Input: two longs, pseudo-random rangeable key +
      // unique tiebreaker — exactly the (ts, event_id) caller shape.
      guarded("w1_rowid_synth") {
        def ridInput(n: Long) = spark.range(n).select(
          pmod(xxhash64(col("id")), lit(1000000000L)).as("k"),
          col("id").as("event_id"))
        def ridRun(n: Long): Double = minOf2 {
          Bench.exec(graft.qc.QcWindows.withRowId(
            ridInput(n), Seq("k", "event_id")))
        }
        ridRun(100000L) // untimed JIT warmup (the cc_star argument)
        // untimed FULL-SCALE warmup (the semdedup lesson): the first
        // big execution pays heap expansion + C2 regardless of plan
        Bench.exec(graft.qc.QcWindows.withRowId(
          ridInput(10000000L), Seq("k", "event_id")))
        reclaim()
        val rS = ridRun(1000000L)
        val rB = ridRun(10000000L)
        val rX = rB / (rS * 10)
        println(f"[stress100] w1_rowid synth: 1M rows $rS%.2f s, " +
          f"10M rows $rB%.2f s, per-decade $rX%.3f")
        s""""w1_rowid_synth":{"rows_small":1000000,"sec_small":${f"$rS%.2f"},"rows_big":10000000,"sec_big":${f"$rB%.2f"},"x_per_decade":${f"$rX%.3f"}$ccControlJson}"""
      }
      // 100× CORPUS queries — now AFTER the cc drift control (and the
      // minhash point, which owns the right-after-control slot for its
      // own r12 reasons): size streaming state partitions to the 100×
      // volume, the way a deployment at that volume would (see
      // drainToTable's doc: the default 4 is a micro-batch-latency
      // choice for the gate scales and caps the 100× state stage at
      // 4-way parallelism). The 10× phase above deliberately keeps the
      // default so its numbers stay comparable with earlier artifacts.
      // NOTE: the per-decade ratio below therefore compares a
      // 16-partition 100× run against a 4-partition 10× baseline — an
      // honest comparison of "each scale deployed as it would be
      // deployed", not a fixed-config scaling curve.
      sys.props("graft.drain.statePartitions") = cpus
      sys.props("graft.drain.sink") = "parquet"
      val res = results.toMap
      // Each corpus entry checkpoints INCREMENTALLY (auxParts append +
      // writeArtifact per completed name, mirroring guarded()): a
      // mid-loop fatal used to drop every entry the same loop had
      // already finished — they only joined auxParts after the whole
      // map — and, unlike guarded()'s fatal path, left no
      // {"failed":true,"fatal":true} marker for the query that died.
      try corpusNames.foreach { name =>
        val t0 = System.nanoTime()
        val n = try withStagingAudit(name, "100x") {
            Bench.exec(all(name)(spark, dir100))
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[stress100] $name FAILED: ${e.getMessage}")
              -1L
            case e: Throwable => // fatal: mark, taint, checkpoint, die loudly
              auxParts += s""""$name":{"failed":true,"fatal":true}"""
              fatalTainted = true
              writeArtifact(assembled)
              throw e
          }
        val t = (System.nanoTime() - t0) / 1e9
        reclaim()
        // a FAILED run gets an explicit marker and NO scaling ratio —
        // sec is then time-to-failure, and a per-decade number derived
        // from it would read as a valid scaling point when it isn't
        val ratio = if (n < 0) None
          else res.get(name).map(_._1).filter(_ > 0).map(b => t / (b * 10))
        // output-sensitive ops (the prefix join above all) grow their
        // OUTPUT superlinearly by construction (dup groups × factor ⇒
        // pairs × factor²), so the time ratio alone reads as a bend
        // when per-pair cost is flat — record the per-OUTPUT-row
        // decade ratio next to it, same as the 10× phase's per_row_x
        val perRow = for {
          (b, br) <- res.get(name) if b > 0 && br > 0 && n > 0
        } yield (t / n) / (b / br) / 10
        // the staging-gate audit made loud: at 100× corpus volume the
        // adaptive gate choosing ROW blocks would be a silent repeat
        // of the r12/r13 regression — warn immediately, not at read
        // time (the artifact fields below are the durable record)
        if (name == "dedup_prefix")
          stagingChoice.get("100x").foreach { case (c, r) =>
            if (c == 0 && r > 0) System.err.println(
              "[stress100] WARNING: stageAdaptive chose ROW staging at " +
                s"the 100x corpus (columnar=$c row=$r) — gate misfire")
          }
        println(f"[stress100] $name%-22s $t%8.2f s  ($n%d rows)" +
          (if (n < 0) "  FAILED"
           else ratio.fold("")(r => f"  x_vs_10x_per_decade $r%.3f") +
             perRow.fold("")(r => f"  per_row_x_per_decade $r%.3f")))
        auxParts += s""""$name":{"sec":${f"$t%.2f"},"rows":$n${
          if (n < 0) ""","failed":true"""
          else ratio.fold("")(r => s""","x_vs_10x_per_decade":${f"$r%.3f"}""") +
            perRow.fold("")(r => s""","per_row_x_per_decade":${f"$r%.3f"}""")}${
          if (name == "dedup_prefix") stagingJson("100x") else ""}$ccControlJson}"""
        writeArtifact(assembled)
      } finally {
        sys.props.remove("graft.drain.statePartitions")
        sys.props.remove("graft.drain.sink")
      }
      // Perceptual-hash image dedup 100× point (the r12 verdict's
      // highest-10×-ratio family without one). The measured pipeline
      // is the real thing end to end: render+PNG-encode a deterministic
      // noise raster per doc (standing in for the storage read), decode
      // with ImageIO, DCT-pHash, then pair via the WIDE pigeonhole join
      // (Dedup.hammingNearDupPairsWide, 32-bit chunks). The wide hash
      // is load-bearing at this scale, not a flourish: 64-bit chunking
      // at maxHamming 6 has 512 buckets/band, so iid hashes drive the
      // join candidate volume as 7n²/512 — decode-dominated at the
      // sf fixtures (n ≤ 5×10⁴) but join-quadratic past ~10⁵ docs.
      // 32-bit chunks (2^32 buckets/band) keep iid occupancy ≪ 1 at
      // both endpoints, so decode stays the dominant linear term —
      // which is the claim under test. Planted dups mirror mm_phash:
      // groups of 5 jittered variants → true pairs = 2n (minus the
      // tiny >ball tail), and join-only timings on pre-staged hashes
      // attribute the decode/join split explicitly.
      guarded("mm_phash_wide_synth") {
        import spark.implicits._
        def rasterHashes(n: Long) = spark.range(n).as[Long]
          .map { id =>
            (id, graft.pipeline.Multimodal.makeNoisePng(
              id / 5, (id % 5).toInt * 8, (id % 5).toInt))
          }
          .mapPartitions { it =>
            it.grouped(64).flatMap { batch =>
              batch.map(_._1)
                .zip(graft.pipeline.Multimodal.pHashWideBatch(batch.map(_._2)))
                .collect { case (id, h) if h != null => (id, h) }
            }
          }
          .toDF("doc_id", "phash")
        def wideJoin(hashed: org.apache.spark.sql.DataFrame) =
          graft.pipeline.Dedup.hammingNearDupPairsWide(
            hashed, "doc_id", "phash",
            maxHamming = 7, words = 4, chunkBits = 32)
        var mmPairs = 0L
        def mmRun(n: Long): Double = minOf2 {
          mmPairs = wideJoin(rasterHashes(n)).count()
        }
        mmRun(30000L) // untimed JIT warmup (ImageIO + DCT + join paths)
        val mmS = mmRun(300000L); val mmPairsS = mmPairs
        val mmB = mmRun(3000000L); val mmPairsB = mmPairs
        val mmX = mmB / (mmS * 10)
        // join-only attribution on pre-staged hashes (untimed decode):
        // the sub-dominance claim made checkable — joinB ≪ fullB and
        // the join's own decade ≤ linear
        def joinOnly(n: Long): Double = {
          val staged = rasterHashes(n).localCheckpoint(true)
          val t = minOf2 { wideJoin(staged).count() }
          reclaim()
          t
        }
        val mmJS = joinOnly(300000L)
        val mmJB = joinOnly(3000000L)
        val mmJX = mmJB / (mmJS * 10)
        println(f"[stress100] mm_phash_wide synth: 300K imgs $mmS%.2f s " +
          f"($mmPairsS pairs), 3M $mmB%.2f s ($mmPairsB pairs), " +
          f"per-decade $mmX%.3f; join-only $mmJS%.2f / $mmJB%.2f s, " +
          f"per-decade $mmJX%.3f")
        s""""mm_phash_wide_synth":{"imgs_small":300000,"sec_small":${f"$mmS%.2f"},"pairs_small":$mmPairsS,"imgs_big":3000000,"sec_big":${f"$mmB%.2f"},"pairs_big":$mmPairsB,"x_per_decade":${f"$mmX%.3f"},"join_only_sec_small":${f"$mmJS%.2f"},"join_only_sec_big":${f"$mmJB%.2f"},"join_x_per_decade":${f"$mmJX%.3f"}$ccControlJson}"""
      }
      def vecs(n: Long) = spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(31)),
          i => (pmod(xxhash64(col("id") * 32 + i), lit(2000L)) - 1000L) / 1000.0)
          .as("embedding"))
      def semRun(n: Long): Double = minOf2 {
        graft.pipeline.Vec.semDedupLsh(vecs(n), "vec_id", "embedding",
          dim = 32, iters = 2, threshold = 0.999, shardTarget = 4096).count()
      }
      // Volume-sized shuffle width for a given row count — the
      // drainToTable statePartitions argument, batch edition: a
      // deployment sizes width to volume (~100K rows/task here), it
      // does not run 6M rows through the 16 partitions that were sized
      // for the sf0.1 suite. Measured at 6M: the 16-wide run is
      // GC-BIMODAL (131 / 213 / 221 s across three same-code runs —
      // per-task state 4× the sized width's, old-gen pressure turns
      // stop-the-world time into a coin flip) while the 64-wide run
      // was stable within ±5% (113.5 / 121.9 / 122.8 s). The headline
      // decade point compares volume-sized deployments at BOTH
      // endpoints; the fixed-width number stays in the artifact below
      // as the explicit what-if-you-don't-resize control.
      def semRunSized(n: Long): Double = {
        val w = math.max(16L,
          java.lang.Long.highestOneBit(n / 100000L) * 2).toString
        val spKey = "spark.sql.shuffle.partitions"
        val spPrev = spark.conf.get(spKey)
        try { spark.conf.set(spKey, w); semRun(n) }
        finally spark.conf.set(spKey, spPrev)
      }
      guarded("semdedup_lsh") {
      semRun(100000L) // untimed JIT warmup (the cc_star argument above)
      // untimed FULL-SCALE warmup, one run: the FIRST 6M-row execution
      // in a JVM pays ~2× regardless of shuffle width (measured in one
      // JVM, same width back-to-back: 200.7 s first, 96.4 s second —
      // heap expansion to tens of GB plus C2 for the big-partition
      // paths; a 100K warmup does not touch either). Without this the
      // decade point measures JVM lifecycle, not the operator, and
      // WHICH 6M variant ran first silently decided which control
      // looked slow in earlier artifacts.
      locally {
        graft.pipeline.Vec.semDedupLsh(vecs(6000000L), "vec_id",
          "embedding", dim = 32, iters = 2, threshold = 0.999,
          shardTarget = 4096).count()
        reclaim()
      }
      val semS = semRunSized(600000L) // n/100K = 6 -> the 16 floor
      val semB = semRunSized(6000000L) // n/100K = 60 -> 64
      val semX = semB / (semS * 10)
      println(f"[stress100] semdedup_lsh (volume-sized width): " +
        f"600K $semS%.2f s, 6M $semB%.2f s, per-decade $semX%.3f")
      // EQUAL-OCCUPANCY control for the semdedup_lsh decade point: the
      // shard space is 2^⌈log2(n/shardTarget)⌉, so mean occupancy (and
      // the count-derived per-shard k = per-row assignment work) rides
      // a bounded sawtooth in [shardTarget/2, shardTarget] as n moves
      // between powers of two. 600K lands at occupancy 2344 (k=37)
      // while 6M lands at 2930 (k=46) — a 1.24× per-row handicap
      // BUILT INTO the decade endpoints. 750K lands at exactly 6M's
      // occupancy (2930, k=46): if 750K→6M (8×) runs ≈linear, the
      // decade point's excess is the sawtooth, not a scaling bend.
      val semC = semRunSized(750000L) // n/100K = 7 -> the 16 floor
      val semXeq = semB / (semC * 8)
      println(f"[stress100] semdedup_lsh equal-occupancy control: " +
        f"750K $semC%.2f s vs 6M $semB%.2f s, x_vs_linear $semXeq%.3f")
      // FIXED-WIDTH control: the same 6M run through the suite's 16
      // partitions — what a deployment pays for NOT resizing. Per-task
      // state in the assign aggregate / subdivision window grows 10×
      // when the width stays put, and the old-gen pressure makes this
      // number GC-bimodal (131-221 s across same-code runs) — recorded
      // as the capacity-sizing cost, deliberately NOT the headline.
      val semW = semRun(6000000L)
      val semXw = semW / (semC * 8)
      println(f"[stress100] semdedup_lsh 6M @16 fixed width: " +
        f"$semW%.2f s, x_vs_linear vs 750K $semXw%.3f")
      // stage-level attribution (r8 demand: separate bucket-occupancy
      // growth from adaptive-k growth): probed runs force each stage,
      // so their totals are NOT comparable to the unprobed times above
      // — only the per-stage RATIOS between scales are the signal
      def semProbe(n: Long): Seq[(String, Double)] = {
        val p = new graft.pipeline.StageProbe(true)
        val t0 = System.nanoTime()
        val out = graft.pipeline.Vec.semDedupLshProbed(
          vecs(n), "vec_id", "embedding", dim = 32, iters = 2,
          threshold = 0.999, shardTarget = 4096, targetCellSize = 64,
          kMin = 2, kMax = 4096, seed = 7L, probe = p)
        val pairs = out.count()
        val total = (System.nanoTime() - t0) / 1e9
        // residual = the within-cell pair join + threshold filter (the
        // only unstaged execution left after the staged barriers)
        p.metric("pair_join_sec", total - p.timings.collect {
          case (k, v) if k.endsWith("_sec") || k.startsWith("lloyd_") ||
            k == "lsh_route" || k == "shard_k_window" ||
            k == "final_assign_subdivide" => v
        }.sum)
        p.metric("probed_total_sec", total)
        p.metric("out_pairs", pairs.toDouble)
        p.release()
        reclaim()
        p.timings.toSeq
      }
      val bdS = semProbe(600000L)
      val bdB = semProbe(6000000L)
      def bdJson(s: Seq[(String, Double)]) = s.map { case (k, v) =>
        s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
      println(s"[stress100] semdedup_lsh breakdown 600K: " +
        bdS.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      println(s"[stress100] semdedup_lsh breakdown 6M:   " +
        bdB.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      s""""semdedup_lsh":{"widths":"volume-sized (~100K rows/task): 600K/750K @16, 6M @64","n_small":600000,"sec_small":${f"$semS%.2f"},"n_big":6000000,"sec_big":${f"$semB%.2f"},"x_per_decade":${f"$semX%.3f"},"equal_occupancy_control":{"n_small":750000,"sec_small":${f"$semC%.2f"},"n_big":6000000,"sec_big":${f"$semB%.2f"},"x_vs_linear":${f"$semXeq%.3f"}},"fixed_width_control":{"n":6000000,"shuffle_partitions":16,"sec":${f"$semW%.2f"},"x_vs_linear_vs_750k":${f"$semXw%.3f"}},"breakdown_600k":${bdJson(bdS)},"breakdown_6m":${bdJson(bdB)}$ccControlJson}"""
      }
      // wedge-join 100× point (r8 demand #6): graph_jaccard's shape —
      // fingerprint-bucket wedge join, cost Σ_fp c_fp² — on a synthetic
      // bipartite whose bucket sizes stay Poisson(3) at BOTH scales
      // (ids and fps grow with memberships), so linear-in-memberships
      // is the contract under test; the fixture's own co-supplier
      // replica would instead measure the projection's quadratic
      // replica fan-out (the cc_star argument, same reason, same fix)
      def membership(nIds: Long, m: Long) = spark.range(m).select(
        pmod(xxhash64(col("id")), lit(nIds)).as("id"),
        pmod(xxhash64(col("id") + m), lit(m / 3)).as("fp"))
      def jacRun(nIds: Long, m: Long): Double = minOf2 {
        val nbrs = membership(nIds, m).distinct()
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
      guarded("graph_jaccard_synth") {
        val jacS = jacRun(600000L, 1800000L)
        val jacB = jacRun(6000000L, 18000000L)
        val jacX = jacB / (jacS * 10)
        println(f"[stress100] graph_jaccard synth: 1.8M memberships $jacS%.2f s, " +
          f"18M $jacB%.2f s, per-decade $jacX%.3f")
        s""""graph_jaccard_synth":{"memberships_small":1800000,"sec_small":${f"$jacS%.2f"},"memberships_big":18000000,"sec_big":${f"$jacB%.2f"},"x_per_decade":${f"$jacX%.3f"}}"""
      }
      // pageRank/HITS iteration-shape 100× points (r11 demand #4): the
      // round-11 rework (one-scan symmetrize, eager row-block staging
      // with deterministic release, observe-based L1) had only 10×
      // fixture evidence — a synthetic decade pair pins the
      // per-iteration O(|edges|) claim at the scale the cc_star and
      // jaccard shapes are already held to. Same generator as cc_star
      // (node ids grow with the edge count, so degree stays bounded at
      // both endpoints); iters match the registered queries (5 / 3),
      // and 6M nodes of 16-byte score rows pass the broadcast gate
      // (2 × 96 MB ≤ the default 1 GiB maxResultSize), so both
      // endpoints run the SAME join strategy (the shuffled fallback's
      // equality is GraphSpec-pinned separately).
      guarded("graph_pagerank_synth") {
        def prRun(n: Long, m: Long): Double = minOf2 {
          graft.pipeline.Graph.pageRank(
            edgesOf(n, m), "src", "dst", iters = 5).count()
        }
        prRun(60000L, 180000L) // untimed JIT warmup (the cc_star argument)
        val prS = prRun(600000L, 1800000L)
        val prB = prRun(6000000L, 18000000L)
        val prX = prB / (prS * 10)
        println(f"[stress100] graph_pagerank synth: 1.8M edges $prS%.2f s, " +
          f"18M $prB%.2f s, per-decade $prX%.3f")
        s""""graph_pagerank_synth":{"edges_small":1800000,"sec_small":${f"$prS%.2f"},"edges_big":18000000,"sec_big":${f"$prB%.2f"},"x_per_decade":${f"$prX%.3f"}}"""
      }
      guarded("graph_hits_synth") {
        def hitsRun(n: Long, m: Long): Double = minOf2 {
          graft.pipeline.Graph.hits(
            edgesOf(n, m), "src", "dst", iters = 3).count()
        }
        hitsRun(60000L, 180000L) // untimed JIT warmup
        val hitS = hitsRun(600000L, 1800000L)
        val hitB = hitsRun(6000000L, 18000000L)
        val hitX = hitB / (hitS * 10)
        println(f"[stress100] graph_hits synth: 1.8M edges $hitS%.2f s, " +
          f"18M $hitB%.2f s, per-decade $hitX%.3f")
        s""""graph_hits_synth":{"edges_small":1800000,"sec_small":${f"$hitS%.2f"},"edges_big":18000000,"sec_big":${f"$hitB%.2f"},"x_per_decade":${f"$hitX%.3f"}}"""
      }
      // text-model family 100× points (r10 demand #8): the two slowest
      // non-graph non-dedup queries are model-train + corpus-score
      // shapes whose MODEL side is bounded by construction (vocab-sized
      // bigram counts; 6 merge literals) — the claim under test is that
      // the corpus side stays linear: the bigram scoring join ships the
      // broadcast model to a scan-bound map, and BPE encode is literal
      // replace calls + one doc-keyed aggregate. Deterministic synth:
      // 30 tokens/doc from a 1000-word vocab (id-hash), so vocabulary —
      // and with it the model size — is CONSTANT across scales while
      // the corpus grows a clean decade.
      def texts(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("w"), pmod(xxhash64(col("id") * 31 + i), lit(1000)))))
          .as("text"))
      guarded("text_perplexity_synth") {
        def ppxRun(n: Long): Double = minOf2 {
          graft.pipeline.TextAnalysis.bigramCrossEntropy(
            texts(n), "doc_id", "text").count()
        }
        ppxRun(100000L) // untimed JIT warmup (the cc_star argument)
        val ppxS = ppxRun(600000L)
        val ppxB = ppxRun(6000000L)
        val ppxX = ppxB / (ppxS * 10)
        println(f"[stress100] text_perplexity synth: 600K docs $ppxS%.2f s, " +
          f"6M $ppxB%.2f s, per-decade $ppxX%.3f")
        s""""text_perplexity_synth":{"docs_small":600000,"sec_small":${f"$ppxS%.2f"},"docs_big":6000000,"sec_big":${f"$ppxB%.2f"},"x_per_decade":${f"$ppxX%.3f"}}"""
      }
      guarded("text_bpe_encode_synth") {
        def bpeRun(n: Long): Double = minOf2 {
          val docs = texts(n)
          val merges = graft.pipeline.TextAnalysis.bpeTrain(docs, "text", merges = 6)
          graft.pipeline.TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
            .count()
        }
        bpeRun(100000L) // untimed JIT warmup
        val bpeS = bpeRun(600000L)
        val bpeB = bpeRun(6000000L)
        val bpeX = bpeB / (bpeS * 10)
        println(f"[stress100] text_bpe_encode synth: 600K docs $bpeS%.2f s, " +
          f"6M $bpeB%.2f s, per-decade $bpeX%.3f")
        s""""text_bpe_encode_synth":{"docs_small":600000,"sec_small":${f"$bpeS%.2f"},"docs_big":6000000,"sec_big":${f"$bpeB%.2f"},"x_per_decade":${f"$bpeX%.3f"}}"""
      }
      assembled
    }.getOrElse("")
    println(s"""{"metric":"stress_total","value":$total,"unit":"sec","factor":$factor,"base":"$srcDir","cpus":$cpus,"driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}","queries":$qs$aux$semAux$aux100}""")
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
    try {
      // brace-matched extraction (BenchDelta) — the old indexOf('}')
      // scan truncated at the first nested close brace
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      BenchDelta.parseFlatObject(txt, "queries")
    } catch { case _: Exception => Map.empty }
}
