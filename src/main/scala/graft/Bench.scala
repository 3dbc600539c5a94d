package graft
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftListenerBridge, SparkSession}
import java.util.concurrent.atomic.AtomicLong

/** The measurement runner shared by every main (Bench, Stress, Verify,
  * Explain): one session builder and one timed-rep loop, plus the
  * suite bench itself in [[main]]. */
object Bench {
  /** The timing ACTION: execute the optimized plan AS WRITTEN and count
    * rows executor-side. `df.count()` is NOT that action — Catalyst
    * wraps the plan in a count(1) aggregate, ColumnPruning then discards
    * every final projection expression and EliminateSorts removes the
    * output orderBy, so for map-only expression queries the old bench
    * measured a bare parquet scan (r13 verdict: text_fingerprint's
    * full-text FNV fold "floored" at 0.079 s, byte-identical to
    * text_tokens' 0.077 s and a raw scan) and a regression in ANY
    * projection-level expression was invisible to the whole perf
    * protocol. `queryExecution.toRdd` executes the physical plan of the
    * query itself — projections, final sort and all — and RDD.count()
    * drains the rows where they are produced; nothing crosses to the
    * driver. Floors recorded before this change (rounds ≤13) time a
    * different action and are NOT comparable: BENCH_FLOOR.json was
    * re-seeded from scratch in round 14 (reset named in COVERAGE.md).
    * Plan-shape lock: PlanShapeSpec's "bench timing action" tests. */
  def exec(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // Untimed warmup: JIT/codegen/session init would otherwise be
    // charged to whichever query runs first.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // `reps` timed runs per query, report the MIN (steady-state: the
    // first run carries plan compilation + codegen + page-cache warmup,
    // which a long-lived cluster amortizes away). Failed queries are
    // recorded as NEGATIVE elapsed time (error marker, distinguishable
    // from a fast success) and excluded from the headline total.
    val selected = SparkEntry.queries.filter(q => wanted(q._1))
    if (selected.isEmpty) System.err.println(
      s"[bench] WARNING: filter '${nameFilter.getOrElse("")}' selects no queries")
    def writeFile(path: String, text: String): Unit =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    val benchOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val outPath = artifactPath(benchOut, None)
    // BENCH_DELTA.json — mechanized noise protocol, logic in
    // [[BenchDelta]] (pure, replayed in BenchDeltaSpec against the
    // recorded round-8 contended-host record). The flag BASELINE is
    // the committed per-query min-of-history floor — a noisy record
    // overwriting BENCH_local.json can no longer poison the next
    // run's delta; the previous record only fills in queries the
    // floor hasn't seen (new operators).
    val floorPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_FLOOR", "/root/repo/BENCH_FLOOR.json")
    // File-ABSENT vs file-CORRUPT matter differently below: an absent
    // floor (fresh environment / new SPARK_GRAFT_BENCH_FLOOR path) is
    // seeded from the first clean full-suite run; a present-but-
    // unparseable floor is never overwritten (refusing protects the
    // committed history from a parser bug clobbering it).
    val floorText = readFile(floorPath)
    // Some(map) = a well-formed queries object (possibly EMPTY — a
    // legitimately empty seed or a re-dump whose numbers escaped the
    // regex is still a valid file to min-merge into); None = the file
    // exists but carries no parseable queries object (corrupt — never
    // overwrite it, it may be the committed history mangled by a tool).
    val floorParsed = floorText.flatMap(BenchDelta.parseFlatObjectOpt(_, "queries"))
    val floor = floorParsed.getOrElse(Map.empty).filter(_._2 > 0)
    // PRE-FLIGHT host probe (decision logic pure in BenchDelta, spec'd
    // in BenchDeltaSpec — see the calibration notes on
    // BenchDelta.PreflightMaxX): 3 control queries × 2 reps, BEFORE
    // the suite burns 5 minutes, compared against the RECORDED COLD
    // baselines in the floor file's "preflight" object (cold-vs-cold:
    // a cold JVM reads 1.5–4× the warm-suite floors, so warm floors
    // are not a valid reference). Rounds 11–13 each ran their full
    // suite on a host whose contention was measurable inside the
    // first minute; this probe makes that first minute a recorded
    // WARNING. The committed-record overwrite decision itself is
    // post-suite (BenchDelta.recordWritable on the 248-query median —
    // strictly better evidence than 3 cold queries). The probe doubles
    // as extra JIT warmup; with a fresh/empty floor it is inconclusive
    // and never warns on the bootstrap seeding run.
    val coldBase = floorText
      .flatMap(BenchDelta.parseFlatObjectOpt(_, "preflight"))
      .getOrElse(Map.empty).filter(_._2 > 0)
    val preflightRuns: Map[String, Seq[Double]] =
      BenchDelta.PreflightControls.flatMap { n =>
        SparkEntry.queries.get(n).map(fn => n -> time(2)(exec(fn(spark, sfDir))).secs)
      }.toMap
    val pf = BenchDelta.preflight(preflightRuns, coldBase)
    val pfJson = s""""preflight":{"host_x_cold":${
      pf.hostX.fold("null")(x => f"$x%.3f")},"ok":${pf.ok},"max_x":${
      BenchDelta.PreflightMaxX},"controls":${
      preflightRuns.toSeq.sortBy(_._1).map { case (n, rs) =>
        "\"" + n + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")}}"""
    if (!pf.ok) System.err.println(
      s"[bench] PREFLIGHT WARNING: cold-control median ${
        pf.hostX.fold("?")(x => f"$x%.2f")}x the recorded cold baseline " +
        s"(bound ${BenchDelta.PreflightMaxX}) — this host looks contended; " +
        "the suite will still run; the committed-record overwrite and the " +
        s"floor merge are decided by the post-suite ${selected.size}-query " +
        "verdict (floorSafe), which is strictly better evidence than this probe")
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = time(reps)(exec(fn(spark, sfDir)))
      t.failure.foreach(e =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      // Isolation between queries, never between reps (a cache leaked
      // into rep 2 stays visible): a query that caches/persists must
      // not bill its successors (a leaked cache squeezes execution
      // memory for every later query — suite numbers then overstate
      // late-alphabet queries). Library code releases its own caches;
      // this is belt-and-braces so one bad op can't poison the suite.
      spark.catalog.clearCache()
      name -> t
    }
    val qs = results.map { case (k, t) => "\"" + k + "\":" + t.best }
      .mkString("{", ",", "}")
    // full per-rep record: min-only artifacts made round-over-round
    // regressions undiagnosable (warm-up vs steady-state is invisible)
    val runsJson = results.map { case (k, t) =>
      "\"" + k + "\":" + t.secs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // the last rep's work counters ride beside the timings, in their
    // own object, so the flat queries/runs parsers never see them
    val countersJson = results.map { case (k, t) =>
      "\"" + k + "\":" + t.counters.json }.mkString("{", ",", "}")
    val total = results.map(_._2.best).filter(_ >= 0).sum
    val env =
      s""""reps":$reps,"cpus":$cpus,"filter":${
        nameFilter.fold("null")(f => "\"" + f + "\"")}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",$env,$pfJson,"runs":$runsJson,"counters":$countersJson}"""
    println(line)
    val prevRecord = readFile(outPath)
    val prevBench = prevRecord
      .map(BenchDelta.parseFlatObject(_, "queries")).getOrElse(Map.empty)
      .filter(_._2 > 0)
    val baseline = prevBench ++ floor
    val analysis = BenchDelta.analyze(
      results.map { case (n, t) => n -> t.secs }.toMap, baseline)
    val hostX = analysis.hostX
    // Post-suite rerun machinery, shared by candidate adjudication and
    // anomaly handling (cached so a non-suspect-host anomaly — which is
    // always also a candidate — reruns once, not twice).
    val rerunCache = scala.collection.mutable.Map.empty[String, Double]
    def rerunMin(name: String): Double = rerunCache.getOrElseUpdate(name, {
      val reruns = time(BenchDelta.RerunReps)(exec(selected(name)(spark, sfDir))).secs
      spark.catalog.clearCache()
      if (reruns.exists(_ >= 0)) reruns.filter(_ >= 0).min else -1.0
    })
    def entryJson(c: BenchDelta.Candidate, rerun: Double): String = {
      val best = if (rerun >= 0) math.min(c.reps.min, rerun) else c.reps.min
      "\"" + c.name + "\":{\"floor\":" + f"${c.baseline}%.3f" +
        ",\"runs\":" + c.reps.map(r => f"$r%.3f").mkString("[", ",", "]") +
        ",\"rerun\":" + f"$rerun%.3f" +
        ",\"x_raw\":" + f"${best / c.baseline}%.2f" +
        ",\"x_host_normalized\":" + f"${best / (c.baseline * hostX)}%.2f" + "}"
    }
    // ADJUDICATION: transient contention during the suite flags whole
    // IO-bound families as regressions that aren't (round 7 shipped 14
    // such false alarms; round 8's contended driver shipped 9 more).
    // On a credible host, re-run each candidate BenchDelta.RerunReps
    // times (min-of-3 — a single cold re-run kept sub-second flags
    // alive on plan-compile cost alone, and min-of-2 still didn't
    // reliably shed the first-rep staging warmup on checkpoint-heavy
    // queries: dedup_prefix rep pairs read [2.87, 1.35] on the r12
    // driver run) and keep only those STILL over the bound. On a SUSPECT host (median off
    // by >1.25×, or more simultaneous flags than one round plausibly
    // regresses), re-running on the same contended machine would just
    // rubber-stamp the noise — candidates are reported but not
    // flagged; re-measure on a quiet host instead. EXCEPTION (the r13
    // graph_hits lesson, a silent 46× entry): an ANOMALY — min rep
    // > 5× the host-normalized floor, nothing host-shaped on this VM
    // class explains >5× — ALWAYS gets the rerun and a named
    // `anomalies` entry, suspect host or not.
    val adjudicated = if (analysis.hostSuspect) Seq.empty
    else analysis.candidates.flatMap { c =>
      val rerun = rerunMin(c.name)
      val body = entryJson(c, rerun)
      // A query whose EVERY adjudication rerun threw is a crash, not a
      // timing regression — its suite reps may even be stale successes.
      // Conflating the two made a post-suite-only crash read as a
      // confirmed slowdown; route it to its own artifact key.
      if (rerun < 0) Some(Left(body))
      else if (rerun <= BenchDelta.bound(c.baseline, hostX)) None
      else Some(Right(body))
    }
    val flagged = adjudicated.collect { case Right(s) => s }
    val rerunFailed = adjudicated.collect { case Left(s) => s }
    val anomalies = analysis.anomalies.map(c => entryJson(c, rerunMin(c.name)))
    val suppressed = if (!analysis.hostSuspect) Seq.empty
    else analysis.candidates.map(c =>
      "\"" + c.name + "\":{\"floor\":" + f"${c.baseline}%.3f" +
        ",\"runs\":" + c.reps.map(r => f"$r%.3f").mkString("[", ",", "]") + "}")
    // Host fingerprint rides with the artifact so a drifted median can
    // be told apart from a suite-wide regression on an identical host:
    // if the fingerprint matches the previous run's and host_x_median
    // still exceeds the bound, the "host factor" IS the regression.
    val cores = Runtime.getRuntime.availableProcessors()
    val osArch = System.getProperty("os.arch")
    // work-counter drift against the previous record at the same width:
    // reported beside the timing flags, whatever the host verdict
    val drift = prevRecord.filter(_.contains(s""""cpus":$cpus,""")).toSeq.flatMap(t =>
      BenchDelta.counterDrift(BenchDelta.parseCounters(t), BenchDelta.parseCounters(line)))
    val driftJson = drift.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ds) =>
      "\"" + n + "\":" + ds.map(d => s""""${d.counter}":[${d.before},${d.after}]""")
        .mkString("{", ",", "}") }.mkString("{", ",", "}")
    val deltaJson =
      s"""{"threshold_x":${BenchDelta.ThresholdX},"rule":"all reps AND a min-of-${BenchDelta.RerunReps} post-suite rerun > max(1.5x host-normalized floor, floor+0.5s); floor = committed per-query min-of-history; no flags from a suspect host (median >1.25x off, or >5 simultaneous candidates on an elevated (>1.1x) host) — EXCEPT anomalies: min rep > ${BenchDelta.AnomalyX}x host-normalized floor forces the rerun and a named anomalies entry even on a suspect host; fast-side hosts suppress flags but may still lower the floor; preflight cold-control median > ${BenchDelta.PreflightMaxX}x the recorded cold baseline WARNS pre-suite; a slow-suspect suite verdict refuses the committed-record overwrite (recordWritable)","baseline":"floor","host_x_median":${f"$hostX%.3f"},"host":{"cores":$cores,"arch":"$osArch","cpus_env":"$cpus"},"host_x_suspect":${analysis.hostSuspect},$pfJson,"n_common":${analysis.nCommon},"n_flagged":${flagged.size},"regressions":${flagged.mkString("{", ",", "}")},"rerun_failed":${rerunFailed.mkString("{", ",", "}")},"anomalies":${anomalies.mkString("{", ",", "}")},"suppressed_candidates":${suppressed.mkString("{", ",", "}")},"counter_drift":$driftJson}"""
    // The floor is monotone: a clean-host full-suite run that beats a
    // query's recorded min lowers it (never raises — a regression must
    // not launder itself into the baseline). SLOW-suspect hosts don't
    // touch it; a uniformly FAST run is genuine improvement and DOES
    // min-merge (analysis.floorSafe). An ABSENT floor file is seeded
    // from the first clean full-suite run; a present file whose queries
    // object PARSES — even to zero entries (a legitimately empty seed,
    // or a re-dump whose number format escaped the regex) — may be
    // min-merged into; only a present-but-unparseable file (no
    // well-formed queries object at all) is never overwritten.
    // The preflight verdict does NOT gate it (it did through r14): the
    // probe is 3 cold queries against accumulated cold minima, the
    // post-suite floorSafe verdict is a full-suite median — letting the
    // weaker signal veto the stronger one turned accumulated lucky
    // cold starts into refused merges on healthy hosts. The probe
    // stays a recorded WARNING only.
    if (nameFilter.isEmpty && analysis.floorSafe &&
        (floorParsed.isDefined || floorText.isEmpty)) {
      val merged = (floor.keySet ++ results.map(_._1)).toSeq.sorted.flatMap { k =>
        val cur = results.collectFirst {
          case (n, t) if n == k && t.best >= 0 => t.best }
        (floor.get(k), cur) match {
          case (Some(f), Some(b)) => Some(k -> math.min(f, b))
          case (Some(f), None) => Some(k -> f)
          case (None, Some(b)) => Some(k -> b)
          case _ => None
        }
      }
      // cold-start preflight baselines ride in the same file, merged
      // monotone-downward but DAMPED (BenchDelta.coldMerge: at most
      // ColdMergeMaxDrop per run) — an all-time min accumulated lucky
      // JIT races until routine quiet hosts read as warnings
      // (cold-vs-cold is still the only valid probe comparison — see
      // BenchDelta.PreflightMaxX)
      val coldMerged = (coldBase.keySet ++ preflightRuns.keySet).toSeq.sorted
        .flatMap { k =>
          val cur = preflightRuns.get(k)
            .map(_.filter(_ >= 0)).filter(_.nonEmpty).map(_.min)
          BenchDelta.coldMerge(coldBase.get(k), cur).map(k -> _)
        }
      val floorJson = "{\"note\":\"per-query min steady-state seconds over " +
        "all recorded clean-state runs (sf0.1, local[32]) of the " +
        "FULL-PLAN action (queryExecution.toRdd.count - projections and " +
        "final sort execute; re-seeded r14, pre-r14 count()-action floors " +
        "are not comparable); the BENCH_DELTA flag baseline - a contended " +
        "host cannot poison it; preflight = recorded COLD-start control " +
        "mins for the pre-suite probe\",\"sf\":0.1," +
        "\"preflight\":{" + coldMerged.map { case (k, v) =>
          "\"" + k + "\":" + f"$v%.3f" }.mkString(",") + "}," +
        "\"queries\":{" + merged.map { case (k, v) =>
          "\"" + k + "\":" + f"$v%.3f" }.mkString(",") + "}}"
      writeFile(floorPath, floorJson)
    }
    // BENCH_SUMMARY.json — the driver-parse contract (exactly the three
    // keys the judge asked for), plus a numeric sf when derivable.
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir).map(_.group(1))
    // host_x_suspect rides IN the summary: the summary file used to be
    // overwritten unconditionally, so a contended run's total became
    // the committed headline even while recordWritable refused the
    // full record — the same pollution class, one file over.
    val summary =
      s"""{"total_sec":${f"$total%.3f"},"n_queries":${results.size},"sf":${sfNum.getOrElse("\"" + sfDir + "\"")},"host_x_suspect":${analysis.hostSuspect}}"""
    // Full per-query record: the driver's stdout tail-capture
    // truncates the per-query map on long runs; the artifact keeps
    // everything. A FILTERED run must not overwrite the committed
    // full-suite record (it would silently shrink the delta baseline
    // for every later run), and neither may a SLOW-SUSPECT-host run
    // (the r13 suspect record shipped a 46× stalled entry as the
    // working-tree truth; rule pure in BenchDelta.recordWritable) —
    // either only writes when the caller named an explicit
    // SPARK_GRAFT_BENCH_OUT target.
    val explicitOut = benchOut.isDefined
    // recordWritable is the ONE source of truth for the host-verdict
    // policy (explicitOut OR floorSafe); the caller only adds the
    // orthogonal filter rule: a filtered run never overwrites the
    // full-suite record unless the caller named the target.
    if (BenchDelta.recordWritable(analysis, explicitOut) &&
        (explicitOut || nameFilter.isEmpty)) {
      writeFile(outPath, line)
    } else System.err.println(
      s"[bench] ${if (nameFilter.nonEmpty) "filter active"
        else "slow-suspect host"} and no SPARK_GRAFT_BENCH_OUT: not overwriting $outPath")
    if (nameFilter.isEmpty) {
      writeFile(artifactPath(benchOut, Some("BENCH_DELTA.json")), deltaJson)
      writeFile(artifactPath(benchOut, Some("BENCH_SUMMARY.json")), summary)
    } else System.err.println(
      "[bench] filter active: BENCH_DELTA.json/BENCH_SUMMARY.json not written; delta was: " + deltaJson)
    spark.stop()
    // LAST stdout line: ~120 chars, un-prefixed (run/outputStrategy is
    // StdoutOutput so sbt's "[info] " never lands on it) and far under
    // any tail-capture window — the previous slowest-40 variant was
    // ~1.3 KB and still got sliced mid-JSON by the driver's capture,
    // which is why BENCH_r06.json landed with parsed:null.
    println(summary)
  }

  /** Where a main's files go. `benchOut` (`SPARK_GRAFT_BENCH_OUT`)
    * names the bench record, else it is the committed
    * `BENCH_local.json` in the working directory (the repo root: sbt
    * forks the mains there). Every other file a main writes or reads
    * (`artifact`: the delta, the summary, the stress records) sits in
    * the record's directory; `None` is the record itself. */
  def artifactPath(benchOut: Option[String], artifact: Option[String]): String = {
    val record = benchOut.getOrElse("BENCH_local.json")
    artifact.fold(record)(java.nio.file.Paths.get(record).resolveSibling(_).toString)
  }

  /** Local task slots of every main: `SPARK_GRAFT_CPUS`, else the
    * host's core count. Artifacts record it: scale evidence is only
    * comparable at the same width. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Timed reps per query (`SPARK_GRAFT_BENCH_REPS`, default 2). */
  lazy val reps: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)

  /** Optional regex (`SPARK_GRAFT_BENCH_FILTER`, unanchored find)
    * selecting the queries a main runs. */
  lazy val nameFilter: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
  def wanted(name: String): Boolean =
    nameFilter.forall(_.r.findFirstIn(name).isDefined)

  /** The one session builder: `local[cpus]`, as many shuffle
    * partitions, UTC, no UI; `conf` adds main-specific settings. */
  def session(conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Work done by one rep: Spark jobs, stages and tasks, shuffle bytes
    * written and read, bytes spilled to disk and input bytes read —
    * deterministic per plan, the host-independent half of a timing —
    * plus the executors' summed task run time and CPU time, which say
    * where the wall time went but vary with the host. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long,
      shuffleWriteBytes: Long, spillBytes: Long,
      inputBytes: Long, shuffleReadBytes: Long,
      executorRunMs: Long, executorCpuMs: Long) {
    def json: String = s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""input_bytes":$inputBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""executor_run_ms":$executorRunMs,"executor_cpu_ms":$executorCpuMs}"""
  }

  /** Per-rep seconds (a failed rep is its time to failure, negated),
    * the last successful rep's result, the first failure, and the
    * last rep's counters. */
  final case class Timed[A](secs: Seq[Double], result: Option[A],
      failure: Option[Throwable], counters: Counters) {
    /** The reported time: the min rep, or the first failed rep's
      * negative time — any failed rep fails the query. */
    def best: Double = secs.find(_ < 0).getOrElse(secs.min)
  }

  private final class Counting extends SparkListener {
    private val jobs, stages, tasks, shuffle, spill, input, shuffleRead, runMs, cpuNs =
      new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
    def reset(): Unit =
      Seq(jobs, stages, tasks, shuffle, spill, input, shuffleRead, runMs, cpuNs)
        .foreach(_.set(0L))
    def read: Counters = Counters(jobs.get, stages.get, tasks.get, shuffle.get,
      spill.get, input.get, shuffleRead.get, runMs.get, cpuNs.get / 1000000L)
  }

  // one counting listener per SparkContext, attached on first use
  private var counting: Option[(SparkContext, Counting)] = None
  private def countingOn(sc: SparkContext): Counting = synchronized {
    counting.filter(_._1 eq sc).map(_._2).getOrElse {
      val l = new Counting
      sc.addSparkListener(l)
      counting = Some(sc -> l)
      l
    }
  }

  /** The one timed-rep loop: runs `body` `reps` times on the active
    * session, timing each rep alone. `afterRep` runs after every rep,
    * outside the timing (cache release, GC). The listener bus is
    * drained before the last rep and after it, so the counters are
    * exactly that rep's work. A throwing rep is recorded, not raised. */
  def time[A](reps: Int, afterRep: => Unit = ())(body: => A): Timed[A] = {
    val sc = SparkSession.active.sparkContext
    val counts = countingOn(sc)
    var result = Option.empty[A]
    var failure = Option.empty[Throwable]
    val secs = (1 to reps).map { i =>
      if (i == reps) { GraftListenerBridge.waitUntilEmpty(sc); counts.reset() }
      val t0 = System.nanoTime()
      val t = try { result = Some(body); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        if (failure.isEmpty) failure = Some(e)
        -math.max((System.nanoTime() - t0) / 1e9, 0.001)
      }
      afterRep
      t
    }
    GraftListenerBridge.waitUntilEmpty(sc)
    Timed(secs, result, failure, counts.read)
  }

  private[graft] def readFile(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Exception => None }
}
