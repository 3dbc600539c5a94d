package graft

/** The bench noise protocol, factored PURE so the adjudication rules
  * are replayable in a spec against recorded artifacts (no Spark, no
  * clock): [[Bench]] feeds it this run's timings, it answers which
  * queries deserve a re-run and whether the HOST is too suspect for
  * any per-query flag to be believed.
  *
  * Why a host gate at all: suite timings on a contended machine
  * inflate 1.3-1.7× uniformly, and a per-query threshold read against
  * a clean baseline then flags half the suite. Round 8 proved the
  * residual hole — a 1.294× host slipped under the old 1.3 bound and
  * its same-host confirmation re-runs "confirmed" 9 regressions that
  * a quiet host disproved one by one. Two changes close it:
  *
  *  - the flag BASELINE is the committed per-query min over all
  *    recorded clean runs (BENCH_FLOOR.json), not the immediately
  *    previous record — a noisy record written on top of
  *    BENCH_local.json can no longer poison the next round's delta;
  *  - the host gate is two-sided and count-aware: median ratio
  *    > 1.25 (was 1.3), OR more same-host flags than a real
  *    single-round regression plausibly produces (> 5) — when it
  *    trips, candidates are REPORTED but not flagged, because the
  *    confirmation re-run would run on the same contended host and
  *    rubber-stamp them.
  *
  * Sub-second queries get an absolute slack on top of the ratio test
  * (min-of-history is a tight floor; a 0.3 s query routinely doubles
  * on scheduler jitter without anything being wrong — and a
  * regression that small can't move the suite).
  */
object BenchDelta {

  /** `"<key>":{...}` extracted with BRACE MATCHING (the old
    * indexOf('}') scan silently truncated the object at the first
    * nested close brace — fine while values were scalars, a latent
    * trap for any future nested value), parsed as a flat
    * name → number map. Returns empty on absent/malformed input. */
  def parseFlatObject(txt: String, key: String): Map[String, Double] =
    parseFlatObjectOpt(txt, key).getOrElse(Map.empty)

  /** Like [[parseFlatObject]] but PRESERVES the absent-vs-empty
    * distinction: `None` = no well-formed `"<key>":{...}` object in the
    * text (treat as unparseable/corrupt), `Some(empty)` = the object is
    * there but holds no numeric entries (a legitimately empty seed, or
    * a tool re-dump whose number format escapes the regex). Bench's
    * floor-update gate needs the difference — a validly-empty floor
    * may be min-merged into; a corrupt one must never be overwritten. */
  def parseFlatObjectOpt(txt: String, key: String): Option[Map[String, Double]] =
    objectBody(txt, key).map { body =>
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r
        .findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }

  /** `"<key>":{"name":[a,b],...}` → name → reps (for replaying a
    * recorded run's full per-rep timings through [[analyze]]). */
  def parseRunsObject(txt: String, key: String): Map[String, Seq[Double]] =
    objectBody(txt, key).map { body =>
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\[([^\\]]*)\\]".r
        .findAllMatchIn(body)
        .map(m => m.group(1) ->
          m.group(2).split(',').toSeq.filter(_.trim.nonEmpty)
            .map(_.trim.toDouble))
        .toMap
    }.getOrElse(Map.empty)

  private def objectBody(txt: String, key: String): Option[String] = {
    // whitespace-tolerant `"key" : {` locator (artifacts are written
    // compact by Bench, but the committed floor file may be re-dumped
    // pretty-printed by tooling)
    val start = ("\"" + key + "\"\\s*:\\s*\\{").r
      .findFirstMatchIn(txt).map(_.end).getOrElse(-1)
    if (start < 0) None
    else {
      var i = start
      var depth = 1
      // String-aware depth counting: this is the shared parser (Stress
      // reads bench records through it too) and BENCH_FLOOR.json carries
      // a free-text "note" field — a brace inside any quoted value must
      // not shift or truncate the match.
      var inString = false
      while (i < txt.length && depth > 0) {
        val ch = txt.charAt(i)
        if (inString) {
          if (ch == '\\') i += 1 // skip the escaped character
          else if (ch == '"') inString = false
        } else ch match {
          case '"' => inString = true
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ =>
        }
        i += 1
      }
      if (depth == 0) Some(txt.substring(start, i - 1))
      else None
    }
  }

  /** `"counters":{"<query>":{"jobs":3,...},...}` (the Bench record's
    * work counters) → query → counter → count. Empty on absent input. */
  def parseCounters(txt: String): Map[String, Map[String, Long]] =
    objectBody(txt, "counters").map { body =>
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{([^{}]*)\\}".r.findAllMatchIn(body)
        .map(m => m.group(1) -> "\"([a-z_]+)\"\\s*:\\s*(-?[0-9]+)".r
          .findAllMatchIn(m.group(2)).map(c => c.group(1) -> c.group(2).toLong).toMap)
        .toMap
    }.getOrElse(Map.empty)

  /** The counters compared between runs: jobs, stages and tasks follow
    * from the plans (at a fixed core count), not from the host's speed,
    * so any change is a change in the work done. */
  val DriftCounters = Seq("jobs", "stages", "tasks")

  final case class Drift(name: String, counter: String, before: Long, after: Long)

  /** Every [[DriftCounters]] count that differs between two runs, for
    * the queries and counters both runs recorded; sorted by query. */
  def counterDrift(before: Map[String, Map[String, Long]],
      after: Map[String, Map[String, Long]]): Seq[Drift] =
    for {
      (name, now) <- after.toSeq.sortBy(_._1)
      was <- before.get(name).toSeq
      c <- DriftCounters
      x <- was.get(c).toSeq
      y <- now.get(c).toSeq if x != y
    } yield Drift(name, c, x, y)

  /** One query's candidacy evidence: floor baseline, this run's reps. */
  final case class Candidate(name: String, baseline: Double, reps: Seq[Double])

  final case class Analysis(
      hostX: Double, // median(best / baseline) over common queries
      nCommon: Int,
      hostSuspect: Boolean, // flags below are NOT trustworthy
      floorSafe: Boolean, // this run's mins may min-merge into the floor
      candidates: Seq[Candidate], // every-rep-over-threshold queries
      // ABSOLUTE-ANOMALY escape hatch (r13: graph_hits recorded 85.4 s
      // against a 1.85 s floor on a 1.69× host and the suspect-host
      // suppression reduced a 46× candidate to a silent
      // suppressed_candidates entry — "n_flagged: 0", no prose). Host
      // drift on this VM class is 1.2–2×; nothing host-shaped explains
      // >5×. A candidate whose MIN rep exceeds AnomalyX× the
      // host-normalized floor lands here and MUST get the min-of-
      // [[RerunReps]] same-session rerun and a named artifact entry,
      // suspect host or not.
      anomalies: Seq[Candidate] = Seq.empty)

  /** Per-query flag bound: ratio test, host-normalized, with an
    * absolute slack so min-of-history floors on sub-second queries
    * don't flag scheduler jitter. */
  def bound(baseline: Double, hostX: Double,
      thresholdX: Double = ThresholdX, absSlack: Double = AbsSlackSec): Double =
    math.max(thresholdX * hostX * baseline, baseline + absSlack)

  val ThresholdX = 1.5
  val AbsSlackSec = 0.5
  val HostSuspectX = 1.25
  val MaxCredibleFlags = 5
  // Adjudication rerun rep count for flagged candidates: checkpoint/
  // staging-heavy queries carry a first-rep warmup tax that min-of-2
  // doesn't reliably shed (r12 evidence: dedup_prefix rep pairs
  // [2.87, 1.35] driver-side and [10.26, 3.79, 2.57] builder-side) —
  // the rerun is exactly where the protocol needs precision, so it
  // takes one more rep than the suite pass.
  val RerunReps = 3
  // The many-candidates gate only fires on an ELEVATED host: with a
  // near-1.0 median, many simultaneous candidates is evidence of a real
  // broad regression (one shared helper can regress a whole family),
  // not contention — suppressing those would hide exactly the event the
  // delta exists to catch.
  val ElevatedHostX = 1.1
  // Anomaly bound: min rep > AnomalyX × host-normalized floor (with the
  // sub-second AbsSlackSec guard, so a 0.08 s floor can't call one
  // jittered pair of reps a 5× event). See [[Analysis.anomalies]].
  val AnomalyX = 5.0
  // Pre-flight host probe: before the suite, [[graft.Bench]] times
  // these control queries (min of 2 reps each) and WARNS — loudly, in
  // the first minute, recorded in the artifact — when the median ratio
  // against the RECORDED COLD BASELINES exceeds PreflightMaxX. Rounds
  // 11–13 each burned a full ~5-min run on a host whose contention was
  // measurable in that first minute. Two calibration facts, both
  // measured on this repo's quiet r14 seeding hosts, shape the design:
  //  - the probe runs on a COLD JVM (C2 hasn't compiled the SQL stack)
  //    where controls read 1.5–4× their warm-suite floors — a quiet
  //    host measured suite-median 0.974 with a warm-floor probe ratio
  //    of 4.085, so comparing against the warm floors would refuse
  //    every run. The baseline must be cold-vs-cold: the floor file
  //    carries a "preflight" object of recorded cold control mins.
  //  - cold-start times jitter ~1.4× between equally-quiet runs (JIT
  //    races, 0.869 vs 1.244 s on back-to-back clean hosts), so the
  //    threshold is 2.0, not the warm-protocol 1.3.
  // The probe is an EARLY WARNING; the authority for refusing to
  // overwrite the committed record is the POST-suite host verdict
  // ([[recordWritable]]) — a 248-query median is strictly better
  // evidence than 3 cold queries, and the write decision can wait for
  // it.
  val PreflightMaxX = 2.0
  val PreflightControls = Seq("q1_agg", "text_tokens", "a5_min_time")

  // Cold-baseline merge damping: a bare min-merge tightens the
  // preflight bound toward the best cold start EVER seen — with the
  // documented ~1.4× cold-start jitter, a few lucky JIT races
  // accumulate into a baseline no routine quiet host can match, and
  // the 2.0× warning starts firing on healthy runs. Each clean run
  // may therefore lower a control's recorded cold baseline by at most
  // this fraction; repeated genuinely-faster runs still converge, one
  // outlier cannot set the bar.
  val ColdMergeMaxDrop = 0.25

  /** Merge one preflight control's recorded cold baseline with this
    * run's cold min (monotone downward, damped by
    * [[ColdMergeMaxDrop]]). Absent on either side keeps the other. */
  def coldMerge(recorded: Option[Double], current: Option[Double]): Option[Double] =
    (recorded, current) match {
      case (Some(f), Some(b)) =>
        Some(math.min(f, math.max(b, f * (1 - ColdMergeMaxDrop))))
      case (Some(f), None) => Some(f)
      case (None, Some(b)) => Some(b)
      case _ => None
    }

  final case class Preflight(hostX: Option[Double], ok: Boolean)

  /** Pre-suite host probe, PURE for the spec: median of (min successful
    * rep / recorded cold baseline) over the control queries. No
    * baseline for any control (fresh seed, renamed queries) →
    * inconclusive → ok=true: the probe must never block the bootstrap
    * seeding run. */
  def preflight(controls: Map[String, Seq[Double]],
      coldBaseline: Map[String, Double]): Preflight = {
    val ratios = controls.toSeq.flatMap { case (name, reps) =>
      val ok = reps.filter(_ >= 0)
      coldBaseline.get(name).filter(_ > 0)
        .flatMap(f => if (ok.isEmpty) None else Some(ok.min / f))
    }.sorted
    if (ratios.isEmpty) Preflight(None, ok = true)
    else {
      val med = ratios(ratios.size / 2)
      Preflight(Some(med), med <= PreflightMaxX)
    }
  }

  /** May this run overwrite the COMMITTED full-suite record
    * (BENCH_local.json)? The r13 lesson: a slow-suspect-host run
    * shipped a 46× stalled entry as the working-tree record. Rule:
    * an explicitly named output target always writes (the caller
    * asked); otherwise the run must not be slow-suspect (fast-side
    * deviation is a genuinely good run and DOES write — same polarity
    * as the floor-merge gate it reuses). */
  def recordWritable(a: Analysis, explicitOut: Boolean): Boolean =
    explicitOut || a.floorSafe

  /** @param runs     this run: name → per-rep seconds (negative rep =
    *                 query failed; never flagged here, Bench records
    *                 failures separately)
    * @param baseline name → flag baseline seconds (the committed
    *                 floor; callers may merge in a previous record
    *                 for queries the floor hasn't seen) */
  def analyze(runs: Map[String, Seq[Double]],
      baseline: Map[String, Double]): Analysis = {
    val pairs = runs.toSeq.collect {
      case (name, reps) if reps.nonEmpty && reps.forall(_ >= 0) &&
          baseline.get(name).exists(_ > 0) =>
        (name, baseline(name), reps)
    }
    val ratios = pairs.map { case (_, p, reps) => reps.min / p }.sorted
    val hostX = if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    val candidates = pairs.collect {
      case (name, p, reps) if reps.forall(_ > bound(p, hostX)) =>
        Candidate(name, p, reps)
    }
    val anomalies = pairs.collect {
      case (name, p, reps)
          if reps.min > math.max(AnomalyX * hostX * p, p + AbsSlackSec) =>
        Candidate(name, p, reps)
    }
    // Slow-side suspicion blocks BOTH flags and floor updates (inflated
    // timings are noise). Fast-side deviation (a suite-wide genuine
    // speedup) still suppresses flags — the hostX-normalized bound would
    // shrink and over-flag — but its mins are real improvements, so the
    // floor may min-merge them; otherwise a broad optimization round
    // reads as "bad host" and the floor stays stale forever.
    val slowSuspect = hostX > HostSuspectX ||
      (candidates.size > MaxCredibleFlags && hostX > ElevatedHostX)
    val fastSuspect = hostX < 1.0 / HostSuspectX
    Analysis(hostX, pairs.size, slowSuspect || fastSuspect,
      floorSafe = !slowSuspect, candidates, anomalies)
  }
}
