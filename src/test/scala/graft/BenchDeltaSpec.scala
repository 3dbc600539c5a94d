package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replays the round-8 bench records through the noise protocol —
  * the round-8 verdict's acceptance test, verbatim: "replay the
  * driver's noisy working-tree record through the new logic and show
  * 0 false flags; a synthetic true-regression still flags."
  *
  * Both records are committed test resources:
  *  - bench_r8_contended.json: the driver's post-commit overwrite
  *    (256.3 s suite, host 1.294× the previous record — under the old
  *    1.3 suspect bound) whose 9 "confirmed" regressions were all
  *    disproven by quiet-host re-runs;
  *  - bench_r8_clean.json: the committed clean-state record (154.1 s)
  *    the same code produced on a quiet host.
  */
class BenchDeltaSpec extends AnyFunSuite {

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)

  // The floor is FROZEN at its round-9 state alongside the records:
  // the replay validates the protocol against a known episode, and
  // the live BENCH_FLOOR.json keeps dropping as the code gets faster
  // (round 10 cut graph_jaccard 3.85 → 3.07 s, at which point the
  // round-8 "clean" record legitimately exceeds 1.5× the NEW floor —
  // a true speedup, not a protocol false-positive).
  private lazy val floor = BenchDelta.parseFlatObject(
    read("src/test/resources/bench_floor_r9.json"), "queries")
  private lazy val contendedRuns = BenchDelta.parseRunsObject(
    read("src/test/resources/bench_r8_contended.json"), "runs")
  private lazy val cleanRuns = BenchDelta.parseRunsObject(
    read("src/test/resources/bench_r8_clean.json"), "runs")

  test("floor and recorded runs parse to full-suite maps") {
    assert(floor.size >= 240)
    assert(contendedRuns.size >= 240)
    assert(cleanRuns.size >= 240)
    assert(contendedRuns.values.forall(_.size == 2))
  }

  test("contended-host record: host is suspect, so ZERO flags survive") {
    val a = BenchDelta.analyze(contendedRuns, floor)
    // the host really was contended: suite median 1.5x the floor
    assert(a.hostX > BenchDelta.HostSuspectX, s"hostX=${a.hostX}")
    // the per-query rule alone would have flagged dozens — exactly the
    // false-alarm storm round 8 shipped (9 survived its same-host
    // reruns); the host gate is what suppresses them
    assert(a.candidates.size > BenchDelta.MaxCredibleFlags)
    assert(a.hostSuspect)
    // Bench emits regressions only when !hostSuspect — so 0 flags
  }

  test("clean-state record of the same code: no candidates at all") {
    val a = BenchDelta.analyze(cleanRuns, floor)
    assert(!a.hostSuspect, s"hostX=${a.hostX} cands=${a.candidates.size}")
    assert(a.candidates.isEmpty,
      s"clean record should not self-flag: ${a.candidates.map(_.name)}")
  }

  test("synthetic true regression on the clean host still flags") {
    val slowed = cleanRuns.map {
      case ("graph_lpa", reps) => "graph_lpa" -> reps.map(_ * 4)
      case kv => kv
    }
    val a = BenchDelta.analyze(slowed, floor)
    assert(!a.hostSuspect, s"hostX=${a.hostX} cands=${a.candidates.size}")
    assert(a.candidates.map(_.name) == Seq("graph_lpa"))
  }

  test("absolute slack: a sub-second query doubling is jitter, not a flag") {
    val base = Map("tiny" -> 0.2, "big" -> 4.0)
    val runs = Map(
      "tiny" -> Seq(0.45, 0.48), // 2.3x but +0.26s — under floor+0.5s
      "big" -> Seq(4.1, 4.2)) // keeps hostX ~1
    val a = BenchDelta.analyze(runs, base)
    assert(a.candidates.isEmpty, a.candidates.map(_.name))
  }

  test("broad regression on a clean host is NOT suppressed by the count gate") {
    // one shared helper regressing a whole family: 8 queries 4x slower,
    // host median ~1.0 — many candidates must read as a real broad
    // regression, not contention (the count gate needs an elevated host)
    val base = (1 to 20).map(i => s"q$i" -> 2.0).toMap
    val runs = (1 to 20).map { i =>
      s"q$i" -> (if (i <= 8) Seq(8.0, 8.2) else Seq(2.0, 2.05))
    }.toMap
    val a = BenchDelta.analyze(runs, base)
    assert(a.hostX < BenchDelta.ElevatedHostX, s"hostX=${a.hostX}")
    assert(a.candidates.size == 8)
    assert(!a.hostSuspect, "8 flags at hostX~1.0 is a real broad regression")
  }

  test("many candidates on an ELEVATED host still suppress (contention)") {
    val base = (1 to 20).map(i => s"q$i" -> 2.0).toMap
    // uniform 1.2x contention pushes 8 short queries over floor+slack
    val runs = (1 to 20).map { i =>
      s"q$i" -> (if (i <= 8) Seq(8.0, 8.2) else Seq(2.4, 2.45))
    }.toMap
    val a = BenchDelta.analyze(runs, base)
    assert(a.hostX > BenchDelta.ElevatedHostX && a.hostX <= BenchDelta.HostSuspectX,
      s"hostX=${a.hostX}")
    assert(a.hostSuspect)
    assert(!a.floorSafe)
  }

  test("fast-side host: flags suppressed but floor update allowed") {
    val base = (1 to 10).map(i => s"q$i" -> 2.0).toMap
    val runs = (1 to 10).map(i => s"q$i" -> Seq(1.4, 1.45)).toMap // 0.7x
    val a = BenchDelta.analyze(runs, base)
    assert(a.hostX < 1.0 / BenchDelta.HostSuspectX, s"hostX=${a.hostX}")
    assert(a.hostSuspect, "fast deviation still means per-query flags lie")
    assert(a.floorSafe, "uniform speedup mins are genuine - floor may merge")
  }

  test("slow-suspect host blocks the floor") {
    val base = (1 to 10).map(i => s"q$i" -> 2.0).toMap
    val runs = (1 to 10).map(i => s"q$i" -> Seq(3.0, 3.1)).toMap // 1.5x
    val a = BenchDelta.analyze(runs, base)
    assert(a.hostSuspect && !a.floorSafe)
  }

  test("r13 graph_hits replay: a 46x entry on a suspect host is a named " +
      "ANOMALY, not a silent suppressed candidate") {
    // The exact failure mode the escape hatch closes: the committed
    // r13 record ran graph_hits at [101.0, 85.4] s against its 1.85 s
    // floor on a 1.55-1.69x suspect host — the suppression protocol
    // reduced a 46x event to "n_flagged: 0" with no named entry
    // anywhere. Synthesize the same shape: a uniformly ~1.6x host
    // (suspect, many candidates) plus the stalled query.
    val base = (1 to 20).map(i => s"q$i" -> 2.0).toMap + ("graph_hits" -> 1.85)
    val runs = (1 to 20).map(i => s"q$i" -> Seq(3.2, 3.3)).toMap +
      ("graph_hits" -> Seq(101.0, 85.4))
    val a = BenchDelta.analyze(runs, base)
    assert(a.hostSuspect, s"hostX=${a.hostX}") // flags ARE suppressed...
    assert(a.anomalies.map(_.name) == Seq("graph_hits"), // ...this is not
      s"anomalies=${a.anomalies.map(_.name)}")
    // the host-shaped 1.6x entries stay below the 5x anomaly bound
    assert(!a.anomalies.exists(_.name.startsWith("q")))
    // and the bound is host-NORMALIZED: 85.4 > 5 * 1.6 * 1.85 = 14.8
    assert(85.4 > BenchDelta.AnomalyX * a.hostX * 1.85)
  }

  test("anomaly bound carries the sub-second slack: jittered tiny reps " +
      "are not 5x events") {
    val base = (1 to 11).map(i => s"q$i" -> 2.0).toMap + ("tiny" -> 0.08)
    // clean host; tiny query's two reps both land at 0.45 s (scheduler
    // jitter on a 0.08 s floor = 5.6x ratio but only +0.37 s absolute)
    val runs = (1 to 11).map(i => s"q$i" -> Seq(2.0, 2.05)).toMap +
      ("tiny" -> Seq(0.45, 0.47))
    val a = BenchDelta.analyze(runs, base)
    assert(a.anomalies.isEmpty, s"anomalies=${a.anomalies.map(_.name)}")
    // but a genuinely stalled tiny query (past floor+slack AND 5x) is
    val runs2 = runs + ("tiny" -> Seq(0.9, 1.0))
    assert(BenchDelta.analyze(runs2, base).anomalies.map(_.name) == Seq("tiny"))
  }

  test("preflight: quiet cold start passes, contended host warns, " +
      "fresh baseline is inconclusive") {
    // Baselines are recorded COLD-start control mins (the floor file's
    // "preflight" object), NOT the warm query floors: a cold JVM reads
    // 1.5-4x the warm floors (measured: a quiet host ran suite-median
    // 0.974 while a warm-floor probe read 4.085 — it would have
    // refused every run), and cold-vs-cold still jitters ~1.4x between
    // equally-quiet runs, hence the 2.0 bound.
    val cold = Map("q1_agg" -> 0.87, "text_tokens" -> 0.57,
      "a5_min_time" -> 0.30)
    // quiet: the measured r14 back-to-back clean-host spread (~1.4x)
    // must NOT warn
    val quiet = Map("q1_agg" -> Seq(5.16, 1.24),
      "text_tokens" -> Seq(1.85, 0.81), "a5_min_time" -> Seq(1.28, 0.42))
    val pq = BenchDelta.preflight(quiet, cold)
    assert(pq.ok && pq.hostX.exists(_ <= BenchDelta.PreflightMaxX),
      s"hostX=${pq.hostX}")
    // contended: a 1.6x host multiplies the cold reads too — with the
    // ~1.4x jitter on top, the median clears 2.0 and warns
    val busy = quiet.map { case (k, v) => k -> v.map(_ * 1.6) }
    val pb = BenchDelta.preflight(busy, cold)
    assert(!pb.ok, s"hostX=${pb.hostX}")
    // one stalled control among quiet ones: the MEDIAN keeps a single
    // outlier control from warning on a genuinely quiet host
    val oneBad = quiet + ("text_tokens" -> Seq(15.0, 14.8))
    assert(BenchDelta.preflight(oneBad, cold).ok)
    // fresh/empty baseline (the r14 reset bootstrap): inconclusive,
    // never warns on the seeding run
    val pf = BenchDelta.preflight(quiet, Map.empty)
    assert(pf.ok && pf.hostX.isEmpty)
    // all controls failed (negative reps): also inconclusive
    val failed = quiet.map { case (k, _) => k -> Seq(-1.0, -1.0) }
    assert(BenchDelta.preflight(failed, cold).ok)
  }

  test("coldMerge: monotone downward but damped — one lucky cold start " +
      "cannot crater the recorded baseline") {
    // a routine faster run lowers the baseline normally (within the cap)
    assert(BenchDelta.coldMerge(Some(1.0), Some(0.9)).contains(0.9))
    // a 2x-lucky JIT race is capped at ColdMergeMaxDrop per run: with
    // the documented ~1.4x cold jitter, an uncapped min accumulates
    // minima no healthy host can match and the 2.0x preflight bound
    // starts warning on quiet hosts
    assert(BenchDelta.coldMerge(Some(1.0), Some(0.5)).contains(0.75))
    // repeated genuinely-faster runs still converge (0.75 then 0.5625)
    val once = BenchDelta.coldMerge(Some(1.0), Some(0.5)).get
    assert(BenchDelta.coldMerge(Some(once), Some(0.5)).contains(0.5625))
    // never raises: a slower run keeps the recorded baseline
    assert(BenchDelta.coldMerge(Some(1.0), Some(1.8)).contains(1.0))
    // absent sides: keep whichever exists; both absent stays absent
    assert(BenchDelta.coldMerge(Some(1.0), None).contains(1.0))
    assert(BenchDelta.coldMerge(None, Some(0.6)).contains(0.6))
    assert(BenchDelta.coldMerge(None, None).isEmpty)
  }

  test("committed-record overwrite: slow-suspect runs refused, clean and " +
      "fast-side runs allowed, explicit target always allowed") {
    // replay the r8 contended record (the same class of run that shipped
    // the r13 46x entry): slow-suspect => NOT writable
    val contended = BenchDelta.analyze(contendedRuns, floor)
    assert(!contended.floorSafe)
    assert(!BenchDelta.recordWritable(contended, explicitOut = false))
    assert(BenchDelta.recordWritable(contended, explicitOut = true),
      "a caller who NAMED a target gets their artifact")
    // the clean record writes
    val clean = BenchDelta.analyze(cleanRuns, floor)
    assert(BenchDelta.recordWritable(clean, explicitOut = false))
    // a uniformly FAST run is a genuinely good record — writable even
    // though its per-query flags are suppressed
    val base = (1 to 10).map(i => s"q$i" -> 2.0).toMap
    val fast = BenchDelta.analyze(
      (1 to 10).map(i => s"q$i" -> Seq(1.4, 1.45)).toMap, base)
    assert(fast.hostSuspect && BenchDelta.recordWritable(fast, explicitOut = false))
  }

  test("objectBody skips braces inside string values") {
    // the floor file carries a free-text note; a brace in it must not
    // shift or truncate the queries object
    val txt = """{"note":"a {brace} and an escaped \" quote","queries":{"a":1.5,"b":0.25},"x":9}"""
    assert(BenchDelta.parseFlatObject(txt, "queries") ==
      Map("a" -> 1.5, "b" -> 0.25))
    val inner = """{"queries":{"meta":{"s":"}}"},"b":2.0}}"""
    assert(BenchDelta.parseFlatObject(inner, "queries").get("b").contains(2.0))
  }

  test("parseFlatObject brace-matches past nested objects") {
    val txt = """{"queries":{"a":1.5,"b":0.25},"host":{"cores":32},"x":9}"""
    assert(BenchDelta.parseFlatObject(txt, "queries") ==
      Map("a" -> 1.5, "b" -> 0.25))
    // a nested value inside the target object must not truncate it
    val nested = """{"queries":{"a":{"sec":1.5},"b":2.0},"tail":{}}"""
    assert(BenchDelta.parseFlatObject(nested, "queries")
      .get("b").contains(2.0))
  }

  test("parseFlatObjectOpt: absent/corrupt is None, present-but-empty is Some") {
    // the floor-update gate keys on this distinction: a validly-empty
    // queries object (fresh seed, or a re-dump whose number format the
    // regex skips) may be min-merged into; a file with NO well-formed
    // queries object is corrupt and must never be overwritten
    assert(BenchDelta.parseFlatObjectOpt("""{"other":{"a":1}}""", "queries").isEmpty)
    assert(BenchDelta.parseFlatObjectOpt("""{"queries":{"a":1""", "queries").isEmpty,
      "an unterminated object is corrupt, not empty")
    assert(BenchDelta.parseFlatObjectOpt("""{"queries":{}}""", "queries")
      .contains(Map.empty[String, Double]))
    assert(BenchDelta.parseFlatObjectOpt(
      """{"queries":{"a":"1,5"}}""", "queries") // number format the regex skips
      .contains(Map.empty[String, Double]))
    assert(BenchDelta.parseFlatObjectOpt("""{"queries":{"a":1.5}}""", "queries")
      .contains(Map("a" -> 1.5)))
  }

  test("counter drift: jobs, stages and tasks changes are flagged per query; " +
      "byte counters and one-sided queries are not") {
    def record(counters: String) =
      s"""{"queries":{"a":1.0},"counters":$counters,"x":{"jobs":99}}"""
    val before = BenchDelta.parseCounters(record(
      """{"a":{"jobs":3,"stages":4,"tasks":16,"shuffle_write_bytes":100,"spill_bytes":0},""" +
        """"b":{"jobs":1,"stages":1,"tasks":4,"shuffle_write_bytes":0,"spill_bytes":0},""" +
        """"gone":{"jobs":2,"stages":2,"tasks":8,"shuffle_write_bytes":0,"spill_bytes":0}}"""))
    assert(before("a") == Map("jobs" -> 3L, "stages" -> 4L, "tasks" -> 16L,
      "shuffle_write_bytes" -> 100L, "spill_bytes" -> 0L))
    val after = BenchDelta.parseCounters(record(
      """{"a":{"jobs":2,"stages":4,"tasks":12,"shuffle_write_bytes":90,"spill_bytes":7},""" +
        """"b":{"jobs":1,"stages":1,"tasks":4,"shuffle_write_bytes":5,"spill_bytes":0},""" +
        """"new":{"jobs":9,"stages":9,"tasks":9,"shuffle_write_bytes":0,"spill_bytes":0}}"""))
    assert(BenchDelta.counterDrift(before, after) == Seq(
      BenchDelta.Drift("a", "jobs", 3, 2), BenchDelta.Drift("a", "tasks", 16, 12)))
    assert(BenchDelta.counterDrift(before, before).isEmpty)
    // a record without counters (every record before they were added)
    assert(BenchDelta.parseCounters("""{"queries":{"a":1.0}}""").isEmpty)
    assert(BenchDelta.counterDrift(Map.empty, after).isEmpty)
  }

  test("counter drift ignores input, shuffle-read and executor time counters") {
    def rec(input: Long, read: Long, run: Long, cpu: Long) = BenchDelta.parseCounters(
      s"""{"counters":{"a":{"jobs":3,"stages":4,"tasks":16,"shuffle_write_bytes":100,""" +
        s""""spill_bytes":0,"input_bytes":$input,"shuffle_read_bytes":$read,""" +
        s""""executor_run_ms":$run,"executor_cpu_ms":$cpu}}}""")
    assert(rec(10, 100, 900, 700)("a")("executor_cpu_ms") == 700L)
    assert(BenchDelta.counterDrift(rec(10, 100, 900, 700), rec(12, 90, 450, 300)).isEmpty)
  }

  test("parseRunsObject reads per-rep arrays") {
    val txt = """{"runs":{"q1":[1.5,0.9],"q2":[0.3]}}"""
    assert(BenchDelta.parseRunsObject(txt, "runs") ==
      Map("q1" -> Seq(1.5, 0.9), "q2" -> Seq(0.3)))
  }

  test("flagged-candidate adjudication reruns at least 3 reps") {
    // Bench's post-suite rerun gate takes its rep count from here:
    // checkpoint/staging-heavy queries carry a first-rep warmup tax
    // that min-of-2 doesn't reliably shed (r12: dedup_prefix rep pairs
    // [2.87, 1.35] driver-side, [10.26, 3.79, 2.57] builder-side), and
    // the rerun is exactly where the protocol needs precision — the
    // gate must stay at min-of-3 or stricter.
    assert(BenchDelta.RerunReps >= 3)
  }
}
