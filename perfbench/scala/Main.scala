package perfbench

import java.io.File

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`.
  *
  * Set-up (Spark start, seeded generation and its read-back checks) runs
  * three times in fresh sessions, then one untimed warm-up pass;
  * `setup_s` is the median set-up plus the warm-up. The timed loop then
  * runs whole passes of the workload's script, one client with no think
  * time, until `--seconds` have passed (at least one pass), and
  * checks every pass's outputs. With `--trace 1` it alternates an
  * untraced and a traced pass instead and reports the per-layer metrics.
  *
  * The last line of standard output is the result as JSON. The run
  * exits non-zero when any check failed. */
object Main {
  val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: IllegalArgumentException if e.getMessage.startsWith("usage") =>
          System.err.println(e.getMessage); 2
        case e: Throwable =>
          e.printStackTrace(); 1
      }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.exit(code)
  }

  def parse(args: Array[String]): Opts = {
    val usage = "usage: --workload <" + Workload.all.map(_.name).mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <dir>"
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(usage))
    try Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true },
      need("work"))
    catch { case _: NumberFormatException | _: MatchError => throw new IllegalArgumentException(usage) }
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop everything the last pass cached or checkpointed, so no pass
    * reuses another's blocks. */
  def isolate(spark: SparkSession, dirs: String*): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    dirs.foreach(d => Workload.deleteTree(new File(d)))
  }

  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private val jvmStart = System.nanoTime()

  /** A progress line on standard error, stamped with the JVM's age. */
  def progress(what: String): Unit =
    System.err.println(f"perfbench: ${Workload.nowS(jvmStart)}%7.2f s  $what")

  def run(o: Opts): Int = {
    val wl = Workload.all.find(_.name == o.workload)
      .getOrElse(throw new IllegalArgumentException(s"usage: unknown workload ${o.workload}"))
    val cores = Runtime.getRuntime.availableProcessors
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def checked(errors: Seq[String]): Unit = {
      attempted += 1
      if (errors.nonEmpty) { failed += 1; failures ++= errors }
    }
    def attempt(body: => PassResult): PassResult = {
      val r = try body
        catch { case e: Exception => PassResult(Double.NaN, 0, Map.empty, Seq(s"${wl.name}: $e")) }
      checked(r.errors)
      r
    }

    // set-up: Spark start, seeded generation and its read-back checks,
    // repeated in fresh sessions; then one warm-up pass in the last one
    var spark: SparkSession = null
    var in: wl.In = null.asInstanceOf[wl.In]
    val setupS = mutable.ArrayBuffer.empty[Double]
    val prints = mutable.ArrayBuffer.empty[String]
    for (k <- 0 until Setups) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, o.work)
      if (k > 0) Workload.deleteTree(new File(s"${o.work}/input_${k - 1}"))
      in = wl.generate(spark, o.seed, s"${o.work}/input_$k")
      prints += wl.fingerprint(in)
      setupS += Workload.nowS(t0)
      progress(f"set-up ${k + 1}: ${setupS.last}%.2f s")
    }
    checked(if (prints.distinct.size == 1) Nil
      else Seq(s"${wl.name}: same seed gave different inputs: ${prints.distinct.mkString(", ")}"))
    val t0 = System.nanoTime()
    attempt(wl.warmUp(spark, in, s"${o.work}/warm"))
    val warmupS = Workload.nowS(t0)
    progress(f"warm-up: $warmupS%.2f s")
    isolate(spark, s"${o.work}/warm")
    val setupMedianS = Stats.median(setupS.toSeq) + warmupS

    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var k = 0
    def nextPass(sp: Spans): PassResult = {
      val out = s"${o.work}/pass_$k"
      k += 1
      val r = attempt(wl.pass(spark, in, out, sp, check = true))
      isolate(spark, out)
      progress(f"pass $k: ${r.wallS}%.2f s, then checked")
      r
    }
    def more(done: Int) = failures.isEmpty && (done == 0 || System.nanoTime() < deadline)

    val header = s"perfbench workload=${wl.name} seed=${o.seed} cores=$cores " +
      s"rows=${wl.rows(in)} fingerprint=${prints.head}"
    val (metrics, lines) =
      if (!o.trace) {
        val passes = mutable.ArrayBuffer.empty[PassResult]
        while (more(passes.size)) passes += nextPass(Fused)
        val walls = passes.map(_.wallS).filterNot(_.isNaN).toSeq
        val wallS = if (walls.isEmpty) Double.NaN else Stats.median(walls)
        val rss = peakRssMb()
        val m = Seq(
          ("setup_s", setupMedianS, "s"),
          ("wall_s", wallS, "s"),
          ("rows_per_s", wl.rows(in) / wallS, "rows/s"))
        val ls = Seq(
          f"setup_s      $setupMedianS%.3f s  (median start + generate of ${setupS.size}, plus warm-up)",
          Report.timing("start_gen_s", "s", setupS.toSeq),
          f"warmup_s     $warmupS%.3f s  n=1",
          Report.timing("wall_s", "s", walls) + walls.map(w => f"$w%.2f").mkString("  [", " ", "]"),
          f"rows_per_s   ${wl.rows(in) / wallS}%.1f rows/s  (input rows / median wall_s)",
          f"peak_rss_mb  $rss%.1f MB  (VmHWM of the JVM)",
          Report.timing("retained_mb", "MB", passes.map(_.retainedMb).toSeq)) ++
          (if (passes.nonEmpty && walls.size == passes.size) wl.report(passes.toSeq) else Nil)
        (m, ls)
      } else {
        val fused = mutable.ArrayBuffer.empty[Double]
        val traced = mutable.ArrayBuffer.empty[TracedPass]
        while (more(traced.size)) {
          fused += nextPass(Fused).wallS
          val trace = new Trace
          val sc = spark.sparkContext
          sc.addSparkListener(trace)
          val tp = new Traced(spark, trace)
          val r = try nextPass(tp) finally tp.release()
          trace.drain(sc)
          sc.removeSparkListener(trace)
          traced += TracedPass(r.wallS, trace.summaries, trace.totals, trace.gcS, tp.retainedMb.toMap)
        }
        val overhead = Stats.median(traced.map(_.wallS).toSeq) - Stats.median(fused.toSeq)
        val m = Layers.metrics(traced.toSeq, overhead)
        (m, Seq(s"traced passes ${traced.size}, untraced passes ${fused.size}") ++
          m.map { case (n, v, u) => f"$n%-40s $v%.6f $u" })
      }

    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(header)
    lines.foreach(println)
    println(f"failed_frac  ${failed.toDouble / attempted}%.4f  ($failed of $attempted checked passes failed)")
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    println(Report.json(correct, attempted, failed, metrics))
    if (correct) 0 else 1
  }
}

final case class TracedPass(wallS: Double, spans: Map[String, SpanSummary], totals: Totals,
    gcS: Double, retainedMb: Map[String, Double])

/** The per-layer metric set. Every workload reports every metric; a span
  * a workload never enters reports zero, so those zeros are structural
  * and only the spans of the workload's own script carry information.
  * Values are per traced pass. `trace.overhead_s` is the traced minus
  * the untraced median wall: staging each batch call can save the
  * re-execution the untraced plan does, so it may be negative and its
  * sign follows the untraced plan, not the tracer's cost alone. */
object Layers {
  val Spans: Seq[String] = Seq(
    "qc.open", "qc.render", "qc.flag_and_next", "qc.save", "qc.progress",
    "qc.flag_init", "qc.auto.spikes", "qc.auto.flatlines", "qc.auto.mad", "qc.auto.steps",
    "ts.resample", "qc.export",
    "text.quality", "dedup.exact", "dedup.minhash_pairs", "dedup.clusters",
    "curation.decontaminate", "sink.write")
  val ShuffleSpans: Set[String] = Spans.drop(12).toSet
  val P50Spans: Seq[String] = Seq("qc.render", "qc.flag_and_next")
  val RetainedSpans: Seq[String] = Seq("qc.open", "qc.save", "dedup.clusters")

  /** (name, unit, better) of every per-layer metric, in report order. */
  val names: Seq[(String, String, String)] =
    Spans.flatMap { s =>
      Seq((s"$s.wall_s", "s", "lower"), (s"$s.cpu_s", "s", "lower"),
        (s"$s.jobs", "count", "lower"), (s"$s.tasks", "count", "lower"),
        (s"$s.single_task_s", "s", "lower"), (s"$s.gap_s", "s", "lower")) ++
        (if (ShuffleSpans(s)) Seq((s"$s.shuffle_mb", "MB", "lower")) else Nil)
    } ++ P50Spans.map(s => (s"$s.p50_ms", "ms", "lower")) ++
      RetainedSpans.map(s => (s"$s.retained_mb", "MB", "lower")) ++ Seq(
      ("spark.parallelism", "ratio", "higher"), ("spark.shuffle_mb", "MB", "lower"),
      ("spark.spill_mb", "MB", "lower"), ("jvm.gc_s", "s", "lower"),
      ("trace.overhead_s", "s", "lower"))

  def metrics(passes: Seq[TracedPass], overheadS: Double): Seq[(String, Double, String)] = {
    val n = passes.size.toDouble
    def mean(f: TracedPass => Double) = passes.map(f).sum / n
    def span(s: String)(f: SpanSummary => Double) = mean(_.spans.get(s).map(f).getOrElse(0.0))
    val values: Map[String, Double] = (Spans.flatMap { s =>
      Seq(s"$s.wall_s" -> span(s)(_.wallS), s"$s.cpu_s" -> span(s)(_.cpuS),
        s"$s.jobs" -> span(s)(_.jobs), s"$s.tasks" -> span(s)(_.tasks),
        s"$s.single_task_s" -> span(s)(_.singleTaskS), s"$s.gap_s" -> span(s)(_.gapS),
        s"$s.shuffle_mb" -> span(s)(_.shuffleMb))
    } ++ P50Spans.map { s =>
      val xs = passes.flatMap(_.spans.get(s).toSeq.flatMap(_.instanceMs))
      s"$s.p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    } ++ RetainedSpans.map { s =>
      s"$s.retained_mb" -> mean(_.retainedMb.getOrElse(s, 0.0))
    } ++ Seq(
      "spark.parallelism" -> mean(p => p.totals.runS / p.wallS),
      "spark.shuffle_mb" -> mean(_.totals.shuffleMb),
      "spark.spill_mb" -> mean(_.totals.spillMb),
      "jvm.gc_s" -> mean(_.gcS),
      "trace.overhead_s" -> overheadS)).toMap
    names.map { case (name, unit, _) => (name, values(name), unit) }
  }
}

object Report {
  /** "name  p50 X unit  pNN Y  n=N": the median and the highest
    * percentile with at least ten samples beyond it. */
  def timing(name: String, unit: String, xs: Seq[Double]): String =
    if (xs.isEmpty) s"$name  (no samples)"
    else {
      val tail = Stats.tailPerMille(xs.size)
        .map(pm => f"  ${Stats.label(pm)} ${Stats.percentile(xs, pm)}%.3f").getOrElse("")
      f"$name%-12s p50 ${Stats.median(xs)}%.3f$tail $unit  n=${xs.size}"
    }

  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else num(v)
      s""""$n": {"value": $value, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
