package perfbench

import java.util.Properties

import org.apache.spark.perfbench.SparkInternals._
import org.apache.spark.scheduler._

/** Unit tests of the tracer's arithmetic and attribution, driven by
  * synthetic listener events (no Spark context). Run after every build;
  * exits non-zero on the first failure. */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    body
    passed += 1
    println(s"ok  $name")
  }

  private def eq[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def near(got: Double, want: Double, what: String): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"$what: got $got, want $want")

  private def props(span: Option[Int]): Properties = {
    val p = new Properties
    span.foreach(s => p.setProperty(Trace.SpanKey, s.toString))
    p
  }

  def main(args: Array[String]): Unit = {
    test("tail percentile: highest with at least ten samples beyond it") {
      eq(Stats.tailPerMille(200), Some(950), "n=200")
      eq(Stats.tailPerMille(199), Some(900), "n=199")
      eq(Stats.tailPerMille(100), Some(900), "n=100")
      eq(Stats.tailPerMille(1000), Some(990), "n=1000")
      eq(Stats.tailPerMille(10000), Some(999), "n=10000")
      eq(Stats.tailPerMille(99), None, "n=99")
      eq(Stats.tailPerMille(19), None, "n=19")
      val xs = (1 to 200).map(_.toDouble).reverse
      near(Stats.percentile(xs, 950), 190.0, "p95 of 1..200")
      near(Stats.median(xs), 100.5, "median of 1..200")
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "median of 3")
      eq(Stats.label(950), "p95", "label")
      eq(Stats.label(999), "p99.9", "label")
    }

    test("gap: span time not covered by the union of its stages") {
      eq(Trace.gapMs(0, 100, Nil), 100L, "no stages")
      eq(Trace.gapMs(0, 100, Seq((10L, 30L), (20L, 40L), (60L, 70L))), 60L, "overlap merged")
      eq(Trace.gapMs(0, 100, Seq((-10L, 5L), (90L, 150L))), 85L, "clipped to the span")
      eq(Trace.gapMs(0, 100, Seq((0L, 100L), (10L, 20L))), 0L, "fully covered")
      eq(Trace.gapMs(0, 100, Seq((200L, 300L))), 100L, "outside the span")
    }

    test("attribution: jobs, stages and tasks land on the span that set the property") {
      val t = new Trace
      val a = t.open("a")
      val b = t.open("b")
      val s10 = stageInfo(10, 1, Some(1000L), Some(1040L))
      val s11 = stageInfo(11, 4, Some(1050L), Some(1060L))
      val s12 = stageInfo(12, 2, Some(2000L), Some(2030L))
      val s13 = stageInfo(13, 1, Some(2100L), Some(2200L))
      t.onJobStart(SparkListenerJobStart(1, 1000L, Seq(s10, s11), props(Some(a))))
      t.onJobStart(SparkListenerJobStart(2, 2000L, Seq(s12, s10), props(Some(b))))
      t.onJobStart(SparkListenerJobStart(3, 2100L, Seq(s13), props(None)))
      for (si <- Seq(s10, s11, s12, s13)) t.onStageSubmitted(SparkListenerStageSubmitted(si))
      var task = 0L
      def run(stage: Int, runMs: Long, cpuNs: Long, shuffle: Long, spill: Long): Unit = {
        task += 1
        t.onTaskStart(taskStart(stage, task))
        t.onTaskEnd(taskEnd(stage, task, runMs, cpuNs, shuffle, spill))
      }
      run(10, 30, 20000000L, 1024 * 1024, 0)
      (1 to 4).foreach(_ => run(11, 5, 1000000L, 0, 0))
      (1 to 2).foreach(_ => run(12, 10, 5000000L, 2 * 1024 * 1024, 512 * 1024))
      run(13, 100, 90000000L, 4 * 1024 * 1024, 0)
      for (si <- Seq(s10, s11, s12, s13)) t.onStageCompleted(SparkListenerStageCompleted(si))
      for (j <- 1 to 3) t.onJobEnd(SparkListenerJobEnd(j, 2300L, JobSucceeded))
      t.close(a, 990L, 1070L, 80000000L)
      t.close(b, 1990L, 2040L, 50000000L)
      t.checkBalance()

      val sa = t.summaries("a")
      eq(sa.jobs, 1, "a jobs")
      eq(sa.tasks, 5, "a tasks (stage 10 stays with the first job that listed it)")
      near(sa.cpuS, 0.024, "a cpu_s")
      near(sa.singleTaskS, 0.040, "a single_task_s")
      near(sa.gapS, 0.030, "a gap_s: 990-1000, 1040-1050, 1060-1070")
      near(sa.shuffleMb, 1.0, "a shuffle_mb")
      near(sa.wallS, 0.08, "a wall_s")
      val sb = t.summaries("b")
      eq(sb.jobs, 1, "b jobs")
      eq(sb.tasks, 2, "b tasks")
      near(sb.singleTaskS, 0.0, "b single_task_s")
      near(sb.gapS, 0.020, "b gap_s")
      near(sb.shuffleMb, 4.0, "b shuffle_mb")
      eq(t.summaries.keySet, Set("a", "b"), "span names")
      val tot = t.totals
      near(tot.runS, 0.070, "totals exclude the unattributed stage")
      near(tot.shuffleMb, 5.0, "total shuffle_mb")
      near(tot.spillMb, 1.0, "total spill_mb")
    }

    test("balance: a job or task still open after the drain is an error") {
      val t = new Trace
      val a = t.open("a")
      val s1 = stageInfo(1, 1, Some(10L), None)
      t.onJobStart(SparkListenerJobStart(7, 10L, Seq(s1), props(Some(a))))
      t.onStageSubmitted(SparkListenerStageSubmitted(s1))
      t.onTaskStart(taskStart(1, 1L))
      val failed = try { t.checkBalance(); false } catch { case _: IllegalArgumentException => true }
      eq(failed, true, "open job detected")
      t.onTaskEnd(taskEnd(1, 1L, 1, 1, 0, 0))
      t.onJobEnd(SparkListenerJobEnd(7, 20L, JobSucceeded))
      val stillOpen = try { t.checkBalance(); false } catch { case _: IllegalArgumentException => true }
      eq(stillOpen, true, "submitted stage without completion detected")
      s1.completionTime = Some(20L)
      t.onStageCompleted(SparkListenerStageCompleted(s1))
      t.checkBalance()
    }

    test("per-layer metric names are unique and within the name rules") {
      val names = Layers.names.map(_._1)
      eq(names.distinct.size, names.size, "unique")
      eq(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")), true, "name rules")
      eq(names.size <= 128, true, "at most 128")
    }

    println(s"self-test: $passed passed")
  }
}
