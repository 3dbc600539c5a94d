package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._

/** Flat spans around the benchmark's calls into the library, with the
  * Spark work each one caused.
  *
  * A span sets the local property [[Trace.SpanKey]] on the calling
  * thread; Spark copies local properties into every job the call
  * submits (broadcast and subquery jobs included), so each job, and
  * through it each stage and task, is attributed to the span that
  * caused it without any timing heuristics. Stages are attributed to
  * the first job that lists them.
  *
  * Events arrive on Spark's asynchronous listener bus. [[drain]] waits
  * until the bus has delivered everything posted so far, then requires
  * job-start/job-end and stage-task balance: a finished action posts
  * all of its events before it returns, so any imbalance after the
  * drain is a tracer bug and fails the run instead of skewing counts.
  */
final class Trace extends SparkListener {
  import Trace._

  private final class Instance(val name: String) {
    var startMs = 0L
    var endMs = 0L
    var wallNs = 0L
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[Int]
  }

  private final class StageStat(val instance: Int) {
    var numTasks = 0
    var submitMs: Option[Long] = None
    var completeMs: Option[Long] = None
    var tasksStarted = 0
    var tasksEnded = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val instances = mutable.ArrayBuffer.empty[Instance]
  private var gcMs = 0L
  private val stageStats = mutable.LinkedHashMap.empty[Int, StageStat]
  private val openJobs = mutable.Set.empty[Int]

  /** Start a span instance; the returned id is the local-property value. */
  def open(name: String): Int = synchronized {
    instances += new Instance(name)
    instances.size - 1
  }

  def close(id: Int, startMs: Long, endMs: Long, wallNs: Long): Unit = synchronized {
    val in = instances(id)
    in.startMs = startMs
    in.endMs = endMs
    in.wallNs = wallNs
  }

  /** Run `body` inside a span named `name`, attributing its jobs to it. */
  def span[A](sc: SparkContext, name: String)(body: => A): A = {
    val id = open(name)
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val gc0 = gcTimeMs()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val n1 = System.nanoTime()
      close(id, t0, System.currentTimeMillis(), n1 - n0)
      synchronized(gcMs += gcTimeMs() - gc0)
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  /** JVM garbage-collection time spent inside spans. */
  def gcS: Double = synchronized(gcMs / 1e3)

  private def instanceOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val inst = instanceOf(e.properties)
    openJobs += e.jobId
    if (inst != Unattributed) instances(inst).jobs += 1
    e.stageInfos.foreach { si =>
      if (!stageStats.contains(si.stageId)) {
        stageStats(si.stageId) = new StageStat(inst)
        if (inst != Unattributed) instances(inst).stages += si.stageId
      }
      stageStats(si.stageId).numTasks = si.numTasks
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= e.jobId
  }

  private def stageInfo(si: StageInfo): Unit = stageStats.get(si.stageId).foreach { st =>
    st.numTasks = si.numTasks
    if (si.submissionTime.isDefined) st.submitMs = si.submissionTime
    if (si.completionTime.isDefined) st.completeMs = si.completionTime
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(stageInfo(e.stageInfo))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageInfo(e.stageInfo))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageStats.get(e.stageId).foreach(_.tasksStarted += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageStats.get(e.stageId).foreach { st =>
      st.tasksEnded += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Wait for the listener bus, then require that every job that started
    * has ended and every stage that started tasks saw them all end. */
  def drain(sc: SparkContext): Unit = {
    SparkInternals.drainListenerBus(sc)
    checkBalance()
  }

  def checkBalance(): Unit = synchronized {
    require(openJobs.isEmpty,
      s"trace: jobs started but not ended after drain: ${openJobs.mkString(",")}")
    val open = stageStats.collect {
      case (id, st) if st.tasksStarted != st.tasksEnded ||
          (st.submitMs.isDefined && st.completeMs.isEmpty) => id
    }
    require(open.isEmpty, s"trace: stages with unfinished tasks after drain: ${open.mkString(",")}")
  }

  /** Per-name totals over all span instances recorded so far. */
  def summaries: Map[String, SpanSummary] = synchronized {
    instances.indices.groupBy(instances(_).name).map { case (name, ids) =>
      val ins = ids.map(instances(_))
      val sts = ins.flatMap(_.stages).map(stageStats)
      val ran = sts.filter(st => st.submitMs.isDefined && st.completeMs.isDefined)
      name -> SpanSummary(
        name = name,
        count = ins.size,
        wallS = ins.map(_.wallNs).sum / 1e9,
        cpuS = sts.map(_.cpuNs).sum / 1e9,
        jobs = ins.map(_.jobs).sum,
        tasks = sts.map(_.tasksEnded).sum,
        singleTaskS = ran.filter(_.numTasks == 1)
          .map(st => st.completeMs.get - st.submitMs.get).sum / 1e3,
        gapS = ins.map { in =>
          gapMs(in.startMs, in.endMs, in.stages.map(stageStats).toSeq.collect {
            case st if st.submitMs.isDefined && st.completeMs.isDefined =>
              (st.submitMs.get, st.completeMs.get)
          })
        }.sum / 1e3,
        shuffleMb = sts.map(_.shuffleWriteBytes).sum / Mb,
        instanceMs = ins.map(_.wallNs / 1e6).toSeq)
    }
  }

  /** Counters summed over every stage attributed to some span. */
  def totals: Totals = synchronized {
    val sts = stageStats.values.filter(_.instance != Unattributed)
    Totals(
      runS = sts.map(_.runMs).sum / 1e3,
      shuffleMb = sts.map(_.shuffleWriteBytes).sum / Mb,
      spillMb = sts.map(_.spillBytes).sum / Mb)
  }
}

final case class SpanSummary(
    name: String,
    count: Int,
    wallS: Double,
    cpuS: Double,
    jobs: Int,
    tasks: Int,
    singleTaskS: Double,
    gapS: Double,
    shuffleMb: Double,
    instanceMs: Seq[Double])

final case class Totals(runS: Double, shuffleMb: Double, spillMb: Double)

object Trace {
  val SpanKey = "perfbench.span"

  /** Collection time of every JVM garbage collector so far. */
  def gcTimeMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
    .map(b => math.max(0L, b.getCollectionTime)).sum
  val Unattributed: Int = -1
  val Mb: Double = 1024.0 * 1024.0

  /** Driver time inside `[start, end]` during which none of the given
    * stage intervals is running: the span's length minus the length of
    * the union of its stages' intervals, each clipped to the span. */
  def gapMs(start: Long, end: Long, stages: Seq[(Long, Long)]): Long = {
    val clipped = stages
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, end - start) - covered
  }
}

/** Summary statistics for timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles considered for the tail, in per-mille, highest first. */
  val TailPerMille: Seq[Int] = Seq(999, 990, 950, 900)

  /** The highest percentile (per-mille) that has at least ten samples
    * strictly beyond it among `n` samples, by nearest rank; None when
    * not even the 90th percentile has ten samples beyond it. */
  def tailPerMille(n: Int): Option[Int] =
    TailPerMille.find(pm => n - nearestRank(n, pm) >= 10)

  /** 1-based nearest rank of the `pm`-per-mille percentile of n samples. */
  def nearestRank(n: Int, pm: Int): Int =
    math.max(1, ((n.toLong * pm + 999) / 1000).toInt)

  def percentile(xs: Seq[Double], pm: Int): Double = {
    val s = xs.sorted
    s(nearestRank(s.size, pm) - 1)
  }

  /** Label of a per-mille percentile: 950 -> "p95", 999 -> "p99.9". */
  def label(pm: Int): String =
    if (pm % 10 == 0) s"p${pm / 10}" else s"p${pm / 10}.${pm % 10}"
}
