package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Diagnostic main (guide §1/§7): counts Spark JOBS, STAGES, TASKS and
  * shuffle bytes per query — the driver-side latency profile that the
  * wall-clock bench cannot show. Iterative queries run many small
  * sequential jobs; each job/stage boundary is a scheduling sync whose
  * latency multiplies under host contention, so this is the number to
  * shrink for contention robustness (r15 verdict item 1). Not part of
  * the bench contract; plain stderr/stdout tool. */
object JobCounts {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufWrite = new AtomicLong(0L)
    val spillDisk = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        spillDisk.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // warmup
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-28s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shufMB"}%8s ${"spillMB"}%8s")
    names.foreach { n =>
      // warm rep first (plan compile/codegen), then the measured rep —
      // same steady-state convention as Bench's min-of-2
      try Bench.exec(SparkEntry.queries(n)(spark, sfDir))
      catch { case _: Throwable => }
      spark.catalog.clearCache()
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      shufWrite.set(0L); spillDisk.set(0L)
      val t0 = System.nanoTime()
      val ok = try { Bench.exec(SparkEntry.queries(n)(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"$n FAILED: ${e.getMessage}"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      if (ok) println(f"$n%-28s $sec%8.2f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${shufWrite.get / 1e6}%8.1f ${spillDisk.get / 1e6}%8.1f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
