package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs submitted by `body` on this thread, counted through its job
    * group in the status tracker. */
  def jobsOf[A](group: String)(body: => A): (A, Int) = {
    spark.sparkContext.setJobGroup(group, "job-count pin")
    try {
      val a = body
      (a, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** The formatted plan of `build`'s result plus the physical plans of
    * the queries run while building it: an eager operator's joins run
    * there. */
  def plansRun(build: => DataFrame): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val p = build.queryExecution.explainString(FormattedMode)
      org.apache.spark.sql.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      (p +: plans.toArray(Array.empty[String]).toSeq).mkString("\n")
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
