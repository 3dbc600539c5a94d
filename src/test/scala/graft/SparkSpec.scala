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

  /** `body` with each SQL conf of `kv` set, the previous values
    * restored after. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body` run once compiled — whole-stage codegen on, generated code
    * mandatory (`CODEGEN_ONLY`, no fallback to interpreted) — and once
    * interpreted (`NO_CODEGEN`, whole-stage off), each result paired
    * with its mode. A `Seq.toDF` input stays a scan (no
    * ConvertToLocalRelation), so its projections really run in each
    * mode; build the DataFrame inside `body`. */
  def inCodegenModes[A](body: => A): Seq[(String, A)] = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  ).map { case (mode, kv) =>
    mode -> withConf(kv :+ ("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"): _*)(body)
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
