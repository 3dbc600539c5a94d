package graft

import org.apache.spark.sql.SparkSession
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
