package graft

/** Plan auditor: prints the formatted physical plan of selected
  * SparkEntry queries (all of them by default). Used to keep the
  * scale-critical properties visible — parquet filter/column pushdown,
  * broadcast joins on small sides, no stray exchanges in narrow
  * pipelines. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.session()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
