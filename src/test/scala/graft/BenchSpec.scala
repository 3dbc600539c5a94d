package graft

import org.apache.spark.sql.functions._

/** The measurement runner core: [[Bench.time]]'s failure record and
  * its per-rep work counters. */
class BenchSpec extends SparkSpec {
  spark // Bench.time runs on the active session

  private def twoActions(): Long = {
    val df = spark.range(0, 20000, 1, 4)
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
    df.collect()
    Bench.exec(df.orderBy("k"))
  }

  test("a throwing body is recorded as negative seconds; the next query " +
      "still runs") {
    val bad = Bench.time(2) { throw new IllegalStateException("boom") }
    assert(bad.secs.size == 2 && bad.secs.forall(_ < 0), bad.secs)
    assert(bad.best < 0 && bad.result.isEmpty)
    assert(bad.failure.exists(_.getMessage == "boom"))
    val good = Bench.time(2)(Bench.exec(spark.range(100).toDF()))
    assert(good.secs.forall(_ >= 0) && good.failure.isEmpty, good.secs)
    assert(good.result.contains(100L))
    assert(good.best == good.secs.min)
  }

  test("one failed rep fails the query, whatever the other reps did") {
    var rep = 0
    val t = Bench.time(3) {
      rep += 1
      if (rep == 2) sys.error("rep 2") else rep
    }
    assert(t.secs.count(_ < 0) == 1 && t.best == t.secs(1), t.secs)
    assert(t.result.contains(3))
  }

  test("jobs of a two-action query equal the status tracker's count") {
    val (_, want) = jobsOf("bench-two-actions")(twoActions())
    val got = Bench.time(1)(twoActions()).counters
    assert(want >= 2)
    assert(got.jobs == want, s"counted ${got.jobs}, status tracker $want")
    assert(got.stages >= got.jobs && got.tasks >= got.stages, got)
    assert(got.shuffleWriteBytes > 0, got)
  }

  // the counters a plan fixes; executor run and CPU time vary per run
  private def work(c: Bench.Counters) = c.copy(executorRunMs = 0, executorCpuMs = 0)

  test("counters are the last rep's, and do not carry over to the next " +
      "query") {
    val one = work(Bench.time(1)(spark.range(10).collect()).counters)
    assert(one.jobs == 1, one)
    // reps before the last run extra actions: not counted
    var rep = 0
    val last = work(Bench.time(3) {
      rep += 1
      if (rep < 3) (1 to 4).foreach(_ => twoActions())
      spark.range(10).collect()
    }.counters)
    assert(last == one, s"last rep $last vs a lone run $one")
    // a heavy query, then a light one: the light one counts only itself
    Bench.time(2)(twoActions())
    val after = work(Bench.time(1)(spark.range(10).collect()).counters)
    assert(after == one, s"after a heavy query $after vs $one")
  }

  test("input, shuffle-read, executor run and CPU counters come from the " +
      "same stages; the record carries them") {
    val dir = java.nio.file.Files.createTempDirectory("bench-counters").toString
    try {
      spark.range(0, 20000, 1, 4).selectExpr("id", "id % 7 AS k")
        .write.mode("overwrite").parquet(dir)
      val c = Bench.time(1) {
        spark.read.parquet(dir).groupBy("k").agg(count(lit(1)), sum("id"))
          .orderBy("k").collect()
      }.counters
      assert(c.inputBytes > 0, c)
      assert(c.shuffleReadBytes > 0 && c.shuffleWriteBytes > 0, c)
      assert(c.executorRunMs >= 0 && c.executorCpuMs >= 0, c)
      val idle = Bench.time(1)(spark.range(10).collect()).counters
      assert(idle.inputBytes == 0 && idle.shuffleReadBytes == 0, idle)
      val heavy = Bench.time(1) {
        spark.range(0, 3000000, 1, 4).selectExpr("sum(hash(id, id * 3))").collect()
      }.counters
      assert(heavy.executorRunMs > 0 && heavy.executorCpuMs > 0, heavy)
      val parsed = BenchDelta.parseCounters(s"""{"counters":{"q":${c.json}}}""")("q")
      assert(parsed == Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "input_bytes" -> c.inputBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "executor_run_ms" -> c.executorRunMs, "executor_cpu_ms" -> c.executorCpuMs))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("every artifact sits beside the bench record; unset, beside the " +
      "committed record in the working directory") {
    val names = Seq("BENCH_DELTA.json", "BENCH_SUMMARY.json", "STRESS_local.json",
      "STRESS_partial.json")
    val out = Some("/data/run1/bench.json")
    assert(Bench.artifactPath(out, None) == "/data/run1/bench.json")
    names.foreach(n => assert(Bench.artifactPath(out, Some(n)) == s"/data/run1/$n"))
    assert(Bench.artifactPath(Some("bench.json"), Some("BENCH_DELTA.json")) ==
      "BENCH_DELTA.json")
    assert(Bench.artifactPath(Some("runs/b.json"), Some("STRESS_local.json")) ==
      "runs/STRESS_local.json")
    assert(Bench.artifactPath(None, None) == "BENCH_local.json")
    names.foreach(n => assert(Bench.artifactPath(None, Some(n)) == n))
  }
}
