package graft.streaming

import graft.SparkSpec
import graft.qc.FlagSchema
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class QcStreamSpec extends SparkSpec {

  test("streaming flag init + watermarked windowed progress") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, Option[Double])]
    val stream = mem.toDF().toDF("ts", "temp")

    val flagged = QcStream.withFlags(stream, Seq("temp"),
      autoFlag = Map("temp" -> (col("temp") > 100)))
    val agg = QcStream.windowedProgress(flagged, "ts", "temp",
      windowWidth = "1 hour", watermark = "2 hours")

    val q = agg.writeStream.format("memory").queryName("qcprog")
      .outputMode("complete").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def t(min: Long) = new Timestamp(t0 + min * 60000)
      mem.addData(
        (t(0), Some(1.0)), (t(10), None), (t(20), Some(500.0)),
        (t(70), Some(2.0)), (t(80), Some(3.0)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM qcprog ORDER BY win_start")
        .as[(Timestamp, Timestamp, Long, Long, Long, Long, Long)].collect()
      assert(rows.length == 2)
      val (_, _, n0, ap0, un0, mi0, fl0) = rows(0)
      assert((n0, ap0, un0, mi0, fl0) == (3L, 0L, 1L, 1L, 1L),
        "window 0: one ok, one missing, one auto-flagged outlier")
      val (_, _, n1, _, un1, _, _) = rows(1)
      assert(n1 == 2L && un1 == 2L)
    } finally q.stop()
  }

  test("withFlags: auto-flags keep the flag metadata under a custom suffix") {
    import spark.implicits._
    val df = Seq((1L, Some(5.0)), (2L, Some(500.0)), (3L, None)).toDF("id", "temp")
    val out = QcStream.withFlags(df, Seq("temp"),
      autoFlag = Map("temp" -> (col("temp") > 100)), suffix = "_f")
    assert(FlagSchema.resolveSuffix(out) == "_f",
      "an AutoSuffix reader must find the custom-suffixed flag column")
    assert(out.orderBy("id").select("temp_f").as[Int].collect().toSeq ==
      Seq(FlagSchema.Unchecked, FlagSchema.ManualFlag, FlagSchema.OrigNA))
    val progress = graft.qc.QcProgress.summary(out)
      .select("variable", "pct_missing", "pct_flagged").as[(String, Double, Double)]
      .collect().toSeq
    assert(progress == Seq(("temp", 33.33, 33.33)), s"got $progress")
    intercept[IllegalArgumentException] {
      QcStream.withFlags(df, Seq("temp"), autoFlag = Map("id" -> (col("id") > 1)))
    }
  }

  test("streaming fingerprint dedup: whitespace variants collapse") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)]
    val dedup = QcStream.streamingFingerprintDedup(
      mem.toDF().toDF("ts", "text"), "text", "ts", "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("qcfpdedup")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      mem.addData(
        (new Timestamp(t0), "hello world"),
        (new Timestamp(t0 + 60000), "hello   world"), // same fingerprint
        (new Timestamp(t0 + 120000), "different text"))
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM qcfpdedup").as[String].collect()
      assert(texts.length == 2, s"whitespace variant deduped, got ${texts.toSeq}")
    } finally q.stop()
  }

  test("streaming exact dedup within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)]
    val dedup = QcStream.streamingExactDedup(
      mem.toDF().toDF("ts", "k"), Seq("k"), "ts", "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("qcdedup")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def t(min: Long) = new Timestamp(t0 + min * 60000)
      mem.addData((t(0), "a"), (t(1), "a"), (t(2), "b"))
      q.processAllAvailable()
      mem.addData((t(3), "a"), (t(4), "c"))
      q.processAllAvailable()
      val keys = spark.sql("SELECT k FROM qcdedup").as[String].collect().sorted
      assert(keys.toSeq == Seq("a", "b", "c"), "duplicates within watermark dropped")
    } finally q.stop()
  }

  test("streamingSessionize: gap splits sessions, state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp)]
    val out = QcStream.streamingSessionize(mem.toDS(), gapSecs = 600.0)
    val q = out.writeStream.format("memory").queryName("qcsess")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def t(min: Long) = new Timestamp(t0 + min * 60000)
      // batch 1: key 1 has two sessions (gap 10 min exceeded), key 2 one
      mem.addData((1L, t(0)), (1L, t(5)), (1L, t(30)), (2L, t(0)))
      q.processAllAvailable()
      // batch 2: key 1 continues session 1 (5 min after t(30))
      mem.addData((1L, t(35)), (2L, t(100)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, ts, sessionId FROM qcsess")
        .as[(Long, Timestamp, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime).map(_._3).toSeq).toMap
      // session ids are the opening event's epoch millis (unique across
      // state evictions, unlike a 0-based counter)
      assert(rows(1L) == Seq(t(0).getTime, t(0).getTime,
        t(30).getTime, t(30).getTime),
        s"key 1: two sessions, continuation across batches; got ${rows(1L)}")
      assert(rows(2L) == Seq(t(0).getTime, t(100).getTime),
        "key 2: long gap across batches splits")
    } finally q.stop()
  }

  test("streaming curation: scrub, gate, dedup, split in one pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp, String)]
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(min: Long) = new Timestamp(t0 + min * 60000)
    val longDoc = (1 to 25).map(i => s"tok$i").mkString(" ")
    val out = QcStream.streamingCurate(
      mem.toDF().toDF("doc_id", "ts", "text"), "text", "ts", "doc_id",
      minTokens = 20, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("qccurate")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, t(0), s"$longDoc mail me at eve@leak.io today"),
        (2L, t(1), "too short to keep"),
        (3L, t(2), s"$longDoc mail me at eve@leak.io today"), // dup of 1
        (4L, t(3), s"$longDoc extra tail"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, text, split FROM qccurate")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      assert(rows.map(_._1) == Seq(1L, 4L),
        s"short doc gated, duplicate dropped: ${rows.map(_._1)}")
      assert(rows.head._2.endsWith("mail me at <EMAIL> today"),
        "PII scrubbed before landing")
      assert(rows.forall(r => Set("train", "val", "test").contains(r._3)))
    } finally q.stop()
  }
}
