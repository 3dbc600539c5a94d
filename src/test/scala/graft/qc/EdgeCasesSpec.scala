package graft.qc

import graft.SparkSpec
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Degenerate-input behavior: empty tables, single rows, k > corpus —
  * the places distributed operators usually break first. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def emptyTs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("id", LongType), StructField("t", TimestampType),
      StructField("v", DoubleType))))

  test("addFlags/applyFlags/progress on an EMPTY table") {
    val flagged = QcFlags.addFlags(emptyTs, Seq("v"))
    assert(flagged.count() == 0 && flagged.columns.contains("v_qcflag"))
    assert(QcFlags.applyFlags(flagged).count() == 0)
    val prog = QcProgress.summary(flagged).collect()(0)
    assert(prog.getAs[Long]("total") == 0)
    assert(prog.isNullAt(prog.fieldIndex("pct_checked")),
      "0 valid values → null pct_checked (R NA_real_)")
    // ANSI mode forbids 0/0 even for doubles, so the empty-table
    // percentages are null (documented divergence from R's NaN)
    assert(prog.isNullAt(prog.fieldIndex("pct_approved")))
  }

  test("windowing on an EMPTY table: catalog is empty, count 0") {
    val w = QcWindows.withWinId(emptyTs, "t", 24.0)
    val cat = QcWindows.windowCatalog(w, "t", "v")
    assert(QcWindows.windowCount(cat) == 0)
    assert(QcWindows.withRowId(emptyTs, Seq("t", "id")).count() == 0)
  }

  test("single-row table: rowid 0, one window, progress 100% after approve") {
    val one = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), Some(5.0)))
      .toDF("id", "t", "v")
    val flagged = QcFlags.addFlags(one, Seq("v"))
    val withId = QcWindows.withRowId(flagged, Seq("t", "id"))
    assert(withId.select(FlagSchema.qcol(".rowid")).as[Long].head() == 0L)
    val approved = QcActions.approveUnflagged(withId, "v", lit(true))
    val prog = QcProgress.summary(approved).collect()(0)
    assert(prog.getAs[Double]("pct_checked") == 100.0)
  }

  test("top-k with k larger than the corpus returns everything, ranked") {
    val emb = (0 until 3).map(i => (i.toLong, Array.fill(4)(i + 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(emb, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 10)
    assert(out.count() == 2, "corpus minus self")
  }

  test("dedup on empty and all-identical inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactCanonical(empty, Seq("text"), "doc_id").count() == 0)
    assert(Dedup.minHashNearDupPairs(empty, "doc_id", "text").count() == 0)
    val same = (0 until 5).map(i => (i.toLong, "a b c d e f g")).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(same, "doc_id", "text",
      shingleN = 3, threshold = 0.9)
    assert(pairs.count() == 10, "all C(5,2) identical pairs at jaccard 1.0")
  }

  test("text analysis on degenerate strings") {
    val df = Seq("", " ", "x").toDF("text")
    val toks = df.select(TextAnalysis.nTokens(col("text"))).as[Int].collect().toSeq
    assert(toks == Seq(0, 0, 1))
    val fp = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fp(0) == fp(1), "blank variants share the empty fingerprint")
    assert(TextAnalysis.LangProfiles.nonEmpty)
  }

  test("session checkpoint/resume round-trip preserves flags and windows") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val series = (0 until 50).map(i =>
      (new Timestamp(t0 + i * 3600L * 1000), Some(i * 1.0))).toDF("DateTime", "temp")
    var s = QcSession.open(QcFlags.addFlags(series, Seq("temp")),
      "temp", "DateTime", winHrs = 25.0)
    s = s.approveUnflagged()
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    QcSession.checkpoint(s, s"$dir/session.parquet")
    val r = QcSession.resume(spark, s"$dir/session.parquet",
      "temp", "DateTime", winHrs = 25.0)
    assert(r.windowCount == 2)
    import org.apache.spark.sql.functions.col
    assert(r.df.filter(col("temp_qcflag") === FlagSchema.Approved).count() == 25,
      "window 0's approvals survive the round-trip")
  }

  test("session over an all-missing series: no kept windows, cursor stays 0") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val series = (0 until 50).map(i =>
      (new Timestamp(t0 + i * 3600L * 1000), Option.empty[Double]))
      .toDF("DateTime", "temp")
    val s = QcSession.open(QcFlags.addFlags(series, Seq("temp")),
      "temp", "DateTime", winHrs = 25.0)
    assert(s.windowCount == 0)
    for (m <- Seq(s.next, s.goto(5), s.next.next.prev, s.goto(-3))) {
      assert(m.cursor == 0)
      assert(m.render().count() == 0)
    }
  }
}
