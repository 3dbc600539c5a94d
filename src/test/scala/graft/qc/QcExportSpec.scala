package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class QcExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir = Files.createTempDirectory("qcexport").toString

  private def df = Seq(
    (Timestamp.valueOf("2024-01-01 12:34:56"), Some(1.5), 0),
    (Timestamp.valueOf("2024-01-02 00:00:00"), None, -1),
    (Timestamp.valueOf("2024-01-03 08:00:00"), Some(3.5), -2)
  ).toDF("DateTime", "v", "v_qcflag")

  test("S7 dual export: qc variant keeps flags, clean variant masks and drops them; S8 manifest covers all files") {
    val dir = tmpDir
    val manifest = QcExport.writeExports(df, dir, "site1",
      formats = Seq("csv", "parquet"), timeCol = Some("DateTime"))
    val qc = spark.read.parquet(s"$dir/site1_qc.parquet")
    val clean = spark.read.parquet(s"$dir/site1_clean.parquet")
    assert(qc.columns.contains("v_qcflag") && !clean.columns.contains("v_qcflag"))
    assert(clean.filter(col("v").isNull).count() == 2, "flag -1 and -2 masked")
    val lines = Files.readAllLines(Paths.get(manifest))
    assert(lines.size >= 4, "manifest lists csv+parquet x qc+clean data files")
    assert(lines.stream().allMatch(l => l.matches("[0-9a-f]{32}  .+")))
    // self-verify EVERY manifest row (s8 is the one rows-only gate
    // entry with no oracle twin — this independent recompute closes
    // it): re-hash each listed file with MessageDigest and compare
    import scala.jdk.CollectionConverters._
    for (line <- lines.asScala) {
      val (hex, rel) = (line.substring(0, 32), line.substring(34))
      val md = java.security.MessageDigest.getInstance("MD5")
      val got = md.digest(Files.readAllBytes(Paths.get(dir).resolve(rel)))
        .map("%02x".format(_)).mkString
      assert(got == hex, s"manifest md5 mismatch for $rel")
    }
    // and the manifest covers exactly the regular data files on disk
    val onDisk = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => Paths.get(dir).relativize(p).toString)
      .filterNot(n => n.endsWith("_checksums.md5") ||
        n.split('/').last.startsWith(".") || n.endsWith("_SUCCESS"))
      .toSet
    assert(lines.asScala.map(_.substring(34)).toSet == onDisk,
      "manifest rows must cover every data file, nothing else")
  }

  test("S8 verifyManifest: true on a fresh export, flips on a changed line, " +
      "all false on an empty directory") {
    val names = Seq("site1_qc.csv", "site1_qc.parquet", "site1_clean.csv",
      "site1_clean.parquet")
    def verdict(dir: String, manifest: String) =
      QcExport.verifyManifest(spark, dir, manifest, names)
        .as[(String, Boolean)].collect().toSeq
    val dir = tmpDir
    val manifest = QcExport.writeExports(df, dir, "site1",
      formats = Seq("csv", "parquet"), timeCol = Some("DateTime"))
    assert(verdict(dir, manifest) == ("_manifest_text" +: names).sorted.map(_ -> true))
    // one digest of the clean csv export rewritten: its dataset and the
    // whole-text row flip, the others hold
    val lines = Files.readAllLines(Paths.get(manifest))
    val i = (0 until lines.size).find(lines.get(_).contains("site1_clean.csv/")).get
    lines.set(i, "0" * 32 + lines.get(i).substring(32))
    Files.write(Paths.get(manifest), lines)
    assert(verdict(dir, manifest).filterNot(_._2).map(_._1) ==
      Seq("_manifest_text", "site1_clean.csv"))
    // no exported file (no manifest either): every row false, no throw
    val empty = tmpDir
    assert(verdict(empty, s"$empty/site1_checksums.md5") ==
      ("_manifest_text" +: names).sorted.map(_ -> false))
  }

  test("S5 xlsx-shaped chunked export: exact chunk boundaries, writexl " +
      "naming, single-sheet keeps the bare stem") {
    val dir = tmpDir
    // 10 rows, maxRows 4 → sheets of 4/4/2 (a ragged tail crossing two
    // exact boundaries); deterministic (t, id) order
    val ten = (0 until 10).map(i =>
      (Timestamp.valueOf(s"2024-01-01 00:00:0$i"), i.toLong))
      .toDF("t", "id")
    val idx = QcExport.writeXlsxChunked(ten, dir, "tab",
      orderCols = Seq("t", "id"), timeCol = Some("t"), maxRows = 4L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx == Map("tab_1" -> 4L, "tab_2" -> 4L, "tab_3" -> 2L),
      s"boundary arithmetic: $idx")
    // sheet k holds rows [k*maxRows, (k+1)*maxRows) in (t, id) order:
    // sheet 2 must contain exactly ids 4..7 (the (t,id) sort equals id
    // order here by construction)
    val s2 = spark.read.option("header", "true").csv(s"$dir/tab_xlsx")
      .filter(col("sheet") === "tab_2")
      .select(col("id").cast("long")).as[Long].collect().sorted
    assert(s2.toSeq == Seq(4L, 5L, 6L, 7L), s"sheet 2 rows: ${s2.toSeq}")
    // an exact multiple leaves no ragged sheet; a single chunk keeps
    // the bare stem (writexl naming, R/qc_exports.R:106-110)
    val eight = ten.filter(col("id") < 8)
    val idx8 = QcExport.writeXlsxChunked(eight, dir, "even",
      orderCols = Seq("id"), maxRows = 4L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx8 == Map("even_1" -> 4L, "even_2" -> 4L), s"exact multiple: $idx8")
    val idx1 = QcExport.writeXlsxChunked(ten, dir, "one",
      orderCols = Seq("id"), maxRows = 1048576L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx1 == Map("one" -> 10L), s"single sheet keeps bare stem: $idx1")
    // the sheet-index manifest CSV exists alongside the data
    import scala.jdk.CollectionConverters._
    val manifestRows = Files.list(Paths.get(s"$dir/tab_sheets.csv"))
      .iterator().asScala.filter(_.toString.endsWith(".csv"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(manifestRows.exists(_.startsWith("tab_3,2")),
      s"sheet index written: $manifestRows")
  }

  test("S5 xlsx edge cases: empty input yields an empty sheet index " +
      "(no schema-inference crash); newline-in-field counts as ONE row; " +
      "a pre-existing 'sheet' column is refused loudly") {
    val dir = tmpDir
    // empty input: partitionBy writes only _SUCCESS — the read-back
    // used to die in CSV schema inference
    val none = Seq.empty[(Long, String)].toDF("id", "v")
    val idx0 = QcExport.writeXlsxChunked(none, dir, "empty",
      orderCols = Seq("id"), maxRows = 4L)
    assert(idx0.columns.toSeq == Seq("sheet", "n_rows") && idx0.count() == 0L,
      "empty input must yield an empty index, not a crash")
    // a quoted field containing a newline is one row, not two: without
    // multiLine the manifest certified a row count the sheet didn't have
    val multi = Seq((1L, "plain"), (2L, "line1\nline2"), (3L, "x"))
      .toDF("id", "v")
    val idxM = QcExport.writeXlsxChunked(multi, dir, "ml",
      orderCols = Seq("id"), maxRows = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idxM == Map("ml" -> 3L), s"newline field must count once: $idxM")
    // 'sheet' is the partition-directory name: silently overwriting a
    // user column of that name would drop data from the export
    val clash = Seq((1L, "a")).toDF("id", "sheet")
    val e = intercept[IllegalArgumentException] {
      QcExport.writeXlsxChunked(clash, dir, "clash", orderCols = Seq("id"))
    }
    assert(e.getMessage.contains("sheet"))
  }

  test("S3 CSV sink: ISO-8601 UTC timestamps and NA null marker round-trip") {
    val dir = tmpDir
    QcExport.writeCsv(df, s"$dir/out.csv", timeCol = Some("DateTime"))
    val lines = Files.list(Paths.get(s"$dir/out.csv")).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
      .flatMap(p => scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(Paths.get(p))).asScala)
    assert(lines.exists(_.contains("2024-01-01T12:34:56Z")))
    assert(lines.exists(_.contains("NA")), "null rendered as NA marker")
  }

  test("S2 CSV source: header + timestamp cast + projection") {
    val dir = tmpDir
    QcExport.writeCsv(df.select(col("DateTime").cast("string"), col("v")), s"$dir/in.csv")
    val back = QcExport.readCsv(spark, s"$dir/in.csv",
      timeCol = "DateTime", select = Seq("DateTime", "v"))
    assert(back.schema("DateTime").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.count() == 3)
  }

  test("time-bucketed layout: window slices are partition-pruned at the scan") {
    val dir = tmpDir
    QcExport.writeTimeBucketed(df, "DateTime", s"$dir/bucketed")
    val back = spark.read.parquet(s"$dir/bucketed")
    val slice = back.filter(col("qc_date") === "2024-01-02")
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"expected partition pruning in:\n$plan")
    assert(slice.count() == 1)
    // pruning actually limits the files read: one day's partition only
    val scanned = slice.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount }
    assert(scanned.contains(1), s"expected 1 of 3 day-partitions scanned, got $scanned")
  }

  test("S1/S4 parquet checkpoint round-trip preserves schema and rows") {
    val dir = tmpDir
    QcExport.writeParquet(df, s"$dir/ckpt.parquet")
    val back = QcExport.readCheckpoint(spark, s"$dir/ckpt.parquet")
    // parquet restores nullable=true; names+types are the contract
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() == 3)
  }

  test("upsertByKey: highest version wins, updates win ties, inserts append") {
    import spark.implicits._
    val base = Seq((1L, "a", 3L), (2L, "b", 5L)).toDF("k", "v", "ver")
    val upd = Seq(
      (1L, "a2", 4L), // newer → replaces
      (2L, "b2", 5L), // tie → update wins
      (3L, "c", 1L)   // new key → inserted
    ).toDF("k", "v", "ver")
    val out = QcExport.upsertByKey(base, upd, Seq("k"), "ver")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "a2", 4L), (2L, "b2", 5L), (3L, "c", 1L)))
    // stale update never downgrades
    val stale = Seq((1L, "old", 2L)).toDF("k", "v", "ver")
    val kept = QcExport.upsertByKey(base, stale, Seq("k"), "ver")
      .filter(col("k") === 1L).as[(Long, String, Long)].head()
    assert(kept == ((1L, "a", 3L)))
  }
}
