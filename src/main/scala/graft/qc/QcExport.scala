package graft.qc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Sources and sinks — the Spark equivalents of qctimeseries
  * R/qc_exports.R and the vignette's CSV ingest
  * (vignettes/overall_workflow.Rmd:98-111).
  *
  * Scale notes: all sinks are plain distributed `df.write` (one file per
  * partition); the MD5 manifest walks the output directory on the
  * driver, hashing FILES (a driver-side concern, exactly like the
  * reference's `tools::md5sum`, R/qc_exports.R:135-145) — data never
  * flows through the driver.
  */
object QcExport {

  import FlagSchema._

  /** S2: CSV source with header, timestamp cast, and optional column
    * projection (overall_workflow.Rmd:98-111: read.csv → POSIXct cast →
    * column subset). */
  def readCsv(
      spark: SparkSession,
      path: String,
      timeCol: String = "DateTime",
      timeFormat: Option[String] = None,
      select: Seq[String] = Nil): DataFrame = {
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path)
    val ts = timeFormat match {
      case Some(fmt) => to_timestamp(qcol(timeCol), fmt)
      case None      => to_timestamp(qcol(timeCol))
    }
    val cast = raw.withColumn(timeCol, ts)
    if (select.isEmpty) cast else cast.select(select.map(qcol): _*)
  }

  /** S1: Parquet checkpoint load (the engine's analogue of resuming from
    * a saved RData workspace, overall_workflow.Rmd:86-89). */
  def readCheckpoint(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Keyed upsert: merge `updates` into `base`, the highest
    * `versionCol` per key winning (updates win exact version ties) —
    * checkpoint maintenance without a table format: rewrite the
    * checkpoint as `upsertByKey(readCheckpoint(...), delta, ...)`.
    * ONE hash shuffle on the key (union is free); at real scale,
    * partition the checkpoint on the key range so the rewrite only
    * touches partitions the delta hits. */
  def upsertByKey(
      base: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(keys.map(qcol): _*)
      .orderBy(qcol(versionCol).desc, col("__src").desc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** ISO-8601 UTC rendering of the time column for text sinks
    * (R/qc_exports.R:61-66: `format(t, "%Y-%m-%dT%H:%M:%SZ", tz="UTC")`). */
  def isoUtc(df: DataFrame, timeCol: String): DataFrame =
    df.withColumn(timeCol,
      date_format(qcol(timeCol), "yyyy-MM-dd'T'HH:mm:ss'Z'"))

  /** S3: CSV sink — header, "NA" null marker, ISO-8601 UTC timestamps,
    * optional gzip (R/qc_exports.R:71-79). */
  def writeCsv(
      df: DataFrame,
      path: String,
      timeCol: Option[String] = None,
      gzip: Boolean = false): Unit = {
    val rendered = timeCol.fold(df)(isoUtc(df, _))
    val w = rendered.write.mode("overwrite")
      .option("header", "true").option("nullValue", "NA")
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }

  /** S4: Parquet sink with selectable compression
    * (R/qc_exports.R:82-89; zstd default like the reference). */
  def writeParquet(
      df: DataFrame,
      path: String,
      compression: String = "zstd"): Unit =
    df.write.mode("overwrite").option("compression", compression).parquet(path)

  /** Time-bucketed parquet layout (SURVEY §4.2a): the physical choice
    * that makes the interactive one-window-at-a-time pattern cheap at
    * scale — data is laid out `partitionBy(day)`, so a window slice
    * becomes a partition-pruned scan of one day's files instead of a
    * full-table filter. Pair with an ingest-time sort for row-group
    * min/max pruning within each day. */
  def writeTimeBucketed(
      df: DataFrame,
      timeCol: String,
      path: String,
      bucketCol: String = "qc_date",
      compression: String = "zstd"): Unit =
    df.withColumn(bucketCol, to_date(qcol(timeCol)))
      .sortWithinPartitions(qcol(timeCol))
      .write.mode("overwrite")
      .option("compression", compression)
      .partitionBy(bucketCol)
      .parquet(path)

  /** S7: dual-variant export (R/qc_exports.R:53-58): writes
    * `<stem>_qc.*` (flags retained) AND `<stem>_clean.*` (flags applied
    * with the `< 0` mask, then dropped) in each requested format, then
    * S8's MD5 manifest over everything written. Returns the manifest
    * path. */
  def writeExports(
      df: DataFrame,
      dir: String,
      stem: String,
      formats: Seq[String] = Seq("csv", "parquet"),
      timeCol: Option[String] = None,
      suffix: String = AutoSuffix,
      gzip: Boolean = false): String = {
    require(formats.nonEmpty && formats.forall(Set("csv", "parquet")),
      "writeExports: formats must be csv and/or parquet")
    val variants = Seq(
      s"${stem}_qc" -> df,
      s"${stem}_clean" -> QcFlags.applyFlags(df, suffix, dropFlags = true))
    for ((name, d) <- variants; fmt <- formats) fmt match {
      case "csv"     => writeCsv(d, s"$dir/$name.csv", timeCol, gzip)
      case "parquet" => writeParquet(d, s"$dir/$name.parquet")
    }
    md5Manifest(dir, stem)
  }

  /** S5: XLSX-shaped chunked export (R/qc_exports.R:92-122). A true
    * `.xlsx` workbook stays out of engine scope (SURVEY §2.1 — a
    * spreadsheet writer doesn't belong on a cluster classpath and a
    * 100 TB table is not a workbook); what survives re-expression is
    * the reference's CONTRACT: the table is split into sheet-sized
    * chunks of at most `maxRows` data rows (writexl's 1,048,576-row
    * Excel sheet limit), chunked in deterministic row order — sheet k
    * holds rows [k·maxRows, (k+1)·maxRows) — with writexl's naming
    * (R/qc_exports.R:106-110): a single-chunk table keeps the bare
    * `stem`, multi-chunk sheets are 1-based `<stem>_k`. Timestamps
    * render ISO-8601 UTC like every text sink (`to_text_time`).
    *
    * Layout: ONE distributed `partitionBy(sheet)` CSV write (each
    * sheet a `sheet=<name>` directory under `<dir>/<stem>_xlsx`) —
    * not a per-sheet filter loop, which would re-scan the input once
    * per sheet. Row ids come from [[QcWindows.withRowId]]'s
    * equi-depth-bucket + offset plan, so no single-partition pass
    * touches the data at any scale. The sheet index (one row per
    * sheet — catalog-sized) is re-derived by READING BACK the written
    * files, written to `<dir>/<stem>_sheets.csv`, and returned, so
    * the manifest certifies the files on disk, not the plan.
    */
  def writeXlsxChunked(
      df: DataFrame,
      dir: String,
      stem: String,
      orderCols: Seq[String],
      timeCol: Option[String] = None,
      maxRows: Long = 1048576L): DataFrame = {
    require(maxRows > 0, "writeXlsxChunked: maxRows must be positive")
    // 'sheet' is the partition-directory name in the on-disk layout;
    // silently overwriting a user column of that name would drop data
    // from the export — refuse loudly instead
    require(!df.columns.contains("sheet"),
      "writeXlsxChunked: input must not carry a 'sheet' column (it is " +
        "the sheet-partition name in the chunked layout) — rename it first")
    val spark = df.sparkSession
    // the reference knows nrow(df) up front; one cheap count decides
    // the single-sheet-keeps-bare-stem naming rule
    val nIn = df.count()
    val single = nIn <= maxRows
    // row ids BEFORE the ISO text rendering: the render truncates
    // sub-second precision, and ordering by the rendered string would
    // silently reorder ties within a second at chunk boundaries
    val ided = graft.qc.QcWindows.withRowId(df, orderCols,
      idCol = "__xlsx_rid")
    val withId = timeCol.fold(ided)(isoUtc(ided, _))
    val sheetName =
      if (single) lit(stem)
      else concat(lit(stem + "_"),
        (floor(col("__xlsx_rid") / maxRows) + 1).cast("long"))
    val dataPath = s"$dir/${stem}_xlsx"
    withId.withColumn("sheet", sheetName).drop("__xlsx_rid")
      .write.mode("overwrite")
      .option("header", "true").option("nullValue", "NA")
      .partitionBy("sheet").csv(dataPath)
    val index =
      if (nIn == 0)
        // an empty input writes no data files (partitionBy emits only
        // _SUCCESS) and CSV schema inference would throw on the bare
        // directory; the honest files-on-disk manifest is an empty
        // sheet index with the same schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("sheet",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType))))
      else spark.read.option("header", "true")
        // multiLine: a quoted field containing a newline is ONE row —
        // without it the line-splitting reader would count it twice
        // and the manifest would certify a row count the sheet does
        // not have
        .option("multiLine", "true").csv(dataPath)
        .groupBy(col("sheet").cast("string").as("sheet"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("sheet")
    index.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$dir/${stem}_sheets.csv")
    index
  }

  /** S8: MD5 checksum manifest over every regular file under `dir`
    * (R/qc_exports.R:135-145) → `<dir>/<stem>_checksums.md5`, one
    * `<hex>  <relpath>` line per file, sorted for determinism. */
  def md5Manifest(dir: String, stem: String): String = {
    val base = Paths.get(dir)
    val manifest = base.resolve(s"${stem}_checksums.md5")
    val root = base.toAbsolutePath
    val lines = exportFiles(dir, manifest.toString).map { p =>
      val f = Paths.get(p)
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
      s"$hex  ${root.relativize(f)}"
    }.sorted
    Files.writeString(manifest, lines.mkString("", "\n", "\n"))
    manifest.toString
  }

  /** S8 check, independent of the writer: `manifest` (an
    * [[md5Manifest]] over `dir`) against digests re-derived from the
    * bytes on disk. One `(dataset, md5_match)` row per name in
    * `datasets` — its manifest lines, in manifest order, equal the
    * sorted expected lines of the files under `dir/<dataset>` — plus
    * `_manifest_text`, the whole manifest against every expected line,
    * so an extra, missing, misordered or wrong line in any dataset
    * flips it. Every row is false when the walk finds no file.
    *
    * The driver only lists (the walk keeps [[md5Manifest]]'s inclusion
    * rule: everything except the manifest itself, dotfiles and
    * `_SUCCESS`); executors read and digest the bytes through a
    * `binaryFile` scan over the exact listed paths. */
  def verifyManifest(
      spark: SparkSession, dir: String, manifest: String,
      datasets: Seq[String]): DataFrame = {
    import spark.implicits._
    val paths = exportFiles(dir, manifest)
    if (paths.isEmpty)
      (datasets :+ "_manifest_text").toDF("dataset")
        .withColumn("md5_match", lit(false)).orderBy("dataset")
    else {
      val baseRe = java.util.regex.Pattern.quote(
        Paths.get(dir).toAbsolutePath.toString + File.separator)
      // one line per export file: "<md5hex>  <relpath>", digest
      // computed executor-side by the codegen'd md5 over the file bytes
      val expLines = spark.read.format("binaryFile").load(paths: _*)
        .select(concat(md5(col("content")), lit("  "),
          element_at(split(col("path"), baseRe, 2), 2)).as("line"))
        .select(col("line"),
          element_at(split(element_at(split(col("line"), "  ", 2), 2),
            "/"), 1).as("dataset"))
      // manifest lines with their file ORDER preserved (the text check
      // asserts the manifest is exactly the sorted expected lines, so
      // order is part of the contract); wholetext keeps one row per
      // file and the trailing-newline trim mirrors linesIterator
      val gotLines = spark.read.option("wholetext", "true").text(manifest)
        .select(posexplode(split(
          regexp_replace(col("value"), "[\r\n]+$", ""), "\r\n|\r|\n")))
        .select(col("pos"), col("col").as("line"),
          element_at(split(element_at(split(col("col"), "  ", 2), 2),
            "/"), 1).as("dataset"))
      val emptyArr = array().cast("array<string>")
      val expected = sort_array(collect_list(col("line"))).as("__exp")
      val got = transform(sort_array(collect_list(
        struct(col("pos"), col("line")))), x => x("line")).as("__got")
      val verdict = (coalesce(col("__exp"), emptyArr) ===
        coalesce(col("__got"), emptyArr)).as("md5_match")
      val perDs = datasets.toDF("dataset")
        .join(expLines.groupBy(col("dataset")).agg(expected), Seq("dataset"), "left")
        .join(gotLines.groupBy(col("dataset")).agg(got), Seq("dataset"), "left")
        .select(col("dataset"), verdict)
      val textRow = expLines.agg(expected).crossJoin(gotLines.agg(got))
        .select(lit("_manifest_text").as("dataset"), verdict)
      perDs.unionByName(textRow).orderBy("dataset")
    }
  }

  /** The files an [[md5Manifest]] over `dir` lists, as sorted absolute
    * paths. */
  private def exportFiles(dir: String, manifest: String): Seq[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    val skip = new File(manifest).getAbsolutePath
    walk(new File(dir).getAbsoluteFile)
      .filterNot(f => f.getAbsolutePath == skip ||
        f.getName.startsWith(".") || f.getName == "_SUCCESS")
      .map(_.getAbsolutePath).sorted
  }
}
