package graft

/** The stream fixtures read the driver's single-file tables in place:
  * a full AvailableNow drain lands every batch row, and no link
  * directory is made for the file-stream source. */
class StreamSourceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("stream fixtures drain every batch row, with no link dirs") {
    // a fresh temp root, so a link dir left by an earlier run cannot
    // hide a new one
    val root = java.nio.file.Files.createTempDirectory("graft_stream_spec").toFile
    val prev = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", root.getPath)
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      for ((table, stream) <- Seq(
          "events" -> SparkEntry.eventsStream(spark, dir),
          "documents" -> SparkEntry.documentsStream(spark, dir))) {
        val want = spark.read.parquet(s"$dir/$table.parquet").count()
        val got = SparkEntry.drainToTable(spark, stream, "append", s"spec_source_$table").count()
        assert(want > 0 && got == want, s"$table: drained $got of $want rows")
      }
      val scratch = new java.io.File(root, "graft_scratch")
      val links = Option(scratch.listFiles).toSeq.flatten.map(_.getName)
        .filter(_.startsWith("stream_"))
      assert(links.isEmpty, s"link dirs made: $links")
    } finally {
      System.setProperty("java.io.tmpdir", prev)
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }
}
