package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Regression lock for the r15 withRowId correctness find: the old
  * repartitionByRange + monotonically_increasing_id design depended on
  * physical exchange reuse between its counts branch and its data
  * branch; as soon as the two branches pruned different columns (any
  * caller keeping more columns than the sort keys) the exchanges were
  * planned separately, each sampled range boundaries with its own
  * per-RDD seed, and the mismatched partition counts corrupted ids —
  * measured: 10,000 rows → 9,779 distinct ids through the
  * partitioned-write path at 16 shuffle partitions. The bucket design
  * assigns partitions from row VALUES against literal boundaries, so
  * any re-execution agrees by construction. */
class RowIdSpec extends SparkSpec {
  import spark.implicits._

  test("wide df through a partitioned write at 16 shuffle partitions: " +
      "ids stay a contiguous 0-based permutation (the r15 duplicate-id bug)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = graft.SparkEntry.adaptTs(
        spark.read.parquet("/root/testdata/sf0.01/events.parquet"))
      // WIDE input (extra derived column) — exactly the shape that
      // broke exchange reuse in the old design
      val wide = ev.withColumn("value2", col("value") * 2)
      val ided = QcWindows.withRowId(wide, Seq("ts", "event_id"),
        idCol = "rid")
      val out = java.nio.file.Files.createTempDirectory("rowid").toString
      ided.withColumn("chunk", floor(col("rid") / 2048L))
        .write.mode("overwrite").option("header", "true")
        .partitionBy("chunk").csv(out)
      val back = spark.read.option("header", "true").csv(out)
        .select(col("rid").cast("long")).as[Long].collect().sorted
      assert(back.length == 10000, s"rows written: ${back.length}")
      assert(back.toSeq == (0L until 10000L),
        s"ids must be the exact 0-based permutation; " +
          s"distinct=${back.distinct.length} min=${back.head} max=${back.last}")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.clearCache()
    }
  }

  test("ids match the global sort order on a wide df") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = graft.SparkEntry.adaptTs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val wide = ev.withColumn("extra", col("value") + 1)
    val got = QcWindows.withRowId(wide, Seq("ts", "event_id"), idCol = "rid")
      .orderBy("rid").select(col("event_id")).as[Long].collect()
    val want = wide.orderBy(col("ts"), col("event_id"))
      .select(col("event_id")).as[Long].collect()
    assert(got.toSeq == want.toSeq, "rowid order must equal the global sort")
  }

  test("string leading key (the shuffleOrder shape): contiguous ids") {
    val df = (0 until 5000).map(i => (f"k${(i * 2654435761L) % 100000}%09d", i))
      .toDF("skey", "i")
    val ided = QcWindows.withRowId(df, Seq("skey", "i"), idCol = "rid")
    val ids = ided.select(col("rid")).as[Long].collect().sorted
    assert(ids.toSeq == (0L until 5000L), s"distinct=${ids.distinct.length}")
  }

  test("low-cardinality string lead key (duplicate-heavy): executor-side " +
      "distinct bounds the boundary collect; ids stay a contiguous " +
      "permutation in (key, tie) order") {
    // 10 distinct keys over 5000 rows: the residue sample usually
    // misses every key (k > 1), exercising the distinct-of-all-keys
    // fallback; before the fix this shape either collapsed all data
    // into one bucket or collected every duplicate row to the driver
    val df = (0 until 5000).map(i => (s"key_${i % 10}", i)).toDF("skey", "i")
    val ided = QcWindows.withRowId(df, Seq("skey", "i"), idCol = "rid")
    val ids = ided.select(col("rid")).as[Long].collect().sorted
    assert(ids.toSeq == (0L until 5000L), s"distinct=${ids.distinct.length}")
    val got = ided.orderBy("rid").select(col("skey"), col("i"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val want = (0 until 5000).map(i => (s"key_${i % 10}", i)).sorted
    assert(got.toSeq == want, "ids must follow (key, tie) order")
  }

  test("constant numeric lead key: boundaries collapse to one bucket, " +
      "ids still follow the tiebreaker order") {
    val df = (0 until 3000).map(i => (42L, 2999 - i)).toDF("k", "tie")
    val got = QcWindows.withRowId(df, Seq("k", "tie"), idCol = "rid")
      .orderBy("rid").select(col("tie")).as[Int].collect()
    assert(got.toSeq == (0 until 3000), "constant-key ids must sort by tiebreaker")
  }

  test("null lead keys mix with values: nulls take the lowest ids " +
      "(asc nulls-first), ids stay a contiguous permutation") {
    val df = (0 until 4000).map { i =>
      (if (i % 7 == 0) None else Some(i.toLong % 97), i)
    }.toDF("k", "tie")
    val ided = QcWindows.withRowId(df, Seq("k", "tie"), idCol = "rid")
    val ids = ided.select(col("rid")).as[Long].collect().sorted
    assert(ids.toSeq == (0L until 4000L), s"distinct=${ids.distinct.length}")
    val got = ided.orderBy("rid").select(col("k"), col("tie"))
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getInt(1)))
    val want = (0 until 4000).map { i =>
      (if (i % 7 == 0) Option.empty[Long] else Some(i.toLong % 97), i)
    }.sortBy { case (k, tie) => (k.getOrElse(Long.MinValue), tie) }
    assert(got.toSeq == want, "null keys must rank first, then (k, tie) asc")
  }

  test("all-null lead key: percentile boundaries degrade to a single " +
      "bucket without crashing; tiebreaker still orders the ids") {
    val df = (0 until 1000).map(i => (Option.empty[Long], 999 - i)).toDF("k", "tie")
    val got = QcWindows.withRowId(df, Seq("k", "tie"), idCol = "rid")
      .orderBy("rid").select(col("tie")).as[Int].collect()
    assert(got.toSeq == (0 until 1000))
  }

  private def withPartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.clearCache()
    }
  }

  test("wide shuffle widths (200 = Spark's default, and 1000): the same " +
      "ids as at 4 partitions") {
    // 2 × partitions buckets: the bucket expression over ~400 and ~2000
    // boundaries must convert, plan and compile; without the codegen
    // fallback a generated method past the JVM's 64 KB limit throws
    // instead of silently running interpreted
    val ev = spark.range(10000).select(
      pmod(xxhash64(col("id")), lit(1000000L)).as("k"), col("id").as("event_id"))
    def idsAt(parts: Int): Map[Long, Long] = withPartitions(parts) {
      QcWindows.withRowId(ev, Seq("k", "event_id"), idCol = "rid")
        .select(col("event_id"), col("rid")).as[(Long, Long)].collect().toMap
    }
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val at4 = idsAt(4)
      assert(at4.values.toSeq.sorted == (0L until at4.size.toLong))
      Seq(200, 1000).foreach { p =>
        assert(idsAt(p) == at4, s"ids at $p shuffle partitions differ from 4")
      }
    } finally spark.conf.set(key, prev)
  }

  test("QcSession.open at Spark's default 200 shuffle partitions opens " +
      "and renders window 0") {
    withPartitions(200) {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val df = (0 until 5000)
        .map(i => (new Timestamp(t0 + i * 600000L), math.sin(i / 50.0)))
        .toDF("DateTime", "temp")
      val s = QcSession.open(QcFlags.addFlags(df, Seq("temp")), "temp",
        "DateTime", winHrs = 24.0)
      // 10-minute samples: 144 per daily window
      assert(s.render().count() == 144)
    }
  }
}
