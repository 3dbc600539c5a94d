package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.qc.{FlagSchema, QcAuto, QcExport, QcFlags, QcProgress}
import graft.timeseries.Resample
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The QC layer in bulk: range check, four rolling/grouped detectors
  * per sensor, progress, an hourly resample of the cleaned series and
  * the dual csv + parquet export with its MD5 manifest. Windowed sorts,
  * shuffles and writes do the work. The input is already split into
  * more files than there are cores. */
object QcBatch extends Workload {
  val name = "qc_batch"

  val Sensors = 8
  val RowsPerSensor = 3600
  val InputFiles = 16
  val V = "temp"
  val Lo = -50.0
  val Hi = 150.0
  val MinShift = 30.0

  /** Anomalies sit in 120-row slots, far enough apart that no detector's
    * frame (±12 rows) sees two of them. Offsets inside a slot: */
  val Slot = 120
  val At = 40
  val FlatLen = 8
  val StepFrom = 24
  val StepTo = 84
  val Kinds = Seq("spike", "flatline", "step", "range", "null")
  val PerKind = 3 // slots per (sensor, variable, kind)

  final case class Input(path: String, rows: Long,
      slots: Map[String, Array[Long]], fp: String)
  type In = Input

  def rows(in: In): Long = in.rows
  def fingerprint(in: In): String = in.fp

  private def baseAt(seed: Long, sensor: Column, i: Column): Column =
    lit(10.0) * sin(i.cast("double") * (2 * math.Pi / 1440) + sensor.cast("double") * 0.7) +
      lit(20.0) + Gen.noise(seed, 1, sensor * RowsPerSensor + i) * 0.5

  def generate(spark: SparkSession, seed: Long, dir: String): In = {
    val slotsPerSensor = RowsPerSensor / Slot
    val rnd = new SplittableRandom(seed)
    val picked = Gen.distinct(rnd, Sensors.toLong * slotsPerSensor,
      Sensors * PerKind * Kinds.size, Set.empty)
    for (k <- picked.indices.reverse) {
      val j = rnd.nextInt(k + 1)
      val t = picked(k); picked(k) = picked(j); picked(j) = t
    }
    val slots = Kinds.zipWithIndex.map { case (kind, ki) =>
      kind -> picked.slice(ki * Sensors * PerKind, (ki + 1) * Sensors * PerKind).sorted
    }.toMap

    val n = Sensors.toLong * RowsPerSensor
    val sensor = (col("id") / RowsPerSensor).cast("long")
    val i = col("id") % RowsPerSensor
    val slot = col("id") / Slot cast "long"
    val off = i % Slot
    def in(kind: String) = Gen.isin(slot, slots(kind))
    val base = baseAt(seed, sensor, i)
    val value = when(in("null") && off === At, lit(null).cast("double"))
      .when(in("range") && off === At, lit(1000.0))
      .when(in("spike") && off === At, base + 25.0)
      .when(in("flatline") && off >= At && off < At + FlatLen, baseAt(seed, sensor, i - off + At))
      .when(in("step") && off >= StepFrom && off < StepTo, base + 45.0)
      .otherwise(base)
    val path = s"$dir/sensors"
    // range() splits [0, n) into equal contiguous partitions: one file
    // per half sensor, in time order
    spark.range(0, n, 1, InputFiles)
      .select(concat(lit("S"), sensor.cast("string")).as("sensor"),
        timestamp_seconds(lit(Gen.T0) + i * 60).as("ts"),
        value.as(V))
      .write.parquet(path)

    val back = spark.read.parquet(path)
    val files = new File(path).listFiles().count(_.getName.endsWith(".parquet"))
    require(files == InputFiles, s"qc_batch input: $files files, expected $InputFiles")
    val per = Sensors * PerKind
    val r = back.agg(count(lit(1)), count_if(col(V).isNull), count_if(col(V) > 500)).head()
    require(r.getLong(0) == n && r.getLong(1) == per && r.getLong(2) == per,
      s"qc_batch input: planted counts differ: $r (expected $n rows, $per per kind)")
    Input(path, n, slots, Workload.fingerprint(back))
  }

  def pass(spark: SparkSession, in: In, out: String, sp: Spans, check: Boolean): PassResult = {
    val raw = spark.read.parquet(in.path)
    val bucket = col("sensor")
    val order = Seq("ts")
    val t0 = System.nanoTime()
    val init = sp.batch("qc.flag_init")(
      QcAuto.flagRange(QcFlags.addFlags(raw, Seq(V)), V, Lo, Hi))
    val spiked = sp.batch("qc.auto.spikes")(QcAuto.flagSpikes(init, V, order, bucket))
    val flat = sp.batch("qc.auto.flatlines")(QcAuto.flagFlatlines(spiked, V, order, bucket))
    val mad = sp.batch("qc.auto.mad")(QcAuto.flagMadOutliers(flat, V, bucket))
    val flagged = sp.batch("qc.auto.steps")(
      QcAuto.flagSteps(mad, V, order, bucket, minShift = MinShift))
    val progress = sp("qc.progress")(QcProgress.summary(flagged).collect())
    sp("ts.resample")(QcExport.writeParquet(
      Resample.resampleMean(QcFlags.applyFlags(flagged), "ts", V, 3600, Seq("sensor")),
      s"$out/resample.parquet"))
    val manifest = sp("qc.export")(QcExport.writeExports(flagged, s"$out/export", "batch",
      Seq("csv", "parquet"), timeCol = Some("ts")))
    val wallS = Workload.nowS(t0)
    val retainedMb = Blocks.mb(Blocks.bytes())

    val errors = mutable.ArrayBuffer.empty[String]
    if (check) {
      val nRows = in.rows
      val qc = spark.read.parquet(s"$out/export/batch_qc.parquet")
      val clean = spark.read.parquet(s"$out/export/batch_clean.parquet")
      checkFlags(errors, qc, in)
      for ((what, df) <- Seq(
          "batch_qc.parquet" -> qc, "batch_clean.parquet" -> clean,
          "batch_qc.csv" -> spark.read.option("header", "true").csv(s"$out/export/batch_qc.csv"),
          "batch_clean.csv" -> spark.read.option("header", "true").csv(s"$out/export/batch_clean.csv"))) {
        val c = df.count()
        Workload.check(errors, c == nRows, s"qc_batch export $what: $c rows, expected $nRows")
      }
      checkManifest(errors, manifest, s"$out/export")
      val rs = spark.read.parquet(s"$out/resample.parquet").agg(count(lit(1)), sum("n")).head()
      val kept = clean.filter(col(V).isNotNull).count()
      Workload.check(errors, rs.getLong(0) == Sensors * RowsPerSensor / 60,
        s"qc_batch resample: ${rs.getLong(0)} buckets, expected ${Sensors * RowsPerSensor / 60}")
      Workload.check(errors, rs.getLong(1) == kept,
        s"qc_batch resample: ${rs.getLong(1)} values, expected $kept kept by the clean export")
      val nulls = in.slots("null").length
      val total = progress.find(_.getAs[String]("variable") == V).map(_.getAs[Long]("total"))
      Workload.check(errors, total.contains(nRows - nulls),
        s"qc_batch progress: total $total, expected ${nRows - nulls}")
    }
    PassResult(wallS, retainedMb, Map.empty, errors.toSeq)
  }

  /** Every planted anomaly row carries -2 (missing values -1), and -1
    * appears nowhere else. */
  private def checkFlags(errors: mutable.Buffer[String], qc: DataFrame, in: In): Unit = {
    val i = (unix_seconds(col("ts")) - Gen.T0) / 60 cast "long"
    val g = (substring(col("sensor"), 2, 8).cast("long") * RowsPerSensor + i)
    val slot = g / Slot cast "long"
    val off = i % Slot
    def planted(kind: String) = Gen.isin(slot, in.slots(kind))
    val f = FlagSchema.qcol(FlagSchema.flagCol(V, FlagSchema.resolveSuffix(qc)))
    val mustFlag = (planted("spike") && off === At) || (planted("range") && off === At) ||
      (planted("flatline") && off >= At && off < At + FlatLen) ||
      (planted("step") && (off === StepFrom || off === StepTo))
    val mustNA = planted("null") && off === At
    val bad = qc.filter((mustFlag && f =!= FlagSchema.ManualFlag) ||
      (mustNA =!= (f === FlagSchema.OrigNA)) || f.isNull).count()
    Workload.check(errors, bad == 0L, s"qc_batch flags: $bad planted rows not flagged as planted")
  }

  /** Re-hash every file the manifest lists and require that it lists
    * exactly the data files on disk. */
  private def checkManifest(errors: mutable.Buffer[String], manifest: String, dir: String): Unit = {
    val base = Paths.get(dir)
    val listed = Files.readAllLines(Paths.get(manifest)).asScala.filter(_.nonEmpty).map { l =>
      val parts = l.split("  ", 2)
      parts(1) -> parts(0)
    }.toMap
    val onDisk = Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.toString == manifest || p.getFileName.toString.startsWith(".") ||
        p.getFileName.toString == "_SUCCESS")
      .map(p => base.relativize(p).toString).toSet
    Workload.check(errors, listed.keySet == onDisk,
      s"qc_batch manifest lists ${listed.size} files, ${onDisk.size} on disk")
    val bad = listed.count { case (rel, hex) =>
      val p = base.resolve(rel)
      !Files.exists(p) || MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
        .map("%02x".format(_)).mkString != hex
    }
    Workload.check(errors, bad == 0, s"qc_batch manifest: $bad checksums do not match")
  }
}
