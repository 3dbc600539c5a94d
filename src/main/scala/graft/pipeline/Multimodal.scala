package graft.pipeline

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `BinaryType` columns with typed metadata alongside the
  * relational data. The decode path is REAL and pure-JDK:
  * [[jdkDecode]] reads PNG/JPEG/GIF dimensions via `javax.imageio` and
  * WAV format/sample-rate via `javax.sound.sampled`, and
  * [[pixelStats]] extracts real per-channel pixel statistics — no
  * external media library needed. Every image goes through one read
  * (`readImage`) and both perceptual hashes through one DCT kernel
  * (`dctHash`). [[decodeBatched]] is the one batched per-partition
  * seam: the per-payload functions here run through it, and a heavier
  * decoder (FFmpeg/Pillow bridge, a CLIP/wav2vec encoder) would plug
  * into it; [[hashFeatures]] is the model-free deterministic
  * pseudo-embedding used where no model is shipped.
  */
object Multimodal {

  /** Typed metadata produced by decoding. Images: width/height set,
    * nFrames = 1, sampleRateHz = 0. Audio: width/height = 0, nFrames =
    * PCM frame count, sampleRateHz set. Undecodable: zeros. */
  case class MediaMeta(
      format: String, width: Int, height: Int,
      nFrames: Int, sampleRateHz: Int)

  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("nFrames", IntegerType),
    StructField("sampleRateHz", IntegerType)))

  /** Real per-channel pixel statistics from a decoded image. */
  case class PixelStats(
      format: String, width: Int, height: Int,
      meanR: Double, meanG: Double, meanB: Double)

  // ImageIO defaults to a disk-backed cache per read; executors decode
  // thousands of payloads — keep it in memory.
  ImageIO.setUseCache(false)

  /** Byte length of the payload — pushdown-friendly, no decode. */
  def byteLength(bin: Column): Column = length(bin)

  /** Container sniff from magic bytes (first bytes, hex-compared —
    * pure built-ins, codegen'd): jpeg/png/gif/riff(wav|webp)/mp4/
    * unknown. */
  def sniffFormat(bin: Column): Column = {
    val head8 = lower(hex(substring(bin, 1, 8)))
    when(bin.isNull, lit(null).cast(StringType))
      .when(head8.startsWith("ffd8ff"), "jpeg")
      .when(head8.startsWith("89504e47"), "png")
      .when(head8.startsWith("47494638"), "gif")
      .when(head8.startsWith("52494646"), "riff")
      .when(lower(hex(substring(bin, 5, 4))) === "66747970", "mp4")
      .otherwise("unknown")
  }

  /** JVM-side magic-byte sniff (the executor twin of [[sniffFormat]]). */
  def sniffBytes(b: Array[Byte]): String =
    if (b == null || b.length < 4) "unknown"
    else if ((b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 && (b(2) & 0xFF) == 0xFF) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
             b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else "unknown"

  /** REAL pure-JDK decode: PNG/JPEG/GIF dimensions via
    * `javax.imageio.ImageIO`, WAV sample-rate/frame-count via
    * `javax.sound.sampled.AudioSystem`. Corrupt or unrecognized
    * payloads degrade to zeroed metadata rather than failing the task —
    * at 100 TB some payloads WILL be broken and one bad row must not
    * kill a 1000-executor stage. */
  def jdkDecode(b: Array[Byte]): MediaMeta = sniffBytes(b) match {
    case "wav" =>
      try {
        val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(b))
        MediaMeta("wav", 0, 0, aff.getFrameLength,
          math.round(aff.getFormat.getSampleRate))
      } catch { case NonFatal(_) => MediaMeta("wav", 0, 0, 0, 0) }
    case fmt =>
      val img = readImage(b)
      if (img == null) MediaMeta(fmt, 0, 0, 0, 0)
      else MediaMeta(fmt, img.getWidth, img.getHeight, 1, 0)
  }

  /** The one image read: a PNG/JPEG/GIF payload decoded by ImageIO;
    * null for any other format and for a payload ImageIO cannot read. */
  private def readImage(b: Array[Byte]): BufferedImage = sniffBytes(b) match {
    case "png" | "jpeg" | "gif" =>
      try ImageIO.read(new ByteArrayInputStream(b)) catch { case NonFatal(_) => null }
    case _ => null
  }

  /** REAL feature extraction: decode the image and compute per-channel
    * mean pixel values — the pure-JDK stand-in for a learned encoder.
    * Non-images yield zeroed stats. */
  def pixelStats(b: Array[Byte]): PixelStats = {
    val fmt = sniffBytes(b)
    val img = readImage(b)
    if (img == null) PixelStats(fmt, 0, 0, 0.0, 0.0, 0.0)
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
          x += 1
        }
        y += 1
      }
      val n = w.toDouble * h
      PixelStats(fmt, w, h, sr / n, sg / n, sb / n)
    }
  }

  /** Column-level decode convenience: wraps [[jdkDecode]] as a UDF.
    * Media decode is inherently JVM-object work (ImageIO readers) —
    * a UDF is the right tool here, unlike the arithmetic hot paths
    * that use native expressions. Prefer [[decodeBatched]] when the
    * decoder has per-batch setup cost to amortize. */
  private val decodeUdf = udf(jdkDecode _)

  /** Attach payload metadata columns (n_bytes, media struct with REAL
    * decoded dimensions) to a df with a binary column. */
  def withMediaMeta(df: DataFrame, binCol: String,
      metaCol: String = "media"): DataFrame =
    df.withColumn("n_bytes", byteLength(col(binCol)))
      .withColumn(metaCol, decodeUdf(col(binCol)))

  /** Batched per-partition decode plumbing — the Scala analogue of a
    * Pandas-UDF-over-mapInPandas pipeline: rows stream through each
    * partition in `batchSize` groups, the user's `decodeBatch` sees a
    * whole batch at once (amortizing decoder/model setup, exactly like
    * an Arrow batch), and results are re-flattened 1:1 with their keys.
    * A null result marks an undecodable payload and drops its row. The
    * decoder runs on executors; nothing is collected. Every batched
    * decode in the engine runs through here.
    *
    * @param decodeBatch batch decoder: payload batch → result batch
    *                    (must be 1:1); a per-payload function `f` of
    *                    this object batches as `_.map(f)`.
    */
  def decodeBatched[K, R](
      ds: Dataset[(K, Array[Byte])],
      batchSize: Int = 64)(
      decodeBatch: Seq[Array[Byte]] => Seq[R])(
      implicit enc: Encoder[(K, R)]): Dataset[(K, R)] =
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val rs = decodeBatch(batch.map(_._2))
        require(rs.length == batch.length,
          "decodeBatch must return one result per input")
        batch.map(_._1).zip(rs).filter(_._2 != null)
      }
    }

  /** Synthesize a real PNG: `w`×`h`, solid RGB fill. Deterministic
    * (PNG encoding of a fixed raster is stable), so decode round-trips
    * are oracle-checkable. */
  def makePng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ------------------------------------------------- perceptual hash

  /** 32×32 DCT-II basis table, computed ONCE per JVM with `StrictMath`
    * (fdlibm-specified, so the table — and therefore every pHash — is
    * bit-identical across JVMs and architectures). */
  private lazy val Dct32Cos: Array[Array[Double]] = {
    val t = Array.ofDim[Double](32, 32)
    var u = 0
    while (u < 32) {
      var x = 0
      while (x < 32) {
        t(u)(x) = StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 64.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Area-average luma (ITU-R 601 integer weights) of a decoded image
    * into a 32×32 grid — the deterministic downscale in front of the
    * DCT: every source pixel lands in exactly one grid cell, summed in
    * row-major order, so the result does not depend on the source
    * resolution's relationship to 32. */
  def grayPool32(img: BufferedImage): Array[Double] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Double](32 * 32)
    val counts = new Array[Int](32 * 32)
    var y = 0
    while (y < h) {
      val gy = (y.toLong * 32 / h).toInt
      var x = 0
      while (x < w) {
        val gx = (x.toLong * 32 / w).toInt
        val p = img.getRGB(x, y)
        val luma = (((p >> 16) & 0xFF) * 299 + ((p >> 8) & 0xFF) * 587 +
          (p & 0xFF) * 114) / 1000.0
        sums(gy * 32 + gx) += luma
        counts(gy * 32 + gx) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < sums.length) {
      if (counts(i) > 0) sums(i) /= counts(i)
      i += 1
    }
    sums
  }

  /** Separable 2-D DCT-II of a 32×32 block (no normalization — the
    * hash only compares coefficients to their own median, so scale
    * factors cancel). */
  def dct32(block: Array[Double]): Array[Double] = {
    val rows = new Array[Double](32 * 32)
    var y = 0
    while (y < 32) { // DCT along x for each row
      var u = 0
      while (u < 32) {
        var s = 0.0
        var x = 0
        while (x < 32) { s += block(y * 32 + x) * Dct32Cos(u)(x); x += 1 }
        rows(y * 32 + u) = s
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](32 * 32)
    var u = 0
    while (u < 32) { // DCT along y for each column of the row-pass
      var v = 0
      while (v < 32) {
        var s = 0.0
        var y2 = 0
        while (y2 < 32) { s += rows(y2 * 32 + u) * Dct32Cos(v)(y2); y2 += 1 }
        out(v * 32 + u) = s
        v += 1
      }
      u += 1
    }
    out
  }

  /** The DCT hash kernel: 2-D DCT of the 32×32 luma grid, the
    * `side`×`side` lowest-frequency block minus DC (`side² − 1` AC
    * coefficients, v-then-u order) thresholded against its own median
    * (an odd count, so `sorted((n − 1) / 2)` is the exact middle order
    * statistic), bit i in word i/64. */
  private def dctHash(img: BufferedImage, side: Int): Array[Long] = {
    val coefs = dct32(grayPool32(img))
    val n = side * side - 1
    val ac = new Array[Double](n)
    var i = 0
    var v = 0
    while (v < side) {
      var u = 0
      while (u < side) {
        if (u != 0 || v != 0) { ac(i) = coefs(v * 32 + u); i += 1 }
        u += 1
      }
      v += 1
    }
    val sorted = ac.clone()
    java.util.Arrays.sort(sorted)
    val median = sorted((n - 1) / 2)
    val words = new Array[Long]((n + 63) >>> 6)
    i = 0
    while (i < n) {
      if (ac(i) > median) words(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  /** 64-bit perceptual image hash (classic DCT pHash): decode →
    * 32×32 area-average luma → 2-D DCT → the 63 lowest-frequency AC
    * coefficients (8×8 block minus DC) thresholded against their own
    * median. Near-identical images (recompression, brightness shifts
    * — DC-only, small local edits) land within a small hamming
    * distance; pair discovery at scale goes through
    * [[Dedup.hammingNearDupPairs]] (pigeonhole equi-join, never
    * all-pairs). Returns null for undecodable payloads. */
  def pHash64(b: Array[Byte]): java.lang.Long = {
    val img = readImage(b)
    if (img == null) null else java.lang.Long.valueOf(dctHash(img, 8)(0))
  }

  /** 256-bit perceptual hash — the SCALE path for image dedup. Same
    * decode → 32×32 luma → 2-D DCT kernel as [[pHash64]], but keeping
    * the 255 lowest-frequency AC coefficients (16×16 block minus DC)
    * thresholded against their own median, packed into 4 longs (bit
    * i → word i/64; bit 255 is always 0 padding).
    *
    * Why the width matters at 100 TB: a pigeonhole hamming join over
    * b-bit hashes with h allowed errors buckets on h+1 chunks of
    * b/(h+1) bits, so candidate volume grows as (h+1)·n²/2^(b/(h+1)).
    * At b=64, h=6 that is a 9-bit bucket space (512 buckets/band) —
    * linear only while n ≪ ~10⁵, quadratic past it. At b=256 the
    * chunks are 32-bit (4.3e9 buckets/band): iid occupancy stays ≪ 1
    * per bucket out to billions of rows and the join's candidate set
    * is the true near-dup pairs plus vanishing collision noise.
    * Returns null for undecodable payloads. */
  def pHashWide(b: Array[Byte]): Array[Long] = {
    val img = readImage(b)
    if (img == null) null else dctHash(img, 16)
  }

  /** splitmix64 finalizer — the deterministic pixel-noise generator
    * behind [[makeNoisePng]]. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4ecda7e9bd5d5L
    z ^ (z >>> 31)
  }

  /** Synthesize a real PNG of deterministic per-pixel gray noise keyed
    * by `seed`, with two small perceptual-invariance perturbations:
    * a global `brightness` shift (DC-only — pHash-invariant by
    * construction; noise spans [40, 215] so shifts ≤ 40 never clamp)
    * and one `tweak`-dependent bright pixel (a small local edit).
    * Same seed + different perturbations = planted near-duplicates;
    * different seeds = iid 63-bit hashes (cross-pair hamming ≈ 31). */
  def makeNoisePng(seed: Long, brightness: Int, tweak: Int,
      w: Int = 48, h: Int = 40): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = 40 + (mix64(seed * 1000003L + y.toLong * w + x) & 0x7fffffffL) % 176
        val v0 = (base + brightness).toInt
        val v = if (x == tweak % w && y == tweak % h) math.min(v0 + 25, 255) else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthesize a real RIFF/WAVE payload: 16-bit mono PCM silence at
    * `sampleRateHz` with `nFrames` frames. */
  def makeWav(sampleRateHz: Int, nFrames: Int): Array[Byte] =
    makeWavPcm(sampleRateHz, new Array[Short](nFrames))

  /** Synthesize a real RIFF/WAVE payload carrying the given 16-bit
    * mono PCM samples (little-endian). */
  def makeWavPcm(sampleRateHz: Int, samples: Array[Short]): Array[Byte] = {
    val fmt = new AudioFormat(sampleRateHz.toFloat, 16, 1, true, false)
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      data(2 * i) = (samples(i) & 0xFF).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode: parse the RIFF container with `AudioSystem`
    * and return the 16-bit PCM samples (endianness taken from the
    * decoded `AudioFormat`, not assumed). The content-analysis twin of
    * [[jdkDecode]]'s header read — windowed energy/peak stats over
    * these samples are the audio analogue of [[pixelStats]]. */
  def decodePcm16(b: Array[Byte]): Array[Short] = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(b))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16, "decodePcm16: 16-bit PCM only")
      val bytes = ais.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(bytes).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Short](bytes.length / 2)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(); i += 1 }
      out
    } finally ais.close()
  }

  /** Aspect-preserving fit-within resize plan — the Spark-side half of
    * a resize stage (target dims + scale as data; the pixel transform
    * itself belongs to the decoder behind [[decodeBatched]]). Pure
    * arithmetic projection; null for degenerate (≤ 0) input dims
    * rather than an ANSI divide error. */
  def resizePlan(w: Column, h: Column, maxW: Int, maxH: Int): Column = {
    val scale = least(lit(maxW.toDouble) / w, lit(maxH.toDouble) / h, lit(1.0))
    when(w > 0 && h > 0,
      struct(
        greatest(floor(w * scale), lit(1.0)).cast(IntegerType).as("out_w"),
        greatest(floor(h * scale), lit(1.0)).cast(IntegerType).as("out_h"),
        round(scale, 6).as("scale")))
      .otherwise(lit(null))
  }

  /** Deterministic hash pseudo-embedding (`dim` components hashed from
    * the payload, L2-normalized): the model-free stand-in for a
    * CLIP/wav2vec-style encoder where no model is shipped. The output
    * shape (unit `array<double>` alongside the row) is exactly what
    * [[Similarity]]'s ANN operators consume, so the feature → index →
    * search path runs end-to-end without a model; swap in a real
    * encoder behind [[decodeBatched]] to productionize. */
  def hashFeatures(bin: Column, dim: Int): Column =
    // Native expression: ONE payload scan + dim cheap long mixes. The
    // previous composed-builtins form re-hashed the payload per
    // component AND inlined the component subtree into the norm —
    // O(payload·dim²) per row; measured 5.2 s → sub-second on the
    // sf0.1 bench for mm_features.
    graft.functions.hashFeatures(bin, dim)

  /** Frame-sampling plumbing: given per-row frame counts, emit
    * (row, frameIdx) pairs for every `stride`-th frame — the explode
    * shape a video pipeline fans out with before per-frame feature
    * extraction. */
  def sampleFrames(df: DataFrame, nFramesCol: String, stride: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(
        // frameless payloads (n = 0) emit NO rows, not a phantom frame 0
        when(col(nFramesCol) > 0,
          sequence(lit(0), col(nFramesCol) - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))))
}
