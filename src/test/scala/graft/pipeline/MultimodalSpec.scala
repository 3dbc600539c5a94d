package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("sniffFormat: magic bytes for jpeg/png/gif/riff/mp4/unknown") {
    val rows = Seq(
      ("jpeg", Array(0xff, 0xd8, 0xff, 0xe0, 0, 0, 0, 0).map(_.toByte)),
      ("png", Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)),
      ("gif", "GIF89a..".getBytes),
      ("riff", "RIFFxxxxWAVE".getBytes),
      ("mp4", Array[Byte](0, 0, 0, 0x18) ++ "ftypmp42".getBytes),
      ("unknown", "hello world".getBytes))
    val df = rows.toDF("expected", "payload")
    df.select(col("expected"), Multimodal.sniffFormat(col("payload")))
      .as[(String, String)].collect()
      .foreach { case (exp, got) => assert(got == exp, s"expected $exp got $got") }
  }

  test("jdkDecode: real PNG round-trip — ImageIO reads back the true dimensions") {
    val png = Multimodal.makePng(37, 21, 10, 20, 30)
    assert(Multimodal.sniffBytes(png) == "png")
    val m = Multimodal.jdkDecode(png)
    assert(m == Multimodal.MediaMeta("png", 37, 21, 1, 0))
  }

  test("jdkDecode: real WAV round-trip — AudioSystem reads back rate + frames") {
    val wav = Multimodal.makeWav(11000, 77)
    assert(Multimodal.sniffBytes(wav) == "wav")
    val m = Multimodal.jdkDecode(wav)
    assert(m == Multimodal.MediaMeta("wav", 0, 0, 77, 11000))
  }

  test("jdkDecode: corrupt/unknown payloads degrade to zeroed metadata, never throw") {
    val garbage = "definitely not media".getBytes
    assert(Multimodal.jdkDecode(garbage) == Multimodal.MediaMeta("unknown", 0, 0, 0, 0))
    // valid PNG magic, truncated body: sniffs png, decode fails gracefully
    val truncated = Multimodal.makePng(8, 8, 0, 0, 0).take(16)
    val m = Multimodal.jdkDecode(truncated)
    assert(m.format == "png" && m.width == 0 && m.height == 0)
    assert(Multimodal.jdkDecode(null) == Multimodal.MediaMeta("unknown", 0, 0, 0, 0))
  }

  test("pixelStats: solid-fill PNG decodes to exact means") {
    val p = Multimodal.pixelStats(Multimodal.makePng(5, 4, 200, 100, 7))
    assert(p.format == "png" && p.width == 5 && p.height == 4)
    assert(p.meanR == 200.0 && p.meanG == 100.0 && p.meanB == 7.0)
  }

  test("withMediaMeta: real decoded dims + byte length on a DataFrame column") {
    val png = Multimodal.makePng(12, 9, 1, 2, 3)
    val df = Seq((1L, png)).toDF("id", "payload")
    val r = Multimodal.withMediaMeta(df, "payload").select(
      col("n_bytes"), col("media.format"), col("media.width"), col("media.height"))
      .as[(Int, String, Int, Int)].head()
    assert(r._1 == png.length)
    assert(r._2 == "png" && r._3 == 12 && r._4 == 9)
  }

  test("decodeBatched: batches stream through partitions 1:1, batch size respected") {
    val n = 257
    val ds = spark.createDataset((0 until n).map(i => (i.toLong, Array(i.toByte))))
      .repartition(3)
    var maxBatch = 0
    val out = Multimodal.decodeBatched(ds, batchSize = 64) { payloads =>
      // runs on executors in local mode; size check via result plumbing
      payloads.map(p => Multimodal.MediaMeta(s"b${payloads.length}", p(0).toInt & 0xff, 1, 1, 0))
    }.collect()
    assert(out.length == n, "1:1 in/out")
    assert(out.forall { case (k, m) => m.width == (k.toInt & 0xff) },
      "row↔result alignment preserved")
    assert(out.forall(_._2.format.drop(1).toInt <= 64), "no batch exceeds batchSize")
  }

  test("decodeBatched: a decoder's wrong count is rejected") {
    // zip would silently drop the unmatched keys; the 1:1 check fails
    // the task instead
    val ds = spark.createDataset((0 until 10).map(i => (i.toLong, Array(i.toByte))))
    val e = intercept[Exception] {
      Multimodal.decodeBatched(ds, batchSize = 4)(_.drop(1).map(_.length)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("one result per input")),
      s"expected the 1:1 check, got: $e")
  }

  test("decodeBatched: a null result drops its row") {
    val ds = spark.createDataset(Seq(
      (1L, Multimodal.makeNoisePng(1L, 0, 0)), (2L, "not an image".getBytes)))
    val out = Multimodal.decodeBatched(ds)(_.map(Multimodal.pHashWide)).collect()
    assert(out.map(_._1).toSeq == Seq(1L), "the undecodable payload drops")
    assert(out.head._2.toSeq == Multimodal.pHashWide(Multimodal.makeNoisePng(1L, 0, 0)).toSeq)
  }

  test("sampleFrames explodes every stride-th frame index; frameless rows vanish") {
    val df = Seq((1L, 10), (2L, 0)).toDF("id", "n_frames")
    val out = Multimodal.sampleFrames(df, "n_frames", stride = 3)
      .select("id", "frame_idx").as[(Long, Int)].collect().toSeq
    assert(out.map(_._2) == Seq(0, 3, 6, 9))
    assert(!out.exists(_._1 == 2L), "zero-frame payload emits no rows")
  }

  test("resizePlan: aspect-preserving fit-within, never upscales, degenerate dims → null") {
    val df = Seq(
      (1L, 512, 256),   // downscale by 0.5 → 256×128
      (2L, 100, 50),    // already fits → unchanged
      (3L, 0, 10))      // degenerate → null
      .toDF("id", "w", "h")
    val out = df.select(col("id"),
      Multimodal.resizePlan(col("w"), col("h"), 256, 256).as("p"))
      .select(col("id"), col("p.out_w"), col("p.out_h"))
      .as[(Long, Option[Int], Option[Int])].collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(256), Some(128))))
    assert(out(1) == ((2L, Some(100), Some(50))), "no upscale")
    assert(out(2)._2.isEmpty, "zero width → null plan")
  }

  test("hashFeatures: deterministic unit vectors consumable by ANN search") {
    val df = Seq((1L, "hello world"), (2L, "other text"))
      .toDF("id", "text")
      .select(col("id"), Multimodal.hashFeatures(encode(col("text"), "UTF-8"), 8).as("v"))
    val a = df.orderBy("id").as[(Long, Seq[Double])].collect()
    val b = df.orderBy("id").as[(Long, Seq[Double])].collect()
    assert(a.toSeq == b.toSeq, "deterministic")
    a.foreach { case (_, v) =>
      assert(v.length == 8)
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9, "unit norm")
    }
    assert(a(0)._2 != a(1)._2, "distinct payloads → distinct features")
  }

  test("pHash64: brightness shifts are invariant, local edits stay near") {
    val base = Multimodal.pHash64(Multimodal.makeNoisePng(7L, 0, 0))
    val bright = Multimodal.pHash64(Multimodal.makeNoisePng(7L, 24, 0))
    assert(base == bright,
      "a global brightness shift only moves the DC coefficient")
    val edited = Multimodal.pHash64(Multimodal.makeNoisePng(7L, 8, 3))
    val ham = java.lang.Long.bitCount(base ^ edited)
    assert(ham <= 6, s"one-pixel edit + brightness must stay near: hamming $ham")
  }

  test("pHash64: distinct rasters are far apart, non-images are null") {
    val hs = (0L until 40L).map(s =>
      Multimodal.pHash64(Multimodal.makeNoisePng(s, 0, 0)).longValue)
    for (i <- hs.indices; j <- (i + 1) until hs.length) {
      val ham = java.lang.Long.bitCount(hs(i) ^ hs(j))
      assert(ham > 12, s"seeds $i/$j too close: hamming $ham")
    }
    assert(Multimodal.pHash64("not an image".getBytes) == null)
  }

  test("decodePcm16: WAV PCM round-trip returns the exact samples") {
    val samples = Array.tabulate(777)(i => ((i * 37) % 2000 - 1000).toShort)
    val wav = Multimodal.makeWavPcm(8000, samples)
    assert(Multimodal.sniffBytes(wav) == "wav", "real RIFF container")
    val back = Multimodal.decodePcm16(wav)
    assert(back.toSeq == samples.toSeq, "decoded PCM must be bit-exact")
  }

  test("pHash near-dup join recovers exactly the planted groups") {
    import spark.implicits._
    // 8 groups × 4 jittered variants; expect exactly the within-group
    // pairs from the pigeonhole hamming join — no misses, no strays
    val hashed = (0L until 32L).map { id =>
      (id, Multimodal.pHash64(Multimodal.makeNoisePng(
        id / 4, (id % 4).toInt * 8, (id % 4).toInt)).longValue)
    }.toDF("doc_id", "phash")
    val got = Dedup.hammingNearDupPairs(hashed, "doc_id", "phash", 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      a <- 0L until 32L; b <- (a + 1) until 32L; if a / 4 == b / 4
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} stray=${got -- want}")
  }

  test("pHashWide: planted variants stay in-ball, distinct rasters far, " +
      "non-images null") {
    def ham(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val hs = (0L until 60L).map { id =>
      Multimodal.pHashWide(Multimodal.makeNoisePng(
        id / 5, (id % 5).toInt * 8, (id % 5).toInt))
    }
    for (i <- hs.indices; j <- (i + 1) until hs.length) {
      val d = ham(hs(i), hs(j))
      if (i / 5 == j / 5)
        assert(d <= 15, s"within-group pair $i/$j out of ball: hamming $d")
      else
        assert(d > 40, s"cross-group pair $i/$j too close: hamming $d")
    }
    assert(Multimodal.pHashWide("not an image".getBytes) == null)
    // brightness-only variants are DC-only: the 255 AC bits are exact
    assert(ham(
      Multimodal.pHashWide(Multimodal.makeNoisePng(3L, 0, 0)),
      Multimodal.pHashWide(Multimodal.makeNoisePng(3L, 24, 0))) == 0)
  }

  test("wide hamming join recovers exactly the planted groups " +
      "(both chunk widths)") {
    import spark.implicits._
    val hashed = (0L until 40L).map { id =>
      (id, Multimodal.pHashWide(Multimodal.makeNoisePng(
        id / 5, (id % 5).toInt * 8, (id % 5).toInt)))
    }.toDF("doc_id", "phash")
    val want = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L; if a / 5 == b / 5
    } yield (a, b)).toSet
    // 16-bit chunks, maxHamming 15 — the oracled query configuration
    val got16 = Dedup.hammingNearDupPairsWide(hashed, "doc_id", "phash",
        maxHamming = 15, words = 4, chunkBits = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got16 == want, s"missing=${want -- got16} stray=${got16 -- want}")
    // 32-bit chunks (the 2^32-bucket scale configuration), ball 7:
    // pigeonhole recall is exact for every pair within the ball
    val inBall = Dedup.hammingNearDupPairsWide(hashed, "doc_id", "phash",
        maxHamming = 15, words = 4, chunkBits = 16)
      .filter(col("hamming") <= 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got32 = Dedup.hammingNearDupPairsWide(hashed, "doc_id", "phash",
        maxHamming = 7, words = 4, chunkBits = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got32 == inBall,
      s"missing=${inBall -- got32} stray=${got32 -- inBall}")
  }

  test("wide hamming join input contract: null hashes filter, " +
      "mis-sized hashes fail LOUDLY") {
    import spark.implicits._
    val h = Multimodal.pHashWide(Multimodal.makeNoisePng(1L, 0, 0))
    // null hash rows (failed decodes) are documented drops, not errors
    // — and must not suppress the real pairs around them
    val withNull = Seq(
      (0L, h), (1L, h), (2L, null.asInstanceOf[Array[Long]]))
      .toDF("doc_id", "phash")
    val pairs = Dedup.hammingNearDupPairsWide(withNull, "doc_id", "phash",
      maxHamming = 7, words = 4, chunkBits = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
    // a words/width mismatch used to become SILENT recall loss (null
    // chunk keys drop out of the equi-join); it now raises at execution
    val misSized = Seq((0L, h), (1L, h.take(3))).toDF("doc_id", "phash")
    val e = intercept[Exception] {
      Dedup.hammingNearDupPairsWide(misSized, "doc_id", "phash",
        maxHamming = 7, words = 4, chunkBits = 32).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exactly 4 words")),
      s"expected the loud width error, got: $e")
  }

  // ------------------------------------------- committed golden fixtures

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    assert(in != null, s"missing committed fixture $name")
    try in.readAllBytes() finally in.close()
  }

  test("golden PNG fixture: exact decode, pixel means, pHash, features") {
    // The fixture is a COMMITTED binary (src/test/resources/golden.png,
    // a 24×16 patterned RGB raster), and every value below is a
    // hard-coded golden — unlike the synthesized-fixture tests above
    // (where a JDK encode+decode drift would cancel out), this catches
    // ImageIO decode drift across JDK versions and any regression in
    // the DCT/feature code, exactly as the mm_features rows-only
    // justification promises.
    val png = resource("/golden.png")
    assert(Multimodal.jdkDecode(png) == Multimodal.MediaMeta("png", 24, 16, 1, 0))
    val ps = Multimodal.pixelStats(png)
    assert(ps.meanR == 103.0 && math.abs(ps.meanG - 107.0 - 1.0 / 6) < 1e-9 &&
      ps.meanB == 87.5, s"pixel means drifted: $ps")
    assert(Multimodal.pHash64(png) == 2647875509291000868L, "pHash drifted")
    assert(Multimodal.pHashWide(png).toSeq == Seq(8477088067761763748L,
      8477088047713004203L, 8477088047713004202L, 8477088047713004202L),
      "wide pHash drifted")
    val v = Seq(Tuple1(png)).toDF("payload")
      .select(Multimodal.hashFeatures(col("payload"), 8))
      .as[Seq[Double]].head
    val golden = Seq(-0.476754068, -0.500873202, 0.312747555, -0.117641851,
      -0.136640758, 0.452157103, 0.426610462, 0.071187969)
    v.zip(golden).zipWithIndex.foreach { case ((got, want), i) =>
      assert(math.abs(got - want) < 1e-9, s"feature[$i] drifted: $got vs $want")
    }
  }

  test("golden WAV fixture: exact decode metadata and PCM16 samples") {
    val wav = resource("/golden.wav")
    assert(Multimodal.jdkDecode(wav) == Multimodal.MediaMeta("wav", 0, 0, 64, 8000))
    val pcm = Multimodal.decodePcm16(wav)
    val want = Array.tabulate(64)(i => ((i * 2567 + 123) % 65536 - 32768).toShort)
    assert(pcm.toSeq == want.toSeq, "decoded PCM drifted from golden")
  }
}
