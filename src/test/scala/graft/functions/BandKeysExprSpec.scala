package graft.functions

import graft.SparkSpec
import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BandKeysExprSpec extends SparkSpec {
  import spark.implicits._

  /** The band-key composition `Dedup.bandsOf` ran before its native
    * kernel, kept verbatim as the reference. */
  private def bandsReference(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, sigLen: Int): DataFrame = {
    val r = sigLen / bands
    val keys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          transform(slice(col(sigCol), b * r + 1, r), _.cast("string")))
          .cast("binary")).as("bh"))
    }
    df.select(col(idCol), explode(array(keys: _*)).as("__bk"))
      .select(col(idCol), col("__bk.band").as("band"), col("__bk.bh").as("bh"))
  }

  private def rows(df: DataFrame): Seq[(Long, Int, String)] =
    df.as[(Long, Int, String)].collect().toSeq.sorted

  private val rnd = new scala.util.Random(13)
  private val special = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, Int.MinValue.toLong)
  private def randomSig(len: Int): Seq[Long] = Seq.fill(len)(rnd.nextInt(4) match {
    case 0 => special(rnd.nextInt(special.size))
    case 1 => -rnd.nextInt(Int.MaxValue).toLong
    case _ => rnd.nextInt(Int.MaxValue).toLong
  })

  Seq((128, 32), (64, 16), (4, 4)).foreach { case (sigLen, bands) =>
    test(s"bandsOf keys equal the md5(concat_ws(transform(slice))) bytes at $sigLen/$bands") {
      val sigs = (0L until 40L).map(i => (i, randomSig(sigLen)))
      inCodegenModes {
        val df = sigs.toDF("id", "sig")
        (rows(Dedup.bandsOf(df, "id", "sig", bands, sigLen)),
          rows(bandsReference(df, "id", "sig", bands, sigLen)))
      }.foreach { case (mode, (got, want)) =>
        assert(got.size == 40 * bands, mode)
        assert(got == want, mode)
      }
    }
  }

  test("a null signature has no band rows; null elements are skipped like concat_ws") {
    inCodegenModes {
      val df = Seq((1L, Option(Seq(Some(5L), None, Some(-7L), Some(8L)))), (2L, None))
        .toDF("id", "sig")
      (rows(Dedup.bandsOf(df, "id", "sig", 2, 4)),
        rows(bandsReference(df, "id", "sig", 2, 4)))
    }.foreach { case (mode, (got, want)) =>
      assert(got == want.filter(_._1 == 1L), mode)
      assert(got.map(_._3) == Seq(md5Hex("5"), md5Hex("-7,8")), mode)
      // the composition gave a null signature md5('') in every band,
      // one bucket shared by every null-signature row
      assert(want.filter(_._1 == 2L).map(_._3) == Seq.fill(2)(md5Hex("")), mode)
    }
  }

  test("a signature shorter than bands × rows: short and empty slices hash their rendering") {
    inCodegenModes {
      val df = Seq((1L, Seq(3L, 4L, 5L))).toDF("id", "sig")
      df.select(bandKeys(col("sig"), 3, 2)).as[Seq[String]].head()
    }.foreach { case (mode, got) =>
      assert(got == Seq(md5Hex("3,4"), md5Hex("5"), md5Hex("")), mode)
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}
