package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CharNgramsExprSpec extends SparkSpec {
  import spark.implicits._

  private def grams(texts: Seq[Option[String]], n: Int): Seq[(String, Seq[Seq[String]])] =
    inCodegenModes {
      texts.toDF("t").select(charNgrams(col("t"), n).as("g"))
        .as[Option[Seq[String]]].collect().toSeq.map(_.orNull)
    }

  test("blank text and text shorter than n give no grams; null gives null") {
    grams(Seq(Some(""), Some("ab"), Some("  "), None), 3).foreach { case (mode, got) =>
      assert(got == Seq(Nil, Nil, Nil, null), mode)
    }
    grams(Seq(Some("  ")), 2).foreach { case (mode, got) =>
      assert(got == Seq(Seq("  ")), s"$mode: spaces are characters")
    }
  }

  test("multi-byte text slides by code point, not by byte") {
    grams(Seq(Some("héllo😀")), 2).foreach { case (mode, got) =>
      assert(got == Seq(Seq("hé", "él", "ll", "lo", "o😀")), mode)
    }
    grams(Seq(Some("é😀")), 2).foreach { case (mode, got) =>
      assert(got == Seq(Seq("é😀")), s"$mode: exactly n code points → one gram")
    }
  }

  test("every gram equals the SQL substr at its position") {
    val text = "the ¿quick… brown fox"
    val want = (1 to text.codePointCount(0, text.length) - 2).map { i =>
      val s = text.offsetByCodePoints(0, i - 1)
      text.substring(s, text.offsetByCodePoints(s, 3))
    }
    grams(Seq(Some(text)), 3).foreach { case (mode, got) =>
      assert(got == Seq(want), mode)
    }
  }
}
