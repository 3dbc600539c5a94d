package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashSigExprSpec extends SparkSpec {
  import spark.implicits._

  private def sigs(rows: Seq[Option[Seq[String]]], numHashes: Int): Seq[(String, Seq[Seq[Long]])] =
    inCodegenModes {
      rows.toDF("s").select(minhashSig(col("s"), numHashes).as("sig"))
        .as[Option[Seq[Long]]].collect().toSeq.map(_.orNull)
    }

  test("empty and all-null arrays give the sentinel signature; null gives null") {
    val sentinel = Seq.fill(8)(MinHashSigExpr.Prime)
    sigs(Seq(Some(Nil), Some(Seq(null, null)), None), 8).foreach { case (mode, got) =>
      assert(got == Seq(sentinel, sentinel, null), mode)
    }
  }

  test("a pinned signature: FNV-1a 64 of the UTF-8 bytes under seed 42's permutations") {
    val want = Seq(Seq(359488205L, 537857973L, 85493428L, 262470074L))
    sigs(Seq(Some(Seq("a b c", "b c d", null, "é😀"))), 4).foreach { case (mode, got) =>
      assert(got == want, mode)
    }
  }

  test("the signature is the element-wise min over strings, order-free") {
    val one = sigs(Seq(Some(Seq("x")), Some(Seq("y")), Some(Seq("y", "x"))), 16)
    one.foreach { case (mode, Seq(x, y, xy)) =>
      assert(xy == x.zip(y).map { case (a, b) => math.min(a, b) }, mode)
    }
  }
}
