package graft.functions

import graft.SparkSpec
import graft.pipeline.TextAnalysis
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class TextStatsExprSpec extends SparkSpec {
  import spark.implicits._
  import TextStatsExprSpec.Reference

  private val stops = Seq("the", "a", "é")

  test("one pass: tokens, token code points, stop hits, characters, ASCII punctuation") {
    val texts = Seq(
      Some("the cat, sat"), Some("  \tthe  a\r\n"), Some(""), Some("   "),
      Some("¿é…😀 a!"), Some("\u00a0the"), None)
    inCodegenModes {
      texts.toDF("t").select(textStats(col("t"), stops).as("s")).select("s.*")
        .collect().toSeq.map(r => if (r.isNullAt(0)) null else r)
    }.foreach { case (mode, got) =>
      assert(got == Seq(
        Row(3, 10L, 1, 12, 1),
        Row(4, 4L, 2, 11, 0), // "" · the · a · "" after trimming ' ' only
        Row(0, 0L, 0, 0, 0),
        Row(0, 0L, 0, 3, 0),
        Row(2, 6L, 0, 7, 1), // ¿ … are not \p{Punct}; 😀 is one code point
        Row(1, 4L, 0, 4, 0), // NBSP is not \s
        null), mode)
    }
  }

  // ' ' \t \n \x0B \f \r (\s), NBSP (not \s), ASCII punctuation, … ¿
  // (not \p{Punct}), é, a supplementary code point, stop words
  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t\n "),
    1 -> Gen.const(" "),
    3 -> Gen.oneOf("!", "\"", "#", "'", ",", ".", "-", "/", ":", "@", "[", "\\", "_", "`", "{", "~"),
    2 -> Gen.oneOf("…", "¿", "é", "😀"),
    4 -> Gen.oneOf("the", "a", "é", "The"),
    6 -> Gen.oneOf("cat", "xylophone", "b", "naïve", "ab😀c", "q"))
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("", " ", "   ", "\t", " \t ", "\n\n").map(Some(_)),
    12 -> Gen.choose(0, 40).flatMap(Gen.listOfN(_, piece)).map(p => Some(p.mkString)))

  private def features(t: Column): Seq[Column] = Seq(
    TextAnalysis.nTokens(t), TextAnalysis.avgTokenLen(t),
    TextAnalysis.stopwordRatio(t, stops), TextAnalysis.punctRatio(t),
    TextAnalysis.qualityScore(t, stops), TextAnalysis.qualityZ(t, stops))
  private def reference(t: Column): Seq[Column] = Seq(
    Reference.nTokens(t), Reference.avgTokenLen(t),
    Reference.stopwordRatio(t, stops), Reference.punctRatio(t),
    Reference.qualityScore(t, stops), Reference.qualityZ(t, stops))
  private val names = Seq("nTokens", "avgTokenLen", "stopwordRatio", "punctRatio",
    "qualityScore", "qualityZ")

  /** Rows where a feature differs from the reference in any bit
    * (`Double.equals`: -0.0 ≠ 0.0, NaN = NaN), with the text. */
  private def mismatches(batch: Seq[Option[String]]): Seq[String] = {
    val n = names.size
    val rows = batch.toDF("t")
      .select(col("t") +: (features(col("t")) ++ reference(col("t"))): _*).collect()
    for {
      r <- rows.toSeq
      i <- 0 until n
      if !java.util.Objects.equals(r.get(1 + i), r.get(1 + n + i))
    } yield s"${names(i)}(${Option(r.getString(0)).map(_.map(c =>
      if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString).mkString)}): " +
      s"${r.get(1 + i)} vs reference ${r.get(1 + n + i)}"
  }

  Seq("true", "false").foreach { ansi =>
    test(s"text features equal the former compositions bit for bit (ANSI $ansi, " +
        "codegen and interpreted)") {
      val prop = Prop.forAllNoShrink(Gen.listOfN(60, text)) { batch =>
        val bad = withConf("spark.sql.ansi.enabled" -> ansi) {
          inCodegenModes(mismatches(batch))
        }.flatMap { case (mode, m) => m.map(s"$mode: " + _) }
        Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    }
  }

  test("null text: nTokens keeps size(null) (null under ANSI, -1 without); " +
      "qualityScore matches the reference in each mode") {
    Seq("true" -> (null, 0.775), "false" -> (-1, 0.5)).foreach { case (ansi, (nt, q)) =>
      withConf("spark.sql.ansi.enabled" -> ansi) {
        inCodegenModes {
          Seq(Option.empty[String]).toDF("t").select(
            TextAnalysis.nTokens(col("t")), TextAnalysis.qualityScore(col("t"), stops),
            Reference.qualityScore(col("t"), stops)).head()
        }.foreach { case (mode, r) =>
          assert(r.get(0) == nt && r.getDouble(1) == q && r.getDouble(2) == q,
            s"ANSI $ansi, $mode: $r")
        }
      }
    }
  }

  test("a quality projection compiles into one whole-stage codegen stage") {
    val plan = spark.range(3)
      .select(TextAnalysis.qualityScore(col("id").cast("string"), stops).as("q"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("text_stats"), plan)
  }
}

object TextStatsExprSpec {

  /** The text-feature compositions `TextAnalysis` ran before its
    * native kernel, kept verbatim as the reference. */
  object Reference {
    def tokens(text: Column): Column =
      when(length(trim(text)) === 0, array().cast("array<string>"))
        .otherwise(split(trim(text), "\\s+"))

    def nTokens(text: Column): Column = size(tokens(text))

    def avgTokenLen(text: Column): Column = {
      val t = tokens(text)
      val total = aggregate(transform(t, length(_).cast("long")), lit(0L), _ + _)
      when(size(t) > 0, total.cast("double") / size(t))
    }

    def stopwordRatio(text: Column, stops: Seq[String]): Column = {
      val t = tokens(text)
      when(size(t) > 0,
        size(filter(t, _.isInCollection(stops))).cast("double") / size(t))
    }

    def punctRatio(text: Column): Column = {
      val n = length(text)
      when(n > 0,
        (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / n)
        .otherwise(lit(0.0))
    }

    def qualityScore(text: Column, stops: Seq[String]): Column = {
      val nt = nTokens(text).cast("double")
      val lenOk = when(nt >= 10 && nt <= 100000, 1.0)
        .when(nt < 10, nt / 10.0)
        .otherwise(lit(100000.0) / nt)
      val awl = coalesce(avgTokenLen(text), lit(0.0))
      val awlOk = when(awl >= 2 && awl <= 12, 1.0).otherwise(0.25)
      val stopOk = when(coalesce(stopwordRatio(text, stops), lit(0.0)) > 0.01, 1.0)
        .otherwise(0.5)
      val punctOk = lit(1.0) - least(punctRatio(text) * 4, lit(1.0))
      least(lenOk, lit(1.0)) * 0.25 + awlOk * 0.2 + stopOk * 0.15 + punctOk * 0.4
    }

    def qualityZ(text: Column, stops: Seq[String],
        w: Seq[Double] = Seq(-1.0, 0.35, 2.0, -4.0, 0.5)): Column =
      lit(w(0)) +
        lit(w(1)) * log(lit(1.0) + nTokens(text)) +
        lit(w(2)) * coalesce(stopwordRatio(text, stops), lit(0.0)) +
        lit(w(3)) * punctRatio(text) +
        lit(w(4)) * coalesce(avgTokenLen(text), lit(0.0)) / 10.0
  }
}
