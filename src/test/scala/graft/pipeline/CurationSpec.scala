package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ decontamination

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "completely unrelated text about nothing shared at all here"),
    (3L, "the quick brown fox jumps over a different fence entirely"),
    (4L, "short doc")).toDF("doc_id", "text")

  private def bench = Seq(
    (100L, "quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")

  test("contaminatedPairs: finds n-gram overlap with the benchmark") {
    val out = Curation.contaminatedPairs(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id", "bench_id", "n_matched")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // doc 1 contains "quick brown fox jumps over" + 3 more bench 5-grams;
    // doc 3 shares exactly the one 5-gram; docs 2/4 share none
    assert(out.map(_._1).toSeq == Seq(1L, 3L))
    assert(out.forall(_._2 == 100L))
    val byDoc = out.map(r => r._1 -> r._3).toMap
    assert(byDoc(1L) == 4L)
    assert(byDoc(3L) == 1L)
  }

  test("contaminatedPairs: minMatches filters weak overlaps") {
    val out = Curation.contaminatedPairs(
      corpus, bench, "doc_id", "text", n = 5, minMatches = 2)
      .select("doc_id").as[Long].collect()
    assert(out.toSeq == Seq(1L))
  }

  test("decontaminate removes exactly the contaminated docs") {
    val kept = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 4L))
  }

  // ----------------------------------------------------- split assignment

  private def keyed = (0L until 400L).toDF("id")

  test("withSplit: total assignment, rough proportions, determinism") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Curation.withSplit(keyed, "id", splits)
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 400L)
    assert(counts("train") > 280 && counts("train") < 360)
    assert(counts.keySet == Set("train", "val", "test"))
    // rerun must produce the identical assignment (no RNG state)
    val a = out.select("id", "split").as[(Long, String)].collect().toMap
    val b = Curation.withSplit(keyed, "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("withSplit: assignment survives repartitioning (layout-free)") {
    val splits = Seq("a" -> 0.5, "b" -> 0.5)
    val one = Curation.withSplit(keyed.repartition(1), "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    val many = Curation.withSplit(keyed.repartition(7), "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(one == many)
  }

  test("withSplit rejects fractions that don't sum to 1") {
    intercept[IllegalArgumentException] {
      Curation.withSplit(keyed, "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("deterministicSample: stable subset, nested by fraction") {
    val s10 = Curation.deterministicSample(keyed, "id", 0.1)
      .select("id").as[Long].collect().toSet
    val s30 = Curation.deterministicSample(keyed, "id", 0.3)
      .select("id").as[Long].collect().toSet
    assert(s10.nonEmpty && s10.size < 80)
    assert(s10.subsetOf(s30)) // smaller fraction is a prefix of larger
    assert(Curation.deterministicSample(keyed, "id", 0.0).count() == 0)
    assert(Curation.deterministicSample(keyed, "id", 1.0).count() == 400)
  }

  // ------------------------------------------------------- token packing

  test("packByBudget: exclusive prefix sum bins, per shard") {
    val df = Seq(
      // shard x: tokens 60, 60, 60 -> bins 0, 0, 1 (prefix 0, 60, 120)
      ("x", 1L, 60L), ("x", 2L, 60L), ("x", 3L, 60L),
      // shard y: an over-budget doc gets its own bin and pushes the next
      ("y", 1L, 250L), ("y", 2L, 10L)
    ).toDF("shard", "doc_id", "tokens")
    val out = Curation.packByBudget(df, "tokens", "shard", "doc_id", 128L)
      .select("shard", "doc_id", "bin")
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(
      ("x", 1L, 0L), ("x", 2L, 0L), ("x", 3L, 0L),
      ("y", 1L, 0L), ("y", 2L, 1L)))
  }

  test("packByBudget: bins are contiguous and budget-bounded") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 200)
      .map(i => (s"s${i % 3}", i.toLong, 1L + rnd.nextInt(100).toLong))
      .toDF("shard", "doc_id", "tokens")
    val out = Curation.packByBudget(df, "tokens", "shard", "doc_id", 256L)
      .select("shard", "doc_id", "tokens", "bin")
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (_, rows) => rows.sortBy(_._2) }
    out.foreach { rows =>
      // bin ids never decrease along the order column, start at 0, and
      // each bin's token sum stays <= budget + one doc's overshoot
      assert(rows.head._4 == 0L)
      assert(rows.sliding(2).forall(p => p(0)._4 <= p(1)._4))
      rows.groupBy(_._4).values.foreach { bin =>
        val sum = bin.map(_._3).sum
        assert(sum <= 256L + bin.map(_._3).max)
      }
    }
  }

  test("packByBudget: ties on the order column still fill bins from 0") {
    // RANGE-frame regression: three tied rows would all see cumulative
    // sum 300 and land in bin 1, leaving bin 0 empty
    val tied = Seq(("x", 1L, 100L), ("x", 1L, 100L), ("x", 1L, 100L))
      .toDF("shard", "ord", "tokens")
    // exclusive per-ROW prefixes 0/100/200 → bins 0,0,1; the RANGE
    // frame gave every tied row prefix 200 → bins 1,1,1 (bin 0 empty)
    val bins = Curation.packByBudget(tied, "tokens", "shard", "ord", 128L)
      .select("bin").as[Long].collect().sorted.toSeq
    assert(bins == Seq(0L, 0L, 1L), s"exclusive prefix sums per ROW: $bins")
  }

  // -------------------------------------------------- stratified sampling

  test("stratifiedSample: per-stratum rates, deterministic, default drops") {
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = Curation.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.25))
    val byLang = out.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(byLang("en") == 200L, "rate 1.0 keeps every row")
    assert(byLang("de") > 20L && byLang("de") < 80L,
      s"rate 0.25 of 200 should keep ~50, got ${byLang.get("de")}")
    // unlisted strata fall back to default=0
    val dropped = Curation.stratifiedSample(
      df.withColumn("lang", lit("zz")), "doc_id", "lang", Map("en" -> 1.0))
    assert(dropped.count() == 0L)
    // determinism: same kept set on re-evaluation after repartition
    val a = out.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Curation.stratifiedSample(df.repartition(7), "doc_id", "lang",
      Map("en" -> 1.0, "de" -> 0.25)).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  // ------------------------------------------- temperature-balanced mixing

  test("temperatureWeights: alpha=1 is the natural mix, keep_rate 1") {
    val df = (0L until 100L).map(i => (i, if (i % 10 == 0) "rare" else "big"))
      .toDF("doc_id", "lang")
    val w = Curation.temperatureWeights(df, "lang", alpha = 1.0)
      .select("lang", "p", "q", "keep_rate")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(math.abs(w("big")._1 - 0.9) < 1e-12)
    assert(math.abs(w("big")._2 - 0.9) < 1e-12, "alpha=1: q == p")
    assert(math.abs(w("big")._3 - 1.0) < 1e-12)
    assert(math.abs(w("rare")._3 - 1.0) < 1e-12)
  }

  test("temperatureWeights: alpha<1 flattens toward the rare stratum") {
    val df = (0L until 100L).map(i => (i, if (i < 90) "big" else "rare"))
      .toDF("doc_id", "lang")
    val w = Curation.temperatureWeights(df, "lang", alpha = 0.5)
      .select("lang", "q", "keep_rate")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // q = p^.5 / Z: big .9^.5=.9487, rare .1^.5=.3162 → q_big ≈ .75
    assert(math.abs(w("big")._1 - 0.75) < 1e-3)
    assert(math.abs(w("rare")._1 - 0.25) < 1e-3)
    // rare gets the biggest boost → keeps everything; big downsampled
    // to (q/p)_big / (q/p)_rare = (.8333)/(2.5) = 1/3
    assert(math.abs(w("rare")._2 - 1.0) < 1e-12)
    assert(math.abs(w("big")._2 - 1.0 / 3.0) < 1e-3)
    intercept[IllegalArgumentException] {
      Curation.temperatureWeights(df, "lang", alpha = 0.0)
    }
  }

  test("rateSample realizes the weights' mixture deterministically") {
    val df = (0L until 1000L).map(i => (i, if (i < 900) "big" else "rare"))
      .toDF("doc_id", "lang")
    val rates = Curation.temperatureWeights(df, "lang", alpha = 0.5)
      .select(col("lang"), col("keep_rate"))
    val out = Curation.rateSample(df, "doc_id", "lang", rates, "keep_rate")
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("rare") == 100L, "max-boost stratum keeps every row")
    assert(byLang("big") > 200L && byLang("big") < 400L,
      s"rate 1/3 of 900 should keep ~300, got ${byLang.get("big")}")
    // deterministic under relayout
    val a = out.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Curation.rateSample(
      df.repartition(7), "doc_id", "lang", rates, "keep_rate")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
    // strata missing from the rates table are dropped, not kept
    val partial = Curation.rateSample(df, "doc_id", "lang",
      rates.filter(col("lang") === "rare"), "keep_rate")
    assert(partial.select("lang").distinct().as[String].collect().toSeq
      == Seq("rare"))
  }

  test("temperatureMixReport: achieved share tracks the target mixture") {
    val df = (0L until 1000L).map(i => (i, if (i < 900) "big" else "rare"))
      .toDF("doc_id", "lang")
    val out = Curation.temperatureMixReport(df, "doc_id", "lang", alpha = 0.5)
      .select("lang", "n_kept", "achieved_q", "target_q")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("rare")._1 == 100L, "max-boost stratum keeps everything")
    assert(math.abs(out("big")._3 - 0.75) < 1e-3)
    assert(math.abs(out("rare")._3 - 0.25) < 1e-3)
    // achieved share is the sampled realization of the target
    assert(math.abs(out("big")._2 - out("big")._3) < 0.1,
      s"achieved ${out("big")._2} should track target ${out("big")._3}")
    assert(math.abs(out("big")._2 + out("rare")._2 - 1.0) < 1e-12)
  }

  // ------------------------------------------------------- PII scrubbing

  test("scrubPii and piiCounts: urls swallow their emails/ips") {
    val df = Seq(
      (1L, "mail bob@x.org or visit https://x.org/a?u=eve@x.org now"),
      (2L, "server at 10.0.0.1 and 192.168.1.255 up"),
      (3L, "clean text, no identifiers"),
      (4L, "http://10.0.0.7/path plus carol@y.io")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), Curation.scrubPii(col("text")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "mail <EMAIL> or visit <URL> now")
    assert(out(2L) == "server at <IP> and <IP> up")
    assert(out(3L) == "clean text, no identifiers")
    assert(out(4L) == "<URL> plus <EMAIL>")
    val (u, e, i) = Curation.piiCounts(col("text"))
    val counts = df.select(col("doc_id"), u.as("u"), e.as("e"), i.as("i"))
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(counts(1L) == ((1, 1, 0)), "url-embedded email counts as the url")
    assert(counts(2L) == ((0, 0, 2)))
    assert(counts(4L) == ((1, 1, 0)), "ip inside url redacted with it")
  }

  test("capPerSource: at most cap per source, deterministic and layout-free") {
    val docs = (0 until 90).map(i => (i.toLong, s"s${i % 3}"))
      .toDF("doc_id", "source")
    val out = Curation.capPerSource(docs, "source", "doc_id", cap = 10)
    val bySource = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySource == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L))
    // determinism across partition layouts: same kept set
    val again = Curation.capPerSource(docs.repartition(7), "source", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
    // a source under the cap keeps everything
    val small = Curation.capPerSource(
      docs.filter(col("doc_id") < 5), "source", "doc_id", 10)
    assert(small.count() == 5)
  }

  test("weightedSample: heavy weights dominate, layout-stable, top-k plan") {
    // priorities u^(1/w): weight-10000 rows sit near 1, weight-1 rows
    // are uniform — the top 20 of 50+50 must be (almost) all heavy
    val docs = ((0L until 50L).map((_, 1L)) ++
      (100L until 150L).map((_, 10000L))).toDF("doc_id", "w")
    val kept = Curation.weightedSample(docs, "doc_id", "w", 20)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size == 20)
    assert(kept.count(_ >= 100L) >= 18, s"heavy rows must dominate: $kept")
    val again = Curation.weightedSample(docs.repartition(7), "doc_id", "w", 20)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept, "kept set must be layout-invariant")
    assert(Curation.weightedSample(docs, "doc_id", "w", 20)
      .queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "top-k must not materialize a global sort")
    // non-positive weights excluded, never poisoning pow()
    val withZero = docs.withColumn("w",
      when(col("doc_id") === 0L, 0L).otherwise(col("w")))
    assert(!Curation.weightedSample(withZero, "doc_id", "w", 100)
      .select("doc_id").as[Long].collect().contains(0L))
  }

  test("tableDiff classifies added/removed/changed/same, null-stable") {
    val a = Seq(
      (1L, Some("x"), "p"), (2L, Some("y"), "p"),
      (3L, None: Option[String], "p"), (4L, Some("z"), "p")
    ).toDF("k", "v", "w")
    val b = Seq(
      (1L, Some("x"), "p"),              // same
      (2L, Some("Y"), "p"),              // changed
      (3L, None: Option[String], "p"),   // same (null payload stable)
      (5L, Some("n"), "p")               // added; 4 removed
    ).toDF("k", "v", "w")
    val got = Curation.tableDiff(a, b, Seq("k"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "same"), (2L, "changed"), (3L, "same"),
      (4L, "removed"), (5L, "added")), s"got $got")
  }

  test("tableDiff: null-position swaps classify 'changed', not 'same'") {
    // concat_ws SKIPS nulls — without per-column null encoding,
    // (x, null) and (null, x) hash identically
    val a = Seq((1L, Some("x"), None: Option[String])).toDF("k", "v", "w")
    val b = Seq((1L, None: Option[String], Some("x"))).toDF("k", "v", "w")
    val got = Curation.tableDiff(a, b, Seq("k"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "changed")), s"got $got")
    // and a VALUE equal to the null sentinel char still differs from an
    // actual null in the other column (the 'v' prefix disambiguates)
    val c = Seq((1L, Some(""), None: Option[String])).toDF("k", "v", "w")
    val d = Seq((1L, None: Option[String], Some(""))).toDF("k", "v", "w")
    assert(Curation.tableDiff(c, d, Seq("k"))
      .as[(Long, String)].collect().toSeq == Seq((1L, "changed")))
  }

  test("contaminationReport: clean bench docs report zeros, dirty ones roll up") {
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "never seen in any corpus document text")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "xx alpha beta gamma delta epsilon zeta yy"), // hits 1
      (11L, "alpha beta gamma delta epsilon zeta"),       // hits 1
      (12L, "one two three four five six")                // hits 2
    ).toDF("doc_id", "text")
    val got = Curation
      .contaminationReport(corpus, bench, "doc_id", "text", n = 5)
      .orderBy("bench_id").as[(Long, Long, Long)].collect().toSeq
    // doc 1: two corpus docs; (10) shares grams of the 6-token window
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got(0)._2 == 2L && got(1)._2 == 1L, s"got $got")
    assert(got(2) == ((3L, 0L, 0L)), s"clean doc must report zeros: $got")
    // the report's nonzero rows agree with contaminatedPairs
    val pairs = Curation
      .contaminatedPairs(corpus, bench, "doc_id", "text", n = 5)
      .groupBy("bench_id").count().as[(Long, Long)].collect().toMap
    got.filter(_._2 > 0).foreach { case (b, n, _) =>
      assert(pairs(b) == n)
    }
  }

  test("shuffleOrder: a deterministic permutation, seed-sensitive, layout-free") {
    val docs = (0L until 500L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def posMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val p1 = posMap(Curation.shuffleOrder(docs, "doc_id", "ep0"))
    // a bijection onto 0..n-1
    assert(p1.values.toSeq.sorted == (0L until 500L))
    // stable across runs and partition layouts
    val p2 = posMap(Curation.shuffleOrder(docs.repartition(13), "doc_id", "ep0"))
    assert(p1 == p2, "order must not depend on layout")
    // a different seed gives a (near-certainly) different epoch order
    val p3 = posMap(Curation.shuffleOrder(docs, "doc_id", "ep1"))
    assert(p1 != p3, "seeds must decorrelate epochs")
    // and it is not the identity order
    assert(p1.exists { case (id, pos) => id != pos })
  }

  test("groupSample: exactly k per group, layout-stable, whole small groups") {
    val docs = (1L to 100L).map(i => (i, if (i <= 90) "big" else "small"))
      .toDF("id", "grp")
    val got = Curation.groupSample(docs, "grp", "id", k = 10)
      .as[(Long, String)].collect()
    assert(got.count(_._2 == "big") == 10, s"got ${got.toSeq}")
    // a group smaller than k survives whole
    assert(got.filter(_._2 == "small").map(_._1).sorted.toSeq ==
      (91L to 100L), s"got ${got.toSeq}")
    // layout-independent: same rows from a different partitioning
    val again = Curation.groupSample(docs.repartition(7), "grp", "id", 10)
      .as[(Long, String)].collect()
    assert(got.toSet == again.toSet, "sample must not depend on layout")
  }

  test("packSpans: contiguous half-open spans from zero within each bin") {
    val d = Seq(
      ("en", 1L, 300L), ("en", 2L, 300L), ("en", 3L, 100L),
      ("de", 4L, 600L), ("de", 5L, 10L)).toDF("lang", "id", "tok")
    val got = Curation.packSpans(d, "tok", "lang", "id", budget = 512L)
      .select("id", "bin", "tok_start", "tok_end")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // en: prefix-exclusive sums 0,300,600 -> bins 0,0,1; de: 0,600 -> 0,1
    assert(got == Seq(
      (1L, 0L, 0L, 300L), (2L, 0L, 300L, 600L), (3L, 1L, 0L, 100L),
      (4L, 0L, 0L, 600L), (5L, 1L, 0L, 10L)), s"got $got")
    // invariant: span width == token count, spans start at 0 per bin
    assert(got.forall(r => r._4 - r._3 >= 0))
  }

  test("dsirWeights: target-like docs outweigh off-target docs") {
    // target speaks "alpha beta"; raw pool mixes that with "zork" noise
    val raw = Seq(
      (1L, "alpha beta alpha beta alpha"),
      (2L, "zork zork zork zork zork"),
      (3L, "alpha beta zork"),
      (4L, "   ")).toDF("doc_id", "text")
    val tgt = Seq((10L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val out = Curation.dsirWeights(raw, tgt, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), "every raw row kept")
    val w = out.map(r => r._1 -> r._3).toMap
    assert(out.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 5L, 2L -> 5L, 3L -> 3L, 4L -> 0L))
    assert(w(1L) > w(3L) && w(3L) > w(2L),
      s"target-vocab docs must rank above noise: $w")
    assert(w(4L) == 0.0, "tokenless doc scores exactly 0")
    // layout-independent
    val again = Curation.dsirWeights(raw.repartition(5), tgt, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == again.toSeq, "weights must not depend on layout")
  }
}
