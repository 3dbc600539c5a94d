package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu")

  /** 30 distinct random docs + 10 near-dup copies (one token changed). */
  private def corpus = {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val nearDups = (0 until 10).map { i =>
      val (id, text) = docs(i)
      val toks = text.split(" ").toSeq.updated(5, "CHANGED")
      (id + 100L, toks.mkString(" "))
    }
    (docs ++ nearDups).toDF("doc_id", "text")
  }

  test("exactCanonical: duplicate texts collapse to min id with counts") {
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = Dedup.exactCanonical(df, Seq("text"), "doc_id")
      .select("doc_id", "n_dups").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("exactKeepFirst keeps whole first row per key deterministically") {
    val df = Seq((2L, "x", "keep2"), (1L, "x", "keep1"), (3L, "y", "keep3"))
      .toDF("doc_id", "text", "tag")
    val out = Dedup.exactKeepFirst(df, Seq("text"), "doc_id")
      .select("tag").as[String].collect().sorted
    assert(out.toSeq == Seq("keep1", "keep3"))
  }

  test("minhash signature similarity approximates true Jaccard") {
    val sh = corpus.select(col("doc_id"),
      Dedup.wordShingles(col("text"), 3).as("sh"))
    val sig = sh.select(col("doc_id"), col("sh"),
      Dedup.minHashSignature(col("sh"), 128).as("sig"))
    val a = sig.filter(col("doc_id") === 0).select(col("sh").as("sa"), col("sig").as("ga"))
    val b = sig.filter(col("doc_id") === 100).select(col("sh").as("sb"), col("sig").as("gb"))
    val (est, exact) = a.crossJoin(b)
      .select(Dedup.sigSimilarity(col("ga"), col("gb")),
        Dedup.jaccard(col("sa"), col("sb")))
      .as[(Double, Double)].head()
    assert(exact > 0.5, s"near-dup pair should have high true jaccard, got $exact")
    assert(math.abs(est - exact) < 0.2, s"estimate $est vs exact $exact")
  }

  test("minHashNearDupPairs finds every planted near-dup pair (recall vs brute force)") {
    val pairs = Dedup.minHashNearDupPairs(corpus, "doc_id", "text",
        shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force truth at the same threshold
    val sh = corpus.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    val truth = sh.toDF("id_a", "sa").crossJoin(sh.toDF("id_b", "sb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("sa"), col("sb")))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test corpus must contain near-dups")
    assert(truth.subsetOf(pairs),
      s"LSH with 32 bands over 128 hashes must reach ~full recall at j>=0.5; missed ${truth -- pairs}")
    assert(pairs.subsetOf(truth), "exact-jaccard verification must kill false positives")
  }

  test("minHashCandidatePairs is the pre-verify superset of the " +
      "verified pairs (the scale-audit instrumentation surface)") {
    val cand = Dedup.minHashCandidatePairs(corpus, "doc_id", "text",
        shingleN = 3, numHashes = 128, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val verified = Dedup.minHashNearDupPairs(corpus, "doc_id", "text",
        shingleN = 3, numHashes = 128, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cand),
      s"every verified pair is a candidate first; missing ${verified -- cand}")
    assert(cand.forall { case (a, b) => a < b }, "canonical id order")
  }

  test("dropNearDups removes the higher id of each pair") {
    val pairs = Seq((0L, 100L), (1L, 101L)).toDF("id_a", "id_b")
    val out = Dedup.dropNearDups(corpus, pairs, "doc_id")
    assert(out.count() == corpus.count() - 2)
    assert(out.filter(col("doc_id").isin(100L, 101L)).count() == 0)
  }

  test("simhash: hamming distance of near-dups is small, of random pairs large") {
    val h = Dedup.withSimHash(corpus, "text")
    val pairs = Dedup.simHashNearDupPairs(corpus, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)), "planted near-dup must be found")
    assert(h.count() == 40)
  }

  test("embeddingNearDupPairs: brute and LSH agree on planted duplicates") {
    val rnd = new scala.util.Random(3)
    val base = (0 until 20).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = (0 until 5).map(i => ((i + 100).toLong,
      base(i)._2.map(x => x + 0.001f * rnd.nextGaussian().toFloat)))
    val df = (base ++ dups).toDF("vec_id", "embedding")
    // all-pairs reference: every pair's exact cosine
    val brute = df.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(df.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") < col("id_b") && Vec.cosine(col("va"), col("vb")) >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.99, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute == (0 until 5).map(i => (i.toLong, (i + 100).toLong)).toSet)
    assert(lsh == brute, "hyperplane LSH must find all planted near-identical vectors")
  }

  test("degenerate buckets are capped: an identical-doc flood yields no simhash pairs") {
    import spark.implicits._
    // m ids share every key: at maxBucket = m each candidate-pair
    // operator pairs all of them, at maxBucket = m - 1 the flooded
    // keys mint no pair
    val m = 4
    val same = (0L until m).map(i => (i, "same exact text repeated")).toDF("id", "text")
    val vec = Array.tabulate(16)(i => (i + 1).toFloat)
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "lshCandidatePairs" -> (cap =>
        Dedup.minHashCandidatePairs(same, "id", "text", maxBucket = cap)),
      "hammingNearDupPairs" -> (cap =>
        Dedup.simHashNearDupPairs(same, "id", "text", maxBucket = cap)),
      "hammingNearDupPairsWide" -> (cap => Dedup.hammingNearDupPairsWide(
        (0L until m).map(i => (i, Seq(1L, 2L, 3L, 4L))).toDF("id", "h"),
        "id", "h", maxHamming = 1, maxBucket = cap)),
      "embeddingNearDupPairs" -> (cap => Dedup.embeddingNearDupPairs(
        (0L until m).map(i => (i, vec)).toDF("id", "v"), "id", "v",
        dim = 16, maxBucket = cap)),
      "sharedSpanPairs" -> (cap =>
        Dedup.sharedSpanPairs(same, "id", "text", spanTokens = 2, maxBucket = cap)),
      "sharedFingerprintPairs" -> (cap => Dedup.sharedFingerprintPairs(
        (0L until m).map(i => (i, 7L)).toDF("id", "fp"), "id", "fp",
        minShared = 1, maxBucket = cap)),
      "blockedFuzzyPairs" -> (cap => Dedup.blockedFuzzyPairs(same, "id", "text",
        lit("blk"), maxDist = 0, maxBlock = cap)))
    val all = (for (a <- 0L until m; b <- a + 1 until m) yield (a, b)).toSet
    for ((name, op) <- ops) {
      def pairs(cap: Int) = op(cap).select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs(m) == all, s"$name: a key held by exactly maxBucket ids pairs")
      assert(pairs(m - 1).isEmpty, s"$name: a key held by maxBucket + 1 ids mints none")
    }
    val flood = (0L until 40L).map(i => (i, "same exact text repeated"))
      .toDF("id", "text")
    val capped = Dedup.simHashNearDupPairs(flood, "id", "text", maxBucket = 10)
    assert(capped.count() == 0, "flood bucket above the cap is dropped")
    val uncapped = Dedup.simHashNearDupPairs(flood, "id", "text", maxBucket = 10000)
    assert(uncapped.count() == 40L * 39 / 2, "below the cap pairs flow")
  }

  test("sharedSpanPairs: copied passages found, distinct spans counted once") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta"  // 6 tokens
    val df = Seq(
      (1L, s"intro words here $passage closing remarks"),
      (2L, s"totally different framing $passage and more stuff"),
      (3L, "no shared content in this document at all whatsoever"),
      (4L, s"$passage $passage")  // passage twice: spans still distinct per doc
    ).toDF("doc_id", "text")
    val out = Dedup.sharedSpanPairs(df, "doc_id", "text", spanTokens = 6)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // every pair among {1,2,4} shares at least the exact 6-token passage
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(out.forall(_._3 >= 1L))
    // cap: a span present in every doc of a 20-doc flood is dropped
    val flood = (0L until 20L).map(i => (i, passage)).toDF("doc_id", "text")
    assert(Dedup.sharedSpanPairs(flood, "doc_id", "text", spanTokens = 6,
      maxBucket = 5).count() == 0)
  }

  test("stripDuplicateSpans: non-owner passage merges to one range and strips") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h X1 X2"),   // owner of the passage (min id)
      (2L, "Y1 a b c d e f g h Y2"),   // 5 overlapping dup 4-grams → [1,9)
      (3L, "Z1  Z2   Z3")              // untouched, but whitespace-normalized
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(df, "doc_id", "text", spanTokens = 4)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 10L, 0L, 0L, "a b c d e f g h X1 X2"),
      (2L, 10L, 8L, 1L, "Y1 Y2"),
      (3L, 3L, 0L, 0L, "Z1 Z2 Z3")))
  }

  test("stripDuplicateSpans: disjoint passages, full strips, and minDf") {
    import spark.implicits._
    val df = Seq(
      (1L, "p1 p2 p3 p4"),
      (2L, "q1 q2 q3 q4"),
      (10L, "p1 p2 p3 p4 m1 m2 q1 q2 q3 q4"),  // both passages, disjoint
      (20L, "p1 p2 p3 p4")                      // exact copy → fully stripped
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(df, "doc_id", "text", spanTokens = 4)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 0L, 0L, "p1 p2 p3 p4"),
      (2L, 4L, 0L, 0L, "q1 q2 q3 q4"),
      (10L, 10L, 8L, 2L, "m1 m2"),
      (20L, 4L, 4L, 1L, "")))
    // minDf = 3: only the p-passage (docs 1, 10, 20) clears the bar
    val strict = Dedup.stripDuplicateSpans(df, "doc_id", "text",
        spanTokens = 4, minDf = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(strict == Seq(
      (1L, 4L, 0L, 0L, "p1 p2 p3 p4"),
      (2L, 4L, 0L, 0L, "q1 q2 q3 q4"),
      (10L, 10L, 4L, 1L, "m1 m2 q1 q2 q3 q4"),
      (20L, 4L, 4L, 1L, "")))
  }

  test("topDuplicatedSpans: reach-ranked, deterministic ties, minDf bar") {
    import spark.implicits._
    val df = Seq(
      (1L, "HEAD a b c"),   // "HEAD a b c" in docs 1,2,3 → reach 3
      (2L, "HEAD a b c"),
      (3L, "HEAD a b c x y z w"),  // plus "x y z w" twice (docs 3,4)
      (4L, "x y z w"),
      (5L, "all alone here now")).toDF("doc_id", "text")
    val out = Dedup.topDuplicatedSpans(df, "doc_id", "text", spanTokens = 4,
        minDf = 2, k = 10)
      .as[(String, Long, Long)].collect().toSeq
    // unique spans of doc 3 bridging HEAD..x appear once → below minDf
    assert(out == Seq(("HEAD a b c", 3L, 3L), ("x y z w", 2L, 2L)))
  }

  test("stripDuplicateSpans: a 2000-doc boilerplate flood never pairs up") {
    import spark.implicits._
    // 2000 identical docs — sharedSpanPairs would need a cap to avoid
    // 2M pairs; the strip path's probe join is linear in occurrences
    // (one row per doc), so it needs none: owner keeps, 1999 strip
    val n = 2000
    val df = (0 until n).map(i => (i.toLong, "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(df, "doc_id", "text", spanTokens = 4)
    assert(out.count() == n.toLong)
    val stripped = out.filter(col("dup_tokens") === 8L).count()
    assert(stripped == (n - 1).toLong, "every non-owner fully stripped")
    assert(out.filter(col("doc_id") === 0L).select("stripped_text")
      .head.getString(0) == "w1 w2 w3 w4 w5 w6 w7 w8", "owner intact")
  }

  test("stripDuplicateSpans invariants on a dup-heavy random corpus") {
    import spark.implicits._
    // small vocab → organic duplicated 4-grams everywhere
    val rnd = new scala.util.Random(7)
    val small = Seq("a", "b", "c", "d", "e")
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(30)(small(rnd.nextInt(small.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(docs, "doc_id", "text", spanTokens = 4)
      .collect()
    val orig = docs.as[(Long, String)].collect().toMap
    out.foreach { r =>
      val (id, total, dup, stripped) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))
      val kept =
        if (stripped.isEmpty) 0 else stripped.split("\\s+").length
      // token conservation: kept + stripped-out == original count
      assert(kept == total - dup, s"doc $id: $kept != $total - $dup")
      // order preservation: stripped text is a subsequence of the
      // whitespace-normalized original
      val ot = orig(id).trim.split("\\s+").filter(_.nonEmpty)
      var j = 0
      stripped.split("\\s+").filter(_.nonEmpty).foreach { t =>
        while (j < ot.length && ot(j) != t) j += 1
        assert(j < ot.length, s"doc $id: '$t' out of order vs original")
        j += 1
      }
    }
    // every duplicated span's OWNER keeps its full text
    assert(out.exists(_.getLong(2) > 0), "corpus must actually strip")
  }

  test("nearDupClusters: pair chains collapse to min-id components") {
    import spark.implicits._
    // components: {1,2,3,4} via a chain, {10,11}, and a 7-node path
    // 20-26 exercising multi-round label propagation
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)) ++
      (20L until 26L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(out(10L) == 10L && out(11L) == 10L)
    assert((20L to 26L).forall(out(_) == 20L),
      s"path component must fully converge: $out")
    assert(out.size == 13)
  }

  test("exactDupMatrix: same-source C(c,2), cross-source product, sparse") {
    val df = Seq(
      (1L, "x", "A"), (2L, "x", "B"), (3L, "x", "B"),
      (4L, "y", "A"), (5L, "z", "C")).toDF("doc_id", "text", "source")
    val out = Dedup.exactDupMatrix(df, "text", "source")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // "x": A×1, B×2 → A-B 1·2 = 2, B-B C(2,2) = 1; "y"/"z" no pairs;
    // A-A absent entirely (sparse, not zero-filled)
    assert(out == Map(("A", "B") -> 2L, ("B", "B") -> 1L))
  }

  test("prefixJaccardPairs equals brute force at every threshold (exactness)") {
    // pseudo-random small docs with planted near-dups: the prefix
    // filter is a THEOREM (no recall loss), so the pair set must match
    // an all-pairs scan exactly
    val words = ('a' to 'z').map(_.toString)
    def doc(seed: Int, n: Int) =
      (0 until n).map(i => words((seed * 31 + i * 17) % 26)).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, doc(i, 12 + i % 9)))
    val mutated = (0 until 40 by 4).map(i =>
      (100L + i, doc(i, 12 + i % 9) + " zzz")) // one appended token
    val docs = (base ++ mutated).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val fast = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val toks = (c: org.apache.spark.sql.Column) =>
        graft.functions.tokenSet(TextAnalysis.tokens(c))
      val a = docs.select(col("doc_id").as("id_a"), toks(col("text")).as("sa"))
      val b = docs.select(col("doc_id").as("id_b"), toks(col("text")).as("sb"))
      val brute = a.join(b, col("id_a") < col("id_b"))
        .withColumn("j", Dedup.jaccardSorted(col("sa"), col("sb")))
        .filter(col("j") >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute, s"threshold $t: prefix filter must be exact")
      assert(brute.nonEmpty || t > 0.9, s"fixture vacuous at $t")
    }
  }

  test("prefixJaccardPairs: grouped and bypass paths agree (both exact)") {
    // The flood-aware bypass picks one of two candidate strategies at
    // runtime; small fixtures always take the bypass, so this forces
    // the GROUPED path (groupFloor = 0) on a corpus with genuine
    // prefix-groups — token-set-equal docs in shuffled word order —
    // and checks both paths against brute force. Group shape: 10
    // groups × 5 members → inflation Σm(m−1) = 200 > 3·n = 150, so
    // floor 0 routes grouped while the default floor routes bypass.
    val words = ('a' to 'z').map(_.toString)
    def doc(seed: Int, rot: Int) = {
      val ts = (0 until 14).map(i => words((seed * 31 + i * 17) % 26)).distinct
      (ts.drop(rot % ts.size) ++ ts.take(rot % ts.size)).mkString(" ")
    }
    val docs = (for (g <- 0 until 10; m <- 0 until 5)
      yield ((g * 10 + m).toLong, doc(g, m))).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.9)) {
      val grouped = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t,
          groupFloor = 0.0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val bypass = Dedup.prefixJaccardPairs(docs, "doc_id", "text", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val toks = (c: org.apache.spark.sql.Column) =>
        graft.functions.tokenSet(TextAnalysis.tokens(c))
      val a = docs.select(col("doc_id").as("id_a"), toks(col("text")).as("sa"))
      val b = docs.select(col("doc_id").as("id_b"), toks(col("text")).as("sb"))
      val brute = a.join(b, col("id_a") < col("id_b"))
        .withColumn("j", Dedup.jaccardSorted(col("sa"), col("sb")))
        .filter(col("j") >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(grouped == brute, s"t=$t: grouped path must be exact")
      assert(bypass == brute, s"t=$t: bypass path must be exact")
      assert(brute.size >= 100, s"t=$t: fixture must contain real groups")
    }
  }

  test("incrementalJaccardPairs: cross-side exact vs brute force, no self pairs") {
    val words = ('a' to 'z').map(_.toString)
    def doc(seed: Int, n: Int) =
      (0 until n).map(i => words((seed * 31 + i * 17) % 26)).mkString(" ")
    // corpus includes an internal near-dup pair (0, 1 share seed 0)
    // that must NOT appear in the output — only corpus×batch pairs
    val corpus = ((0 until 30).map(i => (i.toLong, doc(i, 14))) :+
      (900L, doc(0, 14) + " qq")).toDF("doc_id", "text")
    val batch = (0 until 30 by 3).map(i =>
      (1000L + i, doc(i, 14) + " zzz")).toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val fast = Dedup.incrementalJaccardPairs(corpus, batch, "doc_id", "text", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val toks = (c: org.apache.spark.sql.Column) =>
        graft.functions.tokenSet(TextAnalysis.tokens(c))
      val a = corpus.select(col("doc_id").as("id_a"), toks(col("text")).as("sa"))
      val b = batch.select(col("doc_id").as("id_b"), toks(col("text")).as("sb"))
      val brute = a.join(b)
        .withColumn("j", Dedup.jaccardSorted(col("sa"), col("sb")))
        .filter(col("j") >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute, s"threshold $t: cross-side prefix filter must be exact")
      assert(brute.nonEmpty, s"fixture vacuous at $t")
      assert(fast.forall { case (a2, b2) => a2 < 1000 && b2 >= 1000 },
        "only corpus×batch pairs allowed")
    }
  }

  test("containmentPairs: exact vs brute force; asymmetric where Jaccard fails") {
    val words = ('a' to 'z').map(_.toString)
    def doc(seed: Int, n: Int) =
      (0 until n).map(i => words((seed * 31 + i * 17) % 26)).mkString(" ")
    // long corpus pages; probes: a verbatim snippet of page 0's first
    // 8 words (containment 1.0, Jaccard tiny), a partial snippet, a
    // probe with a token the corpus has never seen, an empty probe
    val corpus = (0 until 20).map(i => (i.toLong, doc(i, 22)))
      .toDF("doc_id", "text")
    val probes = Seq(
      (1000L, doc(0, 8)),                    // pure subset of page 0
      (1001L, doc(3, 8) + " zzz qq vv"),     // partly covered
      (1002L, "qxj wvk zzz"),                // nothing in corpus
      (1003L, "  ")                          // empty after trim
    ).toDF("doc_id", "text")
    for (t <- Seq(0.6, 0.9, 1.0)) {
      val fast = Dedup.containmentPairs(probes, corpus, "doc_id", "text", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val toks = (c: org.apache.spark.sql.Column) =>
        graft.functions.tokenSet(TextAnalysis.tokens(c))
      val a = probes.select(col("doc_id").as("id_a"), toks(col("text")).as("sa"))
      val b = corpus.select(col("doc_id").as("id_b"), toks(col("text")).as("sb"))
      val brute = a.join(b)
        .withColumn("c", when(size(col("sa")) > 0,
          graft.functions.sortedIntersectCount(col("sa"), col("sb"))
            .cast("double") / size(col("sa"))).otherwise(lit(0.0)))
        .filter(col("c") >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute, s"threshold $t: containment prefix must be exact")
    }
    // the signature asymmetric case: snippet ⊂ page pairs at t = 1.0
    val strict = Dedup.containmentPairs(probes, corpus, "doc_id", "text", 1.0)
      .as[(Long, Long, Double)].collect()
    assert(strict.exists(r => r._1 == 1000L && r._2 == 0L && r._3 == 1.0),
      s"verbatim snippet must hit its source page: ${strict.mkString(",")}")
    assert(!strict.exists(_._1 == 1002L), "unmatchable probe must not pair")
    assert(!strict.exists(_._1 == 1003L), "empty probe must not pair")
  }

  test("prefixJaccardPairsCollapsed: an exact-dup flood folds to one rep") {
    // 6 byte-identical copies of doc 1, one near-dup (doc 50), one
    // unrelated doc: the flood must contribute a group size of 7,
    // never 7·6/2 = 21 within-group pairs
    val floodText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (
      Seq((1L, floodText)) ++
      (2 to 7).map(i => (i.toLong, floodText)) ++
      Seq((50L, floodText + " iota"),        // jaccard 8/9 ≈ 0.889
          (99L, "totally different content everywhere"))
    ).toDF("doc_id", "text")
    val out = Dedup.prefixJaccardPairsCollapsed(docs, "doc_id", "text", 0.85)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 50L, 8.0 / 9.0, 7L, 1L)),
      s"one cross-group pair with sizes (7, 1), got $out")
  }

  test("prefixJaccardPairsCollapsed: token-set-equal docs collapse regardless of order") {
    val docs = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "eight seven six five four three two one"), // same set, reordered
      (3L, "one two three four five six seven nine")   // 7/9 overlap
    ).toDF("doc_id", "text")
    val out = Dedup.prefixJaccardPairsCollapsed(docs, "doc_id", "text", 0.7)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 7.0 / 9.0, 2L, 1L)), s"got $out")
  }

  test("sharedFingerprintPairs: distinct counting, threshold, flood cap") {
    // ids 1,2 share fps {10, 11, 12}; id 3 shares only {10} with them;
    // fp 99 appears in ids 1..5 (> maxBucket 4) -> dropped as a flood;
    // id 1 repeats fp 10 internally (must count once)
    val fps = Seq(
      (1L, 10L), (1L, 10L), (1L, 11L), (1L, 12L), (1L, 99L),
      (2L, 10L), (2L, 11L), (2L, 12L), (2L, 99L),
      (3L, 10L), (3L, 99L), (4L, 99L), (5L, 99L)
    ).toDF("id", "fp")
    val got = Dedup.sharedFingerprintPairs(fps, "id", "fp",
        minShared = 2, maxBucket = 4)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L)), s"got $got")
    // minShared = 1 picks up the single-fp overlaps, still no flood fp
    val loose = Dedup.sharedFingerprintPairs(fps, "id", "fp", 1, 4)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(loose == Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L)),
      s"got $loose")
  }

  test("blockedFuzzyPairs: block-local comparisons, distance gate, cap") {
    import org.apache.spark.sql.functions.substring
    val recs = Seq(
      (1L, "smith-01"), (2L, "smyth-01"),   // same block "h-01", dist 1
      (3L, "jones-01"),                     // different block, never compared
      (4L, "abcdzz01"), (5L, "vwxyzz01")    // same block, dist > 2 -> dropped
    ).toDF("id", "name")
    val got = Dedup.blockedFuzzyPairs(recs, "id", "name",
        substring(col("name"), 5, 4), maxDist = 2)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L)), s"got $got")
    // a flooded block (maxBlock = 2 with 3 members) is dropped whole
    val flood = Seq(
      (1L, "aa-x"), (2L, "ab-x"), (3L, "ac-x")).toDF("id", "name")
    val capped = Dedup.blockedFuzzyPairs(flood, "id", "name",
        substring(col("name"), 3, 2), maxDist = 2, maxBlock = 2)
      .collect()
    assert(capped.isEmpty, "flooded block must be dropped, not joined")
  }

  test("keepBestPerCluster: highest quality wins, singletons survive") {
    // cluster {1,2,3} (chained pairs), singleton 9; quality favors 2
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), (9L, 5L)).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.keepBestPerCluster(docs, pairs, "doc_id", "q")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    // cluster label = min id (1); q-tie between 2 and 3 -> smaller id 2
    assert(got == Seq(
      (1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 0L), (9L, 9L, 1L)),
      s"got $got")
    // exactly one keeper per cluster regardless of layout
    val again = Dedup.keepBestPerCluster(
      docs.repartition(4), pairs, "doc_id", "q")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(again == got, "selection must not depend on layout")
  }
}
