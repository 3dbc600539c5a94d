package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, n-gram language ID, and document
  * fingerprinting. All per-row and narrow — at 100 TB these are
  * scan-bound maps with zero shuffle. The quality features are
  * Catalyst arithmetic over one native one-pass count of the text
  * ([[graft.functions.TextStatsExpr]]).
  */
object TextAnalysis {

  /** Whitespace tokenization; empty/blank text → empty array (not
    * `[""]`, which `split` would give). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  // The features below are Catalyst arithmetic over one native
  // one-pass count struct, `graft.functions.textStats`, whose tokens
  // are exactly `tokens`': a projection holding several features scans
  // the text once (common-subexpression elimination).

  // `size` of the token array: a null text gives what `size(null)`
  // gives — null under ANSI, −1 without it
  private def nTok(st: Column): Column =
    coalesce(st("n_tokens"), size(lit(null).cast("array<string>")))

  private def avgLen(st: Column): Column = {
    val nt = nTok(st)
    when(nt > 0, st("token_chars").cast("double") / nt)
  }

  private def stopRatio(st: Column): Column = {
    val nt = nTok(st)
    when(nt > 0, st("stop_hits").cast("double") / nt)
  }

  private def punct(st: Column): Column = {
    val n = st("n_chars")
    when(n > 0, st("n_punct").cast("double") / n).otherwise(lit(0.0))
  }

  def nTokens(text: Column): Column = nTok(graft.functions.textStats(text, Nil))

  /** Mean token length in characters (null for empty docs). */
  def avgTokenLen(text: Column): Column =
    avgLen(graft.functions.textStats(text, Nil))

  /** Share of tokens found in `stops` (null for empty docs). */
  def stopwordRatio(text: Column, stops: Seq[String]): Column =
    stopRatio(graft.functions.textStats(text, stops))

  /** ASCII `\p{Punct}`-character ratio over all characters (0 for
    * empty or null text). */
  def punctRatio(text: Column): Column =
    punct(graft.functions.textStats(text, Nil))

  /** Composite quality score in [0,1]: length in a sane band, average
    * word length in a natural-language band, some stopwords, little
    * punctuation — the usual cheap pre-training heuristics. */
  def qualityScore(text: Column, stops: Seq[String]): Column = {
    val st = graft.functions.textStats(text, stops)
    val nt = nTok(st).cast("double")
    // both band edges are real: short docs ramp up from 0, oversized
    // docs ramp DOWN (100000/nt), instead of silently passing
    val lenOk = when(nt >= 10 && nt <= 100000, 1.0)
      .when(nt < 10, nt / 10.0)
      .otherwise(lit(100000.0) / nt)
    val awl = coalesce(avgLen(st), lit(0.0))
    val awlOk = when(awl >= 2 && awl <= 12, 1.0).otherwise(0.25)
    val stopOk = when(coalesce(stopRatio(st), lit(0.0)) > 0.01, 1.0)
      .otherwise(0.5)
    val punctOk = lit(1.0) - least(punct(st) * 4, lit(1.0))
    least(lenOk, lit(1.0)) * 0.25 + awlOk * 0.2 + stopOk * 0.15 + punctOk * 0.4
  }

  /** Sliding character n-grams over case-folded, letter-only text with
    * boundary padding — the Cavnar–Trenkle (1994) n-gram profile
    * representation. Blank text → empty array. */
  def charNgrams(text: Column, n: Int = 3): Column = {
    val norm = lower(regexp_replace(text, "[^\\p{L}]+", " "))
    val padded = concat(lit(" "), trim(norm), lit(" "))
    // native sliding-window expression: the transform(sequence(...))
    // composition was interpreted per character and dominated the
    // language-ID query's runtime
    graft.functions.charNgrams(padded, n)
  }

  /** Per-document Shannon character entropy in bits — the classic
    * cheap gibberish/boilerplate signal (near 0 for repeated filler,
    * ~4.1 for normal English prose, higher for random bytes). One
    * explode + two doc-keyed aggregations sharing the same hash
    * exchange; documents with no characters are absent from the
    * output (nothing to measure). */
  def charEntropy(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = docs
      .select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit("."), lit(0))).as("__c"))
      .groupBy(col(idCol), col("__c"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(idCol))
    cnt.withColumn("__p", col("__n") / sum(col("__n")).over(w))
      .groupBy(col(idCol))
      .agg((-sum(col("__p") * log(2.0, col("__p")))).as("entropy_bits"))
  }

  /** Train Cavnar–Trenkle n-gram profiles: per language, the `topK`
    * most frequent character n-grams (ties → lexicographically first
    * gram), as a driver-side model — langs × topK strings, the same
    * collect-a-tiny-model shape as `Similarity.ivfCentroids`. */
  def langProfilesNgram(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String, langCol: String,
      n: Int = 3, topK: Int = 300): Seq[(String, Seq[String])] =
    profilesFromGrams(docs.select(col(langCol).as("__lang"),
      explode(charNgrams(col(textCol), n)).as("__g")), topK)

  /** Train side of the profile model over an ALREADY-EXPLODED
    * (lang, gram) table — shared by [[langProfilesNgram]] and the
    * staged single-explode path in [[langIdNgramProfile]]. */
  private def profilesFromGrams(
      grams: org.apache.spark.sql.DataFrame,
      topK: Int): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.expressions.Window
    grams
      .groupBy(col("__lang"), col("__g"))
      .agg(count(lit(1)).as("__lc"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("__lang").orderBy(col("__lc").desc, col("__g"))))
      .filter(col("__r") <= topK)
      .select("__lang", "__g")
      // driver-sized by construction: topK grams per language (the model)
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) => (l, rows.map(_.getString(1)).toSeq) }
      .toSeq.sortBy(_._1)
  }

  /** N-gram-profile language ID (Cavnar–Trenkle): build per-language
    * top-`topK` character-n-gram profiles from a LABELED corpus
    * ([[langProfilesNgram]]), then classify each document by which
    * profile its gram occurrences hit most (ties → lexicographically
    * first language; no hits → "und").
    *
    * Scale shape: the profile is a driver-side model (langs × topK
    * strings); scoring is a grouped conditional-count pass — each gram
    * occurrence probes `langs` broadcast hash sets (Catalyst `InSet`),
    * no join, no per-doc window, and the argmax is a `greatest` over
    * (score, priority) structs inside the same aggregate projection.
    * One shuffle, keyed by document.
    *
    * The corpus n-gram explode runs ONCE, staged as eager row blocks
    * and read by BOTH the train aggregate and the scoring aggregate
    * (r16, §2.4). Train and score cannot overlap as concurrent
    * stages — the scoring plan is only BUILT after the profile model
    * collects to the driver — so this is the shape where staging a
    * shared subtree wins (unlike the ≤2-consumer lazy-beats-staged
    * finding for the overlapping self-join family, r15 items 8-10):
    * A/B lazy two-explode vs row-staged one-explode measured
    * 32.5 → 24.2 s at the 10× replica (min-of-3) and control-
    * normalized better at sf0.1 (3.29 @ 0.55 control vs 3.53 @ 0.45).
    * Row blocks over the COLUMNAR cache deliberately: a plain persist
    * here is deduped by the CacheManager across repeated invocations
    * of the same plan, so an un-released cache made bench reps 2+
    * reuse rep 1's materialized buffers — a 1.6 s sf0.1 reading that
    * was cache reuse, not computation (the measurement-artifact class
    * the bench's clearCache-between-queries guard exists for; with an
    * honest per-call release the columnar form measured 4.0 / 30.4 s,
    * losing to row blocks at both scales). Blocks release before the
    * operator returns — the doc-sized score table is cut eagerly so
    * the returned plan never reads the gram staging.
    *
    * @return (doc_id, lang_pred) one row per input document
    */
  def langIdNgramProfile(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String,
      n: Int = 3, topK: Int = 300): org.apache.spark.sql.DataFrame = {
    Fixpoint.scoped { blocks =>
      val (shared, _) = blocks.stage(
        docs.select(col(idCol), col(langCol),
          explode(charNgrams(col(textCol), n)).as("__g")))
      val profiles = profilesFromGrams(
        shared.select(col(langCol).as("__lang"), col("__g")), topK)
      require(profiles.nonEmpty, "langIdNgramProfile: no labeled languages")
      val scores = profiles.zipWithIndex.map { case ((_, grams), i) =>
        sum(when(col("__g").isInCollection(grams), 1L).otherwise(0L))
          .as(s"__s_$i")
      }
      // max (score, -index): ties resolve to the SMALLEST language index
      // = lexicographically first language (profiles are sorted)
      val structs = profiles.zipWithIndex.map { case ((lang, _), i) =>
        struct(col(s"__s_$i").as("s"), lit(-i).as("p"), lit(lang).as("l"))
      }
      val best =
        if (structs.length == 1) structs.head
        else greatest(structs: _*)
      // doc-sized eager cut so the gram blocks release before the caller
      // ever runs an action (the pageRank result pattern); the final
      // left join reads these blocks plus one id projection of the input
      // — the corpus text is never scanned again
      val scored = Fixpoint.materialize(shared
        .select(col(idCol), col("__g"))
        .groupBy(col(idCol))
        .agg(scores.head, scores.tail: _*)
        .select(col(idCol),
          when(best.getField("s") > 0, best.getField("l"))
            .otherwise(lit("und")).as("lang_pred")))
      docs.select(col(idCol)).join(scored, Seq(idCol), "left")
        .withColumn("lang_pred", coalesce(col("lang_pred"), lit("und")))
    }
  }

  /** GPT-2-style pre-tokenizer pattern, lookahead-free so the same
    * pattern runs under Java regex (Spark) and RE2 (DuckDB/Go
    * tokenizer ports): contractions, letter runs, digit runs,
    * punctuation runs — each optionally space-prefixed — and residual
    * whitespace runs. */
  val BpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish token count: the number of pre-tokenizer matches — the
    * standard cheap proxy for LLM token budgets (whitespace splitting
    * undercounts punctuation-heavy text). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately minimal — the point is the
    * distributed argmax shape, not lexicography. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"))

  /** Language ID: score each profile by stopword hits (ties broken by
    * language code), take the argmax; "und" (undetermined) when nothing
    * matches. One pass over the token array per profile — still a
    * narrow map. */
  def langId(text: Column,
      profiles: Map[String, Seq[String]] = LangProfiles): Column = {
    val t = tokens(text)
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(
        size(filter(t, _.isInCollection(stops))).as("score"),
        lit(lang).as("lang"))
    }
    val best = element_at(array_sort(
      array(scored: _*),
      (a, b) => when(a("score") > b("score"), -1)
        .when(a("score") < b("score"), 1)
        .when(a("lang") < b("lang"), -1)
        .when(a("lang") > b("lang"), 1)
        .otherwise(0)), 1)
    when(best("score") > 0, best("lang")).otherwise(lit("und"))
  }

  // ------------------------------------------------- repetition filters

  /** All word `n`-grams of a text, NON-distinct (unlike
    * [[Dedup.wordShingles]], which dedups for set similarity) — needed
    * when occurrence COUNTS matter. Native Catalyst expression
    * ([[graft.functions.WordNgramsExpr]]): stays in whole-stage codegen
    * through the explode-heavy repetition path. */
  def wordNgramsAll(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    graft.functions.wordNgrams(text, n, distinct = false)

  /** Gopher-style (Rae et al. 2021, §A1.1) line-repetition quality
    * signals, one row per input document:
    *
    *  - `n_lines`        non-blank line count
    *  - `dup_line_frac`  fraction of lines that are repeats beyond each
    *                     line's first occurrence
    *  - `dup_char_frac`  fraction of characters sitting in those repeats
    *
    * Documents with no non-blank lines keep a row with `n_lines = 0`
    * and null fractions. Scale shape: explode → two hash aggregations
    * keyed by doc id (map-side partial combine applies) → broadcast-able
    * join back; no window, no global sort.
    */
  def repetitionStats(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val perLine = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .filter(length(trim(col("__line"))) > 0)
      .groupBy(col(idCol), col("__line"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__len", length(col("__line")).cast("long"))
    val stats = perLine.groupBy(col(idCol)).agg(
      sum(col("__c")).as("n_lines"),
      (sum(col("__c")) - count(lit(1))).as("__ndup"),
      sum(col("__c") * col("__len")).as("__chars"),
      sum((col("__c") - 1) * col("__len")).as("__dupchars"))
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (col("__ndup").cast("double") / col("n_lines")).as("dup_line_frac"),
        when(col("__chars") > 0,
          col("__dupchars").cast("double") / col("__chars"))
          .as("dup_char_frac"))
  }

  /** Fraction of a document's characters covered by its single most
    * frequent word `n`-gram (count × gram length / total chars) — the
    * Gopher "top n-gram character fraction" boilerplate signal.
    * Ties break on the lexicographically smallest gram so the answer
    * is engine-independent. Docs with fewer than `n` tokens get a null
    * fraction. Same scale shape as [[repetitionStats]].
    */
  def topNgramCharFrac(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(col(idCol), length(col(textCol)).as("__nc"),
        explode(wordNgramsAll(col(textCol), n)).as("__g"))
      .groupBy(col(idCol), col("__nc"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(idCol).orderBy(col("__c").desc, col("__g"))))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("__g").as("top_gram"),
        when(col("__nc") > 0,
          (col("__c") * length(col("__g"))).cast("double") / col("__nc"))
          .as("top_gram_char_frac"))
    docs.select(col(idCol)).join(top, Seq(idCol), "left")
  }

  /** Sentence segmentation stats: sentence count and mean sentence
    * length in characters (whitespace-trimmed), splitting on runs of
    * terminal punctuation `[.!?]+`. Null mean for sentence-less docs.
    * Per-row and shuffle-free; the split runs over one document's
    * sentences, so the interpreted higher-order functions stay cheap. */
  def sentenceStats(text: Column): (Column, Column) = {
    val parts = filter(transform(split(text, "[.!?]+"), x => trim(x)),
      x => length(x) > 0)
    val n = size(parts)
    val total = aggregate(transform(parts, length(_).cast("long")), lit(0L), _ + _)
    (n, when(n > 0, total.cast("double") / n))
  }

  /** C4-style (Raffel et al. 2020, §2.2) line-quality signals per
    * document: non-blank line count, the fraction of lines ending in
    * terminal punctuation (`.`/`!`/`?` — C4 keeps only such lines), and
    * the fraction of characters on those lines (what a C4 line filter
    * would retain). Null fractions for docs with no non-blank lines.
    * Pure per-row projection — scan-bound at any scale. */
  def lineQualityStats(text: Column): (Column, Column, Column) = {
    val lines = filter(transform(split(text, "\n"), x => trim(x)),
      x => length(x) > 0)
    val kept = filter(lines, x => x.rlike("[.!?]$"))
    def chars(xs: Column): Column =
      aggregate(transform(xs, length(_).cast("long")), lit(0L), _ + _)
    val n = size(lines)
    (n,
      when(n > 0, size(kept).cast("double") / n),
      when(chars(lines) > 0, chars(kept).cast("double") / chars(lines)))
  }

  /** Top-`k` TF-IDF terms per document — the classic keyword/topic
    * signal for corpus exploration and near-dup triage. Terms are
    * lowercased whitespace tokens; `idf = ln((1+N)/(1+df)) + 1`
    * (sklearn's smoothed form, never negative or zero) with `N` the
    * corpus document count and `df` the term's document frequency;
    * score = `tf · idf`. Ties rank by term so output is deterministic
    * across engines.
    *
    * Scale shape: explode → (doc, term) hash aggregate (map-side
    * combine) → term-keyed aggregate for `df` → join back on term →
    * top-k via a window PARTITIONED BY doc (never global). N arrives
    * via a broadcast one-row cross join, like the window origin (A5).
    * The term-keyed join co-shuffles two term-keyed tables — both
    * already aggregated, so rows ≈ vocabulary, not corpus.
    */
  def tfIdfTopTerms(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "tfIdfTopTerms: k must be >= 1")
    val tf = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).cast("double").as("__n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (log((lit(1d) + col("__n")) / (lit(1d) + col("df"))) + 1d))
      .withColumn("rank", row_number().over(
        Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rank"))
  }

  /** Corpus-level heavy hitters by DOCUMENT frequency: the `k` tokens
    * present in the most documents — the vocabulary-pruning /
    * boilerplate-spotting signal (a token in 90% of documents is
    * markup or a stopword, not content).
    *
    * Scale shape: explode → distinct (doc, token) hash aggregate with
    * map-side combine (the per-document token SET, so a token
    * repeated in one doc counts once) → token-keyed count — a
    * vocabulary-sized table — → top-k as `TakeOrderedAndProject`
    * (each partition keeps k rows; no global sort ever
    * materializes). Total order (df desc, token) makes the cut
    * deterministic across engines. */
  def docFreqTopK(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int = 50): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "docFreqTopK: k must be >= 1")
    docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(k)
  }

  /** Document fingerprint: order-sensitive polynomial rolling hash over
    * token hashes in a ~2^57 prime field (modular fold — no long
    * overflow under ANSI mode) — equal fingerprints ⇔ near-certainly
    * equal token sequences. Cheap exact dedup key that ignores
    * whitespace differences. The token hash is the package's FNV-1a
    * (not `xxhash64`): byte-fold arithmetic an external engine can
    * replay, which is what gives `text_fingerprint` a full DuckDB
    * oracle instead of a rows-only check. */
  private val FpPrime = 144115188075855859L // prime just below 2^57; 31·p < 2^63

  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 31L +
        pmod(graft.functions.fnv64(t), lit(FpPrime)), lit(FpPrime)))

  /** Train the char-bigram LM of [[bigramCrossEntropy]] on `docs` as
    * THREE reusable model tables (all vocabulary-sized): per-bigram
    * bits, per-prefix-char totals, and the one-row successor-vocab
    * size. Persist/broadcast these to score OTHER corpora — the real
    * CCNet setup (LM trained on a trusted corpus scores the crawl). */
  def bigramLm(docs: org.apache.spark.sql.DataFrame, textCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    bigramModelFrom(docs
      .select(explode(charNgrams(col(textCol), 2)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__nb")))

  /** Add-one-smoothed model assembly from a (bigram, count) table —
    * the ONE definition of the smoothing formula, shared by the
    * self-trained and transfer paths (whose oracle parity depends on
    * them never diverging). */
  private def bigramModelFrom(bi: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val pre = bi
      .groupBy(substring(col("__g"), 1, 1).as("__c1"))
      .agg(sum(col("__nb")).as("__np"))
    val vocab = bi.agg(
      countDistinct(substring(col("__g"), 2, 1)).as("__v"))
    val model = bi
      .withColumn("__c1", substring(col("__g"), 1, 1))
      .join(broadcast(pre), "__c1")
      .crossJoin(broadcast(vocab))
      .select(col("__g"),
        (-log(2.0, (col("__nb") + 1L).cast("double") /
          (col("__np") + col("__v")).cast("double"))).as("__bits"))
    (model, pre, vocab)
  }

  /** Score `docs` against a PRE-TRAINED [[bigramLm]] — transfer
    * scoring, where the scored corpus may contain bigrams the model
    * never saw. Unseen bigrams take the add-one floor `1/(n(c₁·)+V)`
    * (their smoothed mass); unseen prefixes take `1/V`. Output adds
    * `oov_bigrams`, the count of model-unseen bigrams — itself a
    * strong out-of-distribution signal.
    *
    * Scale shape: identical to [[bigramCrossEntropy]]'s scoring half —
    * one (doc, bigram) count aggregate, three broadcast left joins
    * against vocabulary-sized tables, one doc-keyed weighted sum. */
  def bigramCrossEntropyWith(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      lm: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame))
      : org.apache.spark.sql.DataFrame = {
    val (model, pre, vocab) = lm
    val docGrams = docs
      .select(col(idCol), explode(charNgrams(col(textCol), 2)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__k"))
    docGrams
      .join(broadcast(model), Seq("__g"), "left")
      .withColumn("__c1", substring(col("__g"), 1, 1))
      .join(broadcast(pre), Seq("__c1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__bits2", coalesce(col("__bits"),
        -log(2.0, lit(1.0) /
          (coalesce(col("__np"), lit(0L)) + col("__v")).cast("double"))))
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("n_bigrams"),
        sum(when(col("__bits").isNull, col("__k")).otherwise(lit(0L)))
          .as("oov_bigrams"),
        (sum(col("__k") * col("__bits2")) / sum(col("__k"))).as("xent_bits"))
  }

  /** Per-document cross-entropy under a character-bigram language
    * model trained on the corpus itself — the CCNet-style (Wenzek
    * 2020) perplexity quality signal without an external LM: fluent
    * in-distribution text scores low, gibberish/boilerplate scores
    * high. Model: add-one-smoothed `p(c₂|c₁) = (n(c₁c₂)+1) /
    * (n(c₁·)+V)` over [[charNgrams]]-normalized bigrams (case-folded,
    * letter-only, space-padded), `V` = distinct successor characters.
    * Output per doc: bigram count and mean `-log₂ p` in bits.
    *
    * Scale shape: the model is two corpus-level aggregates whose
    * results are CHARACTER-VOCABULARY sized (≲ a few thousand rows in
    * any script mix), broadcast back onto the exploded bigram stream;
    * scoring is then one doc-keyed hash aggregate with map-side
    * combine. Two corpus scans, zero corpus-sized shuffles — the same
    * shape at 100 TB, where the model stays kilobytes. The
    * `groupBy(doc, gram)` exchange is NOT corpus-sized despite the
    * per-character explode feeding it: a document's exploded rows are
    * partition-contiguous, so the partial aggregate collapses them to
    * vocabulary-bounded counts map-side, and the exchange is reused
    * by both the model branch and the scoring branch (the regex
    * normalization runs once). Quiet-host A/B confirmed this shape:
    * 10×-replica ratio 0.93 vs linear, and the within-row
    * `value_counts` alternative measured SLOWER at both scales (see
    * [[graft.functions.ValueCountsExpr]]) — the round-11 1.55×
    * reading was host contention, not a plan bend. */
  def bigramCrossEntropy(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // single pass over the (regex-normalized) bigram stream: per-doc
    // bigram COUNTS are the one corpus-sized aggregate; the model is a
    // vocabulary-sized re-aggregate of that, and scoring is a weighted
    // doc-keyed sum — the normalization regex runs once, not twice
    val docGrams = docs
      .select(col(idCol), explode(charNgrams(col(textCol), 2)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__k"))
    val (model, _, _) = bigramModelFrom(
      docGrams.groupBy(col("__g")).agg(sum(col("__k")).as("__nb")))
    docGrams.join(broadcast(model), "__g")
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("n_bigrams"),
        (sum(col("__k") * col("__bits")) / sum(col("__k"))).as("xent_bits"))
  }

  /** Distributed BPE tokenizer training (Sennrich 2016): the corpus
    * reduces ONCE to a (word, count) vocabulary, then every merge
    * round runs on that vocabulary-sized table — adjacent-pair counts
    * weighted by word count, argmax pair (ties: count desc, then
    * lexicographic — fully deterministic), leftmost-first
    * non-overlapping merge. Words are whitespace tokens, case-folded,
    * with a terminal `</w>` symbol.
    *
    * Symbol sequences travel as DOUBLE-SPACE-joined strings with
    * leading/trailing double spaces, so the merge step is a plain
    * `replace(s, ' L  R ', ' LR ')`: SQL `replace` is leftmost-first
    * non-overlapping, the single-space pattern edges anchor on the
    * inner of each double separator (so partial-symbol matches are
    * impossible), and the double separator survives adjacent merges —
    * exactly BPE's merge semantics, in one codegen'd builtin, and
    * replayable verbatim by any SQL engine (the DuckDB oracle runs
    * the identical replace).
    *
    * Scale shape: one corpus-sized shuffle total (the word count,
    * map-side combined). Each round is explode + pair aggregate +
    * top-1 on the CACHED vocabulary; only the K winning pairs reach
    * the driver. Output: (merge_rank, lft, rgt, n). */
  def bpeTrain(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String, merges: Int): org.apache.spark.sql.DataFrame = {
    require(merges >= 1, "bpeTrain: merges >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    Fixpoint.scoped { blocks =>
      val vocab0 = blocks.stageColumnar(docs
        .select(explode(tokens(lower(col(textCol)))).as("__w"))
        .filter(col("__w") =!= "")
        .groupBy("__w").agg(count(lit(1)).as("n"))
        .select(
          // RAW char split (graft.functions.charNgrams, not the
          // normalizing wrapper above — symbols must never contain
          // spaces, and digits/punctuation are legitimate BPE symbols)
          concat(lit("  "),
            array_join(
              concat(graft.functions.charNgrams(col("__w"), 1),
                array(lit("</w>"))), "  "),
            lit("  ")).as("s"),
          col("n")))
      var vocab = vocab0
      val out = Iterator.from(1).map { rank =>
        val syms = split(trim(col("s")), "  ")
        val top = vocab
          .select(explode(zip_with(syms,
            slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
            (a, b) => struct(a.as("lft"), b.as("rgt")))).as("__p"), col("n"))
          // zip_with pads the shorter side with null → drop the
          // (last-symbol, null) tail element
          .filter(col("__p.rgt").isNotNull)
          .groupBy(col("__p.lft").as("lft"), col("__p.rgt").as("rgt"))
          .agg(sum(col("n")).as("c"))
          .orderBy(col("c").desc, col("lft"), col("rgt"))
          .limit(1)
          .as[(String, String, Long)]
          // driver-sized by construction: limit(1) best merge pair
          .collect()
          .headOption // vocab fully collapsed → no pairs left
        top.map { case (l, r, c) =>
          vocab = vocab.withColumn("s",
            call_function("replace", col("s"),
              lit(s" $l  $r "), lit(s" $l$r ")))
          (rank.toLong, l, r, c)
        }
      }.take(merges).takeWhile(_.isDefined).flatten.toSeq
      out.toDF("merge_rank", "lft", "rgt", "n")
    }
  }

  /** Inverted-index build: per token, the document frequency and a
    * posting list of the `maxPostings` LOWEST doc ids (comma-joined,
    * numerically sorted — deterministic and engine-portable). The cap
    * is applied with a token-keyed `row_number` BEFORE anything is
    * collected, so a boilerplate token appearing in every document
    * contributes `maxPostings` rows to its group, never the whole
    * corpus — the flood-guard every collect-per-key operator in this
    * repo carries ([[Dedup]]'s `maxBucket` lesson).
    *
    * Scale shape: distinct (token, doc) with map-side partial, then
    * two token-keyed stages (count, capped window + bounded collect)
    * joined co-partitioned on the token. Postings per token are
    * bounded; df is exact. */
  def invertedIndex(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      maxPostings: Int): org.apache.spark.sql.DataFrame = {
    require(maxPostings >= 1, "invertedIndex: maxPostings >= 1")
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(explode(tokens(lower(col(textCol)))).as("token"), col(idCol))
      .filter(col("token") =!= "")
      .distinct()
    val dfT = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val postings = tok
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("token"))
          .orderBy(col(idCol))))
      .filter(col("__rn") <= maxPostings)
      .groupBy(col("token"))
      .agg(array_join(transform(sort_array(collect_list(col(idCol))),
        _.cast("string")), ",").as("postings"))
    dfT.join(postings, "token")
  }

  /** ROUGE-N overlap between a candidate and a reference text column
    * (Lin, "ROUGE: A Package for Automatic Evaluation of Summaries",
    * ACL 2004 workshop) — the standard n-gram eval metric for
    * summarization/generation quality, with CLIPPED multiset counts:
    * each n-gram credits `min(candidate occurrences, reference
    * occurrences)`, so repeating a reference gram in the candidate
    * cannot inflate the score. That multiset clipping is what
    * separates ROUGE from set-based containment
    * ([[Dedup.containmentPairs]]).
    *
    * `prec`/`rec` are exact-integer IEEE divisions (never rounded —
    * the suite's small-integer-ratio convention); `f1 = 2pr/(p+r)` is
    * the same double fold both engines compute from those quotients,
    * 0 by definition when nothing overlaps, and a side with no
    * n-grams yields a NULL for its ratio (guarded division). A pair
    * whose sides BOTH produce no n-gram yields no row.
    *
    * Scale shape: the two gram streams union with a side tag and fold
    * in ONE (id, gram)-keyed conditional-sum aggregate — not a join
    * of two aggregates — then one id-keyed rollup: two keyed
    * exchanges total, map-side combined, state bounded by distinct
    * grams per document, nothing all-pairs.
    *
    * @return (idCol, clipped, cand_ngrams, ref_ngrams, prec, rec, f1) */
  def rougeN(
      pairs: org.apache.spark.sql.DataFrame,
      idCol: String, candCol: String, refCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "rougeN: n must be >= 1")
    val cand = pairs.select(col(idCol),
      explode(graft.functions.wordNgrams(col(candCol), n)).as("__g"),
      lit(1).as("__side"))
    val ref = pairs.select(col(idCol),
      explode(graft.functions.wordNgrams(col(refCol), n)).as("__g"),
      lit(2).as("__side"))
    val perGram = cand.unionByName(ref)
      .groupBy(col(idCol), col("__g"))
      .agg(count(when(col("__side") === 1, 1)).as("__ca"),
        count(when(col("__side") === 2, 1)).as("__cb"))
    perGram.groupBy(col(idCol))
      .agg(sum(least(col("__ca"), col("__cb"))).as("clipped"),
        sum(col("__ca")).as("cand_ngrams"),
        sum(col("__cb")).as("ref_ngrams"))
      .select(col(idCol), col("clipped"), col("cand_ngrams"),
        col("ref_ngrams"),
        when(col("cand_ngrams") > 0,
          col("clipped").cast("double") / col("cand_ngrams")).as("prec"),
        when(col("ref_ngrams") > 0,
          col("clipped").cast("double") / col("ref_ngrams")).as("rec"))
      .withColumn("f1",
        when(col("clipped") > 0,
          lit(2.0) * col("prec") * col("rec") /
            (col("prec") + col("rec")))
          .otherwise(lit(0.0)))
  }

  /** BM25 relevance scores (Robertson/Spärck Jones; the Lucene
    * `k1`/`b` parameterization with the +1-smoothed idf) of every
    * document against a fixed term set: `Σ_t ln(1 + (N−df+0.5)/(df+
    * 0.5)) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`. Deterministic:
    * `avgdl` is an exact integer-sum mean, every float op is a fixed
    * double expression any engine replays.
    *
    * Scale shape: the query terms are a literal `IN` filter pushed at
    * the token stream, so `tf` is (matching doc, term)-sized; `df` is
    * terms-sized and broadcasts; doc length joins co-keyed on the doc
    * id; N/avgdl ride as a broadcast one-row. No corpus self-join, no
    * global sort — the standard inverted-index-free scoring pass for
    * a retrieval-corpus quality check. */
  def bm25(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25: need at least one query term")
    val toks = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__t"))
      .filter(col("__t") =!= "")
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("__nd"),
      avg(col("__dl")).as("__avgdl"))
    val tf = toks.filter(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))
    val dfT = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfT), "__t")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (log(lit(1.0) + (col("__nd") - col("__df") + lit(0.5)) /
            (col("__df") + lit(0.5))) *
          (col("__tf") * lit(k1 + 1)) /
          (col("__tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("__dl") / col("__avgdl")))).as("__s"))
      .groupBy(col(idCol))
      .agg(sum(col("__s")).as("bm25"))
  }

  /** Apply a trained [[bpeTrain]] merge table to ENCODE documents —
    * the inference half of the tokenizer: each whitespace word
    * (case-folded, `</w>`-terminated) is split to characters and the
    * merges replay in rank order with the identical double-space
    * `replace` semantics as training, so train→encode round-trips
    * exactly. Output per doc: total BPE token count and word count.
    *
    * Scale shape: the merge table collects to the driver (model-sized
    * — K rows) and rides in the plan as a chain of K literal
    * `replace` calls, so encoding is a scan-bound codegen'd map over
    * the exploded words plus ONE doc-keyed count aggregate (map-side
    * combined). Nothing corpus-sized is joined or shuffled beyond
    * that single aggregate — the shape a 100 TB tokenization pass
    * needs. */
  def bpeEncode(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      mergesDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // model-sized collect: the trained merge pairs, in rank order
    val merges = mergesDf.orderBy("merge_rank")
      .select(col("lft"), col("rgt")).as[(String, String)].collect()
    val s0 = concat(lit("  "),
      array_join(
        concat(graft.functions.charNgrams(col("__w"), 1),
          array(lit("</w>"))), "  "),
      lit("  "))
    val enc = merges.foldLeft(s0) { case (s, (l, r)) =>
      call_function("replace", s, lit(s" $l  $r "), lit(s" $l$r "))
    }
    docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(col("__w") =!= "")
      .select(col(idCol), size(split(trim(enc), "\\s+")).as("__k"))
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("n_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** fastText-style linear quality classifier: a logistic score over
    * the interpretable per-document features (`σ(w·f)` with `f =
    * [1, ln(1+n_tokens), stopword_ratio, punct_ratio,
    * avg_token_len/10]`). The weights are a fixed scoring model —
    * the deterministic stand-in for trained classifier weights, with
    * the exact evaluation shape a trained linear model would use
    * (model scoring at 100 TB = a scan-bound map; the "model" rides
    * in the plan as literals, nothing is shuffled or collected).
    * Defaults reward stopword-bearing prose and penalize
    * punctuation-heavy noise. */
  def qualityLogit(text: Column, stops: Seq[String],
      w: Seq[Double] = Seq(-1.0, 0.35, 2.0, -4.0, 0.5)): Column =
    lit(1.0) / (lit(1.0) + exp(-qualityZ(text, stops, w)))

  /** The linear score under [[qualityLogit]]'s sigmoid — exposed so a
    * threshold rule (`z > τ`, the weak-label form) avoids the
    * sigmoid's extra `exp` and compares the exact same double in any
    * engine. */
  def qualityZ(text: Column, stops: Seq[String],
      w: Seq[Double] = Seq(-1.0, 0.35, 2.0, -4.0, 0.5)): Column = {
    require(w.length == 5, "qualityZ: 5 weights (bias + 4 features)")
    val st = graft.functions.textStats(text, stops)
    lit(w(0)) +
      lit(w(1)) * log(lit(1.0) + nTok(st)) +
      lit(w(2)) * coalesce(stopRatio(st), lit(0.0)) +
      lit(w(3)) * punct(st) +
      lit(w(4)) * coalesce(avgLen(st), lit(0.0)) / 10.0
  }

  /** TRAIN a multinomial Naive Bayes token classifier on the corpus
    * itself and score every document — the in-engine counterpart of
    * [[qualityLogit]]'s fixed-weight inference, for when the filter's
    * weights must come from the data (weak supervision: a boolean
    * label column such as a language match, a source allowlist, or a
    * heuristic threshold). Features are hashed token buckets (the
    * hashing trick, `fnv64 mod buckets`), Laplace-smoothed per-class;
    * the document score is the classic log-likelihood-ratio logit
    *   prior + Σ_b k_b · [ln((c1_b+1)/(n1+B)) − ln((c0_b+1)/(n0+B))]
    * with prior = ln((d1+0.5)/(d0+0.5)). Training is COUNTING, so the
    * model is exact integers and the whole train+score pass is
    * deterministic; the only doubles are the final log-ratio folds,
    * rounded to 6 dp like every cross-engine log in this engine.
    *
    * Scale shape: one explode → (bucket, class) count aggregate
    * (map-side combined) builds the model — `buckets` rows, broadcast
    * back for scoring; the per-doc score is a (doc, bucket) count
    * aggregate joined against that broadcast table and summed per
    * doc. Two corpus-sized keyed aggregates, zero corpus self-joins,
    * nothing driver-sized but the one-row totals.
    *
    * @param labelCol boolean/int column: 1 = positive class
    * @return (id, label, nb_logit) — logit > 0 leans positive */
  def nbTokenClassifier(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, labelCol: String,
      buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, "nbTokenClassifier: buckets >= 2")
    val lab = docs.select(col(idCol), col(labelCol).cast("int").as("__y"))
    val tb = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        pmod(graft.functions.fnv64(col("__t")), lit(buckets.toLong)).as("__b"))
    // model: per-bucket class counts — `buckets` rows, exact longs
    val tc = tb.join(lab, Seq(idCol))
      .groupBy(col("__b"))
      .agg(sum(col("__y")).cast("long").as("__c1"),
        sum(lit(1) - col("__y")).cast("long").as("__c0"))
    val tot = tc.agg(sum(col("__c1")).as("__n1"), sum(col("__c0")).as("__n0"))
    val w = tc.crossJoin(broadcast(tot))  // buckets × 1 row
      .select(col("__b"),
        (log((col("__c1") + 1).cast("double") /
             (col("__n1") + buckets).cast("double")) -
         log((col("__c0") + 1).cast("double") /
             (col("__n0") + buckets).cast("double"))).as("__w"))
    val prior = lab.agg(
        sum(col("__y")).cast("double").as("__d1"),
        sum(lit(1) - col("__y")).cast("double").as("__d0"))
      .select(log((col("__d1") + 0.5) / (col("__d0") + 0.5)).as("__prior"))
    val sc = tb.groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__k"))
      .join(broadcast(w), Seq("__b"))
      .groupBy(col(idCol)).agg(sum(col("__k") * col("__w")).as("__s"))
    lab.join(sc, Seq(idCol), "left").crossJoin(broadcast(prior))
      .select(col(idCol), col("__y").as("label"),
        round(col("__prior") + coalesce(col("__s"), lit(0.0)), 6)
          .as("nb_logit"))
  }

  /** TRAIN the [[nbTokenClassifier]] model and EXPORT it to the
    * driver — the offline half of train-offline/score-online: the
    * returned (bucket → log-ratio weight, prior) pair is what
    * [[nbScore]] ships into a batch or STREAMING plan as literals.
    * The collect here is the model itself — at most `buckets` rows
    * (≈ 16 KB at the default 1024), the same model-sized-collect
    * class as the BPE merge table and the k-means centroid
    * catalogs. */
  def nbTokenModel(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, labelCol: String,
      buckets: Int = 1024): (Map[Long, Double], Double) = {
    require(buckets >= 2, "nbTokenModel: buckets >= 2")
    val lab = docs.select(col(idCol), col(labelCol).cast("int").as("__y"))
    val tb = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        pmod(graft.functions.fnv64(col("__t")), lit(buckets.toLong)).as("__b"))
    val tc = Fixpoint.materialize(tb.join(lab, Seq(idCol))
      .groupBy(col("__b"))
      .agg(sum(col("__y")).cast("long").as("__c1"),
        sum(lit(1) - col("__y")).cast("long").as("__c0")))
    val tot = tc.agg(sum(col("__c1")), sum(col("__c0"))).head
    val (n1, n0) = (tot.getLong(0), tot.getLong(1))
    // model-sized collect: <= `buckets` rows — this IS the export
    val w = tc.collect().map { r =>
      r.getLong(0) ->
        (math.log((r.getLong(1) + 1).toDouble / (n1 + buckets)) -
         math.log((r.getLong(2) + 1).toDouble / (n0 + buckets)))
    }.toMap
    val d = lab.agg(sum(col("__y")).cast("long"), count(lit(1))).head
    val prior = math.log((d.getLong(0) + 0.5) /
      ((d.getLong(1) - d.getLong(0)) + 0.5))
    (w, prior)
  }

  /** The online half: score a text column with an exported
    * [[nbTokenModel]] — the model rides the plan as a sorted map
    * literal, so this is a stateless per-row fold that drops into a
    * streaming plan unchanged (no state, no watermark, no shuffle).
    * The fold is LEFT-TO-RIGHT over the token array, so the double
    * summation order is defined and any engine replays it exactly;
    * buckets the model never saw contribute 0. Rounded to 6 dp like
    * every cross-engine log. (The lambda runs interpreted — fine for
    * per-token work; the production-scale path would promote it to a
    * native expression like the rest of graft.functions.) */
  def nbScore(text: Column, weights: Map[Long, Double], prior: Double,
      buckets: Int = 1024): Column = {
    require(buckets >= 2, "nbScore: buckets >= 2")
    val entries = weights.toSeq.sortBy(_._1)
      .flatMap { case (b, wv) => Seq(lit(b), lit(wv)) }
    val wMap = map(entries: _*)
    round(lit(prior) + aggregate(
      transform(tokens(text), t => coalesce(
        element_at(wMap,
          pmod(graft.functions.fnv64(t), lit(buckets.toLong))),
        lit(0.0))),
      lit(0.0), (acc, x) => acc + x), 6)
  }

  /** Threshold-sweep evaluation of a scored corpus — the
    * precision/recall curve a pipeline reads to pick its filter
    * cutoff. Scores bucket into `binsPerUnit` bins per unit (floor,
    * so a bin's row is the operating point "keep everything scoring
    * ≥ this bin"); per bin: TP/FP/FN and exact precision/recall.
    * All counts are exact integers and the divisions are the same
    * two longs on any engine, so the output is deterministic with no
    * rounding at all.
    *
    * Scale shape: one keyed aggregate collapses the corpus to ≤ a few
    * hundred (bounded by score range × `binsPerUnit`) bin rows; the
    * cumulative window and totals run on THAT catalog — the global
    * ordering is over bins, never documents.
    *
    * Degenerate-corpus contract: a corpus with ZERO positive labels
    * has no defined recall — `rec` is NULL on every row (explicitly,
    * via a guarded division; never NaN/Infinity), matching the SQL
    * convention (x/0 → NULL) so external replays agree byte-for-byte.
    * `tp`/`fp`/`fn`/`prec` stay exact. */
  def classifierPrCurve(
      scored: org.apache.spark.sql.DataFrame,
      scoreCol: String, labelCol: String,
      binsPerUnit: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(binsPerUnit >= 1, "classifierPrCurve: binsPerUnit >= 1")
    val binned = scored
      .groupBy((floor(col(scoreCol) * binsPerUnit) / binsPerUnit).as("thr"))
      .agg(sum(col(labelCol).cast("long")).as("__pos"),
        count(lit(1)).as("__n"))
    val tot = binned.agg(sum(col("__pos")).as("__pos_all"))
    // bin-catalog window: rows = bins, not documents
    val w = Window.orderBy(col("thr").desc)
    binned
      .withColumn("tp", sum(col("__pos")).over(w).cast("long"))
      .withColumn("__n_ge", sum(col("__n")).over(w).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("thr"), col("tp"),
        (col("__n_ge") - col("tp")).as("fp"),
        (col("__pos_all") - col("tp")).cast("long").as("fn"),
        (col("tp").cast("double") / col("__n_ge").cast("double"))
          .as("prec"),
        // zero-positive corpus → NULL recall by contract (see doc)
        (col("tp").cast("double") /
          nullif(col("__pos_all"), lit(0L)).cast("double"))
          .as("rec"))
  }

  /** One-row ROC-AUC summary over the same score bins as
    * [[classifierPrCurve]] — the scalar a pipeline tracks run-over-run
    * while the curve is what it reads when the scalar moves. Binned
    * trapezoid over (FPR, TPR) points ordered by descending
    * threshold, with the implicit (0,0) origin as the first lag;
    * per-bin terms come from a lag window over the BIN catalog (tiny,
    * bounded by score range × `binsPerUnit`) and the final sum is
    * rounded to 6 dp (the suite's cross-engine float-sum contract).
    *
    * Degenerate-corpus contract: ROC-AUC is undefined on a
    * single-class corpus (zero positives or zero negatives) — `auc`
    * is NULL there (explicitly, via guarded divisions; never
    * NaN/Infinity), matching the SQL x/0 → NULL convention so
    * external replays agree; `n_pos`/`n_neg` still report the counts.
    *
    * @return one row: (n_pos, n_neg, auc) */
  def classifierAuc(
      scored: org.apache.spark.sql.DataFrame,
      scoreCol: String, labelCol: String,
      binsPerUnit: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(binsPerUnit >= 1, "classifierAuc: binsPerUnit >= 1")
    val binned = scored
      .groupBy((floor(col(scoreCol) * binsPerUnit) / binsPerUnit).as("thr"))
      .agg(sum(col(labelCol).cast("long")).as("__pos"),
        count(lit(1)).as("__n"))
    val tot = binned.agg(sum(col("__pos")).cast("long").as("__p"),
      (sum(col("__n")) - sum(col("__pos"))).cast("long").as("__q"))
    val w = Window.orderBy(col("thr").desc)
    binned
      .withColumn("__tp", sum(col("__pos")).over(w))
      .withColumn("__fp", sum(col("__n") - col("__pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("__p"), col("__q"),
        // single-class corpus → NULL tpr/fpr → NULL auc by contract
        (col("__tp").cast("double") /
          nullif(col("__p"), lit(0L)).cast("double")).as("__tpr"),
        (col("__fp").cast("double") /
          nullif(col("__q"), lit(0L)).cast("double")).as("__fpr"))
      .withColumn("__lt", coalesce(lag(col("__tpr"), 1)
        .over(Window.orderBy(col("__fpr"), col("__tpr"))), lit(0.0)))
      .withColumn("__lf", coalesce(lag(col("__fpr"), 1)
        .over(Window.orderBy(col("__fpr"), col("__tpr"))), lit(0.0)))
      .select(col("__p"), col("__q"),
        ((col("__fpr") - col("__lf")) * (col("__tpr") + col("__lt")) / 2)
          .as("__term"))
      .groupBy(col("__p").as("n_pos"), col("__q").as("n_neg"))
      .agg(round(sum(col("__term")), 6).as("auc"))
  }

  /** RAG-style token-window chunking: overlapping windows of `size`
    * whitespace tokens advancing by `stride` — the standard
    * retrieval-corpus preparation step. Chunk `i` covers tokens
    * `[i·stride, i·stride+size)`; the last chunk may be short; empty
    * documents yield no chunks. Deterministic chunk ids.
    *
    * Scale shape: per-row narrow transform (split → per-doc window
    * count → explode → slice), entirely codegen-friendly built-ins;
    * zero shuffle — a scan-bound map at any scale. Output grows by
    * ~size/stride ×, the intended expansion. */
  def chunkTokens(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      chunkSize: Int = 64, stride: Int = 48): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1, "chunkTokens: size/stride >= 1")
    val t = tokens(col(textCol))
    val nt = size(t)
    // second bound: a chunk must START inside the document (matters
    // when stride > chunkSize — gapped sampling windows — where the
    // cover-the-tail count would otherwise mint empty trailing chunks)
    val nChunks = when(nt === 0, lit(0)).otherwise(least(
      (floor((greatest(nt - chunkSize, lit(0)) + (stride - 1)).cast("double")
        / stride) + 1).cast("int"),
      (floor((nt - 1).cast("double") / stride) + 1).cast("int")))
    val win = slice(col("__tk"), col("chunk_id") * stride + 1, lit(chunkSize))
    docs
      .select(col(idCol), t.as("__tk"), nChunks.as("__nc"))
      .filter(col("__nc") > 0)
      .select(col(idCol), col("__tk"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        size(win).cast("long").as("n_tok"),
        array_join(win, " ").as("chunk"))
  }

  /** CORPUS-WIDE duplicate-line removal (the CCNet/C4 global pass,
    * distinct from the per-document [[lineQualityStats]]): every line
    * occurring more than `maxDup` times across the WHOLE corpus —
    * boilerplate, navigation chrome, cookie banners — is dropped from
    * every document; line order inside each document is preserved.
    *
    * Returns `(id, n_kept, n_dropped, clean)` with `clean` the
    * reassembled document (possibly empty when every line was
    * boilerplate — the row is kept so callers can count hollowed-out
    * docs).
    *
    * Scale shape: explode to (id, pos, line) — corpus-linear — then
    * ONE line-keyed count with map-side combine, an inner hash join
    * of counts back onto the lines (AQE handles the inevitable skew
    * of hyper-common lines), and one id-keyed reassembly via
    * sort_array(collect_list) — no window over the corpus, no
    * driver-sized state, nothing quadratic. */
  def corpusLineDedup(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      maxDup: Int = 1): org.apache.spark.sql.DataFrame = {
    require(maxDup >= 1, "corpusLineDedup: maxDup >= 1")
    val lines = docs
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val counts = lines.groupBy(col("__line"))
      .agg(count(lit(1)).as("__cnt"))
    val kept = lines.join(counts, Seq("__line"))
      .select(col(idCol), col("__pos"), col("__line"),
        (col("__cnt") <= maxDup).as("__keep"))
    kept.groupBy(col(idCol))
      .agg(
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(
          transform(
            filter(
              sort_array(collect_list(struct(col("__pos"), col("__keep"),
                col("__line")))),
              _.getField("__keep")),
            _.getField("__line")),
          "\n").as("clean"))
  }
}
