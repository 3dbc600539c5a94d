package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for a training-data pipeline: benchmark
  * decontamination, deterministic split assignment, and token-budget
  * packing. Like [[Dedup]]/[[Similarity]], these extend the engine
  * beyond the reference's QC surface (SURVEY §7.5) — the operations a
  * 100 TB corpus build needs between ingest and training:
  *
  *  - decontamination joins the (huge) corpus against a BROADCAST
  *    benchmark n-gram set — one map-side join, one aggregation; the
  *    corpus is never self-joined;
  *  - split assignment is a pure map-side expression on a content hash:
  *    stable across runs, engines, executors, and repartitioning, with
  *    no RNG state to coordinate (unlike `randomSplit`, whose output
  *    depends on partition layout);
  *  - packing uses a per-shard window (partitioned cumulative sum),
  *    never a single global sort.
  */
object Curation {

  /** The determinism-critical hashing recipe every md5-ordered
    * operator in this file shares: lowercase-hex md5 of the key
    * rendered as a STRING — the exact bytes any engine's
    * `md5(varchar)` hashes, so kept sets and priorities agree across
    * engines and runs. Five operators' cross-engine guarantees ride
    * on this; change it here or nowhere. */
  private def md5Hex(key: Column): Column =
    md5(key.cast("string").cast("binary"))

  /** First 8 hex chars of [[md5Hex]] as a uniform position over
    * [0, 2^32): fixed-width lowercase hex orders lexicographically
    * exactly as it orders numerically, so fraction thresholds are
    * plain string comparisons. */
  private def md5Position(key: Column): Column =
    substring(md5Hex(key), 1, 8)

  // ------------------------------------------------------ decontamination

  /** Corpus documents sharing at least `minMatches` DISTINCT word
    * `n`-grams with a benchmark document — the standard training-set
    * decontamination check (eval-set leakage). Returns one row per
    * (corpus doc, benchmark doc) pair with the distinct-gram match
    * count.
    *
    * Scale shape: the benchmark side is tiny (eval sets are thousands
    * of docs) — its exploded gram table is `broadcast()`. The corpus
    * explodes to (doc, gram-hash) pairs map-side; the broadcast hash
    * join filters almost all of them before the single aggregation
    * keyed by (corpus doc, bench doc). Grams are compared by xxhash64
    * rather than by string — 8-byte shuffle keys; a 64-bit collision
    * would need ~2^32 distinct grams per doc pair to matter.
    */
  def contaminatedPairs(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minMatches: Int = 1): DataFrame = {
    require(n >= 1, "contaminatedPairs: n must be >= 1")
    require(minMatches >= 1, "contaminatedPairs: minMatches must be >= 1")
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), explode(Dedup.wordShingles(col(textCol), n)).as("__g"))
        .select(col(as), xxhash64(col("__g")).as("__gh"))
    val bg = grams(bench, "bench_id").distinct()
    grams(corpus, idCol)
      .join(broadcast(bg), Seq("__gh"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(countDistinct(col("__gh")).as("n_matched"))
      .filter(col("n_matched") >= minMatches)
  }

  /** Corpus with contaminated documents removed (any doc matching any
    * benchmark doc at the given n-gram threshold): a left-anti join on
    * the contaminated id set. No broadcast hint — the bad-id set's size
    * is data-dependent (normally tiny, but a leaky benchmark over a
    * web-scale corpus can contaminate millions of docs); AQE promotes
    * the join to broadcast when the set is actually small instead of
    * being forced to collect it driver-side. */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minMatches: Int = 1): DataFrame = {
    val bad = contaminatedPairs(corpus, bench, idCol, textCol, n, minMatches)
      .select(col(idCol)).distinct()
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Per-benchmark-document contamination coverage — the audit twin of
    * [[decontaminate]] (which answers "what do I drop"; this answers
    * "how leaked is each eval doc"): for every benchmark document, how
    * many corpus documents share ≥ `minMatches` n-grams with it, and
    * the worst single overlap. Benchmark docs with NO contamination
    * appear with zeros (a leakage report that silently omits the clean
    * rows can't prove a benchmark is clean).
    *
    * Scale shape: [[contaminatedPairs]]' broadcast-join aggregation,
    * then a bench-keyed rollup of the (tiny) pair table, right-joined
    * back to the bench ids — all post-aggregation work is
    * benchmark-sized. */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minMatches: Int = 1): DataFrame = {
    val pairs =
      contaminatedPairs(corpus, bench, idCol, textCol, n, minMatches)
    val hit = pairs.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_contaminated"),
        max(col("n_matched")).as("max_matched"))
    bench.select(col(idCol).as("bench_id"))
      .join(hit, Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("max_matched"), lit(0L)).as("max_matched"))
  }

  /** Deterministic global training-order shuffle: rows ordered by
    * `md5(seed ‖ key)` — the same order on every run, engine, and
    * partition layout (unlike `orderBy(rand(seed))`, whose sample
    * depends on partition layout), with `outCol` = 0-based position.
    * Different seeds give independent epoch orders.
    *
    * Scale shape: a training-order shuffle IS a global sort — but over
    * the md5 column it is a range-partitioned sort (every partition
    * sorts in parallel after a sampled range exchange), and the
    * position assignment rides [[graft.qc.QcWindows.withRowId]]'s
    * pure-Catalyst zipWithIndex: per-partition numbering + a
    * partition-count-sized offset catalog. No single-partition stage
    * at any size. */
  def shuffleOrder(
      df: DataFrame,
      keyCol: String,
      seed: String,
      outCol: String = "shuffle_pos"): DataFrame =
    graft.qc.QcWindows.withRowId(
      df.withColumn("__shuffle_key",
        md5Hex(concat(lit(seed), lit("|"), col(keyCol).cast("string")))),
      Seq("__shuffle_key", keyCol), outCol)
      .drop("__shuffle_key")

  // ----------------------------------------------------- split assignment

  /** Deterministic train/val/test assignment from the md5 of the key:
    * the first 8 hex chars of `md5(key)` are uniform over the split
    * space, and — because fixed-width lowercase hex orders
    * lexicographically exactly as it orders numerically — fraction
    * boundaries become plain string thresholds. No seed, no shuffle,
    * no dependence on partition layout; the same row lands in the same
    * split on any engine that computes md5 (which is what makes it
    * auditable against the DuckDB oracle).
    *
    * Null keys: `md5(null)` is null, every threshold comparison is
    * null, and the when-chain falls through — null-keyed rows land in
    * the LAST split deterministically. Validate keys upstream if that
    * is not acceptable.
    *
    * @param splits (name, fraction) pairs in priority order; fractions
    *               must sum to 1 (±1e-9).
    */
  def withSplit(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "withSplit: at least one split required")
    require(splits.forall(_._2 >= 0), "withSplit: fractions must be >= 0")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"withSplit: fractions must sum to 1, got $total")
    val h = md5Position(col(keyCol))
    // cumulative upper bounds as 8-hex-char thresholds over [0, 2^32)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => f"${math.min((c * 4294967296.0).toLong, 4294967295L)}%08x")
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), bound), rest) =>
      when(h < lit(bound), name).otherwise(rest)
    }
    df.withColumn(outCol, assign)
  }

  /** Per-source (domain) document cap — the RefinedWeb/Gopher-style
    * guard that stops any single site from dominating a crawl corpus:
    * keep at most `cap` documents per source, chosen by deterministic
    * md5 priority on the document key (content/id-hash order, not
    * arrival order, so the kept set is stable across runs, partition
    * layouts, and engines; the id tiebreak makes it total even under
    * md5-prefix collisions).
    *
    * Scale shape: one keyed window — hash shuffle on the source,
    * in-partition sort, `row_number ≤ cap`. Source skew equals the
    * biggest single domain; beyond that, pre-aggregate with a
    * per-(source, salt) pass or sketch per-source counts first. */
  def capPerSource(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, "capPerSource: cap must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val pri = md5Hex(col(idCol))
    val w = Window.partitionBy(col(sourceCol)).orderBy(pri, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Efraimidis–Spirakis (2006) weighted sampling WITHOUT
    * replacement, derandomized: each row's uniform draw is its
    * md5-position (stable across runs/engines/layouts, like
    * [[deterministicSample]]), its priority is `u^(1/w)`, and the
    * sample is the top-`k` priorities — provably a weight-proportional
    * sample for genuinely uniform `u`. Rows with non-positive weight
    * are excluded. Ties (and any cross-engine pow ulp drift) break on
    * the key, so the kept set is reproducible.
    *
    * Scale shape: a pure per-row projection + `TakeOrderedAndProject`
    * (each partition keeps k rows; no global sort, no shuffle of the
    * corpus). The weighted analogue of the md5-threshold splits. */
  def weightedSample(
      df: DataFrame, keyCol: String, weightCol: String, k: Int): DataFrame = {
    require(k >= 1, "weightedSample: k must be >= 1")
    df.filter(col(weightCol) > 0)
      .withColumn("__pri",
        pow(conv(md5Position(col(keyCol)), 16, 10).cast("double")
            / 4294967296.0,
          lit(1.0) / col(weightCol)))
      .orderBy(col("__pri").desc, col(keyCol))
      .limit(k)
      .drop("__pri")
  }

  /** The deterministic counterpart of `df.sample(fraction)`: keep rows
    * whose md5-derived position falls below `fraction`. Same row set on
    * every run and every engine. `fraction = 1` keeps every row
    * (including the ~1-in-4.3B keys whose md5 prefix is `ffffffff`);
    * null keys hash to null and are dropped at any fraction < 1. */
  def deterministicSample(
      df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1,
      "deterministicSample: fraction must be in [0, 1]")
    if (fraction >= 1.0) df
    else {
      val bound = f"${(fraction * 4294967296.0).toLong}%08x"
      df.filter(
        md5Position(col(keyCol))
          < lit(bound))
    }
  }

  /** EXACT `k` rows per group, deterministically: rows are ranked
    * inside each group by the md5 of their key (a stable,
    * layout-independent pseudo-random order — same mechanics as
    * [[deterministicSample]], so re-runs, engines, and partitionings
    * all pick the SAME rows) and the first `k` survive. The
    * fixed-count twin of [[stratifiedSample]]'s fixed-rate sampling —
    * eval-set construction wants "exactly 500 per language", not
    * "roughly 1%".
    *
    * Scale shape: one group-keyed window ranked by the md5 — a keyed
    * shuffle + per-group sort of GROUP-sized runs (not a global
    * sort); groups are assumed many and individually
    * memory-partition-sized, the same contract as every grouped op
    * here. */
  def groupSample(
      df: DataFrame, groupCol: String, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, "groupSample: k >= 1")
    df.withColumn("__rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(groupCol))
            .orderBy(md5Hex(col(keyCol)), col(keyCol))))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Per-stratum deterministic sampling — the corpus-mixing primitive:
    * sample each stratum (language, source, domain) at its own rate to
    * hit a target mixture. Same md5-position mechanics as
    * [[deterministicSample]], so the kept set is stable across runs,
    * engines, and layouts; still a pure map-side filter (the rate
    * lookup is a `when` chain over the — small — strata map, the judge
    * of which stratum a row is in never leaves the row).
    *
    * @param fractions keep-rate per stratum value; strata not listed
    *                  fall back to `default`.
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      fractions: Map[String, Double],
      default: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(default)).forall(f => f >= 0 && f <= 1),
      "stratifiedSample: fractions must be in [0, 1]")
    val pos = md5Position(col(keyCol))
    def keep(f: Double): Column =
      if (f >= 1.0) lit(true)
      else if (f <= 0.0) lit(false)
      else pos < lit(f"${(f * 4294967296.0).toLong}%08x")
    val cond = fractions.toSeq.sortBy(_._1).foldRight(keep(default)) {
      case ((stratum, f), rest) =>
        when(col(stratumCol) === stratum, keep(f)).otherwise(rest)
    }
    df.filter(cond)
  }

  // ------------------------------------------ importance-weighted selection

  /** DSIR importance weights (Xie 2023, "Data Selection for Language
    * Models via Importance Resampling"), hashed-feature variant: score
    * every corpus document by how target-like its hashed bag-of-words
    * is, `w(doc) = Σ_b k_b · (ln p̂_target(b) − ln p̂_raw(b))`, where
    * `b` ranges over 256 feature buckets (first two lowercase-hex md5
    * chars of each lowercased whitespace token — the same
    * string-rendered md5 contract as [[md5Hex]], replayable on any
    * engine), `k_b` is the doc's bucket count, and both distributions
    * are add-one smoothed bucket frequencies (target corpus vs the raw
    * corpus itself). High weight = looks like the target distribution;
    * resampling by `w` is the standard pretraining-data selection move
    * when the target (e.g. curated reference text) is far smaller than
    * the raw pool. Returns every corpus row as `(id, n_toks, dsir_w)`
    * with `dsir_w` rounded to `roundDp` (the cross-engine float
    * recipe); tokenless docs score 0.
    *
    * Scale shape: the two distributions are 256-row aggregates; the
    * log-likelihood-ratio table built from them is broadcast onto the
    * corpus's doc-keyed bucket counts, so scoring is one exploded-token
    * aggregate + one broadcast join + one doc-keyed sum — two corpus
    * scans (raw + its doc features are one scan each), zero
    * corpus-sized shuffles beyond the doc-keyed aggregates. The
    * windowed totals below run on ≤256-row tables (single-partition by
    * construction, never data-sized). */
  def dsirWeights(
      corpus: DataFrame, target: DataFrame, idCol: String,
      textCol: String, roundDp: Int = 6): DataFrame = {
    val nB = 256
    def bucketed(df: DataFrame): DataFrame = df
      .select(col(idCol),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("__t"))
      .select(col(idCol),
        substring(md5(col("__t").cast("binary")), 1, 2).as("__b"))
    // per-doc bucket counts of the raw corpus — reused (via re-agg) for
    // the raw distribution, so the corpus text is exploded exactly once
    val docK = bucketed(corpus)
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__k"))
    val rawB = docK.groupBy(col("__b")).agg(sum(col("__k")).as("__cr"))
    val tgtB = bucketed(target)
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    // totals as windows over the bucket tables: ≤256 rows each, so the
    // single-partition window is catalog-sized, not a scale hazard
    val llr = rawB
      .join(tgtB, Seq("__b"), "left")
      .withColumn("__r", sum(col("__cr")).over(Window.partitionBy()))
      .withColumn("__tt",
        sum(coalesce(col("__ct"), lit(0L))).over(Window.partitionBy()))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + 1L).cast("double") /
            (col("__tt") + nB).cast("double")) -
          log((col("__cr") + 1L).cast("double") /
            (col("__r") + nB).cast("double"))).as("__llr"))
    val scored = docK.join(broadcast(llr), "__b")
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("__n"),
        round(sum(col("__k") * col("__llr")), roundDp).as("__w"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_toks"),
        coalesce(col("__w"), lit(0.0)).as("dsir_w"))
  }

  // ------------------------------------------- temperature-balanced mixing

  /** Temperature-sampled mixture weights over a stratum column — the
    * standard recipe for balancing a multilingual / multi-source corpus
    * (mT5 §3.1, XLM-R §3.1): stratum share `p = n/N` is flattened to
    * `q = p^alpha / Σ p^alpha` (`alpha = 1` keeps the natural mix,
    * `alpha → 0` approaches uniform), and `keep_rate = (q/p) / max(q/p)`
    * realizes that mixture by pure downsampling — the most-boosted
    * stratum keeps everything, every other stratum keeps
    * proportionally less.
    *
    * Scale shape: one hash aggregate over the corpus (map-side combine;
    * output is one row per stratum), then window arithmetic ON THE
    * STRATUM CATALOG — a handful of rows, like the dense window
    * renumber. The corpus is scanned once.
    */
  def temperatureWeights(
      df: DataFrame, stratumCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1,
      "temperatureWeights: alpha must be in (0, 1]")
    // single-partition windows are safe here: they run on the stratum
    // catalog (≤ thousands of rows), never the corpus
    val all = Window.partitionBy(lit(1))
    df.groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("p", col("n") / sum("n").over(all))
      .withColumn("q", pow(col("p"), alpha) / sum(pow(col("p"), alpha)).over(all))
      .withColumn("keep_rate",
        (col("q") / col("p")) / max(col("q") / col("p")).over(all))
  }

  /** Downsample each stratum at a rate carried in a (small) rates table
    * — the realization step for [[temperatureWeights]], or any
    * data-derived per-stratum rate. Same md5-position mechanics as
    * [[deterministicSample]] (stable across runs / engines / layouts),
    * but the rate arrives as a COLUMN via a broadcast join instead of a
    * compile-time literal, so the whole weights→sample pipeline stays
    * on the cluster — no collect, no driver round-trip.
    *
    * Rates are rounded to 6 decimals before the threshold so the kept
    * set is reproducible across engines whose float reductions differ
    * in the last ulp. Rows whose stratum is absent from `rates` are
    * dropped (inner join) — list every stratum to keep.
    */
  def rateSample(
      df: DataFrame, keyCol: String, stratumCol: String,
      rates: DataFrame, rateCol: String): DataFrame = {
    val pos = md5Position(col(keyCol))
    val r = round(col(rateCol), 6)
    val bound = format_string("%08x", floor(r * 4294967296d).cast("long"))
    df.join(broadcast(rates.select(col(stratumCol), col(rateCol))),
        Seq(stratumCol), "inner")
      .filter(r >= 1.0 || pos < bound)
      .drop(rateCol)
  }

  /** Closes the temperature-mixing loop: compute weights, realize the
    * downsample, and report per-stratum kept counts with achieved vs
    * target mixture shares — the verification a corpus build runs after
    * re-weighting. One extra corpus aggregate beyond [[rateSample]];
    * the share arithmetic runs on the stratum catalog. */
  def temperatureMixReport(
      df: DataFrame, keyCol: String, stratumCol: String,
      alpha: Double): DataFrame = {
    val w = temperatureWeights(df, stratumCol, alpha)
    val kept = rateSample(df, keyCol, stratumCol,
      w.select(col(stratumCol), col("keep_rate")), "keep_rate")
    val all = Window.partitionBy(lit(1))
    kept.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_kept"))
      .withColumn("achieved_q", col("n_kept") / sum("n_kept").over(all))
      .join(broadcast(w.select(col(stratumCol), col("q").as("target_q"))),
        Seq(stratumCol))
  }

  // ------------------------------------------------------- PII scrubbing

  /** Conservative PII/link patterns, written in the common subset of
    * Java regex and RE2 (no lookarounds) so the DuckDB oracle can run
    * the very same patterns. URL first — emails and IPs inside a URL
    * are already covered by its redaction. */
  val UrlPattern = "https?://\\S+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact URLs, emails, and IPv4 literals (in that order) with typed
    * placeholder tokens. Pure per-row projection. */
  def scrubPii(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlPattern, "<URL>")
    val noMail = regexp_replace(noUrl, EmailPattern, "<EMAIL>")
    regexp_replace(noMail, Ipv4Pattern, "<IP>")
  }

  /** Occurrence counts of the scrubbed pattern classes, counted in the
    * same order-sensitive way `scrubPii` redacts them (emails inside a
    * URL count as the URL only). */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val noUrl = regexp_replace(text, UrlPattern, "<URL>")
    val noMail = regexp_replace(noUrl, EmailPattern, "<EMAIL>")
    (size(regexp_extract_all(text, lit(UrlPattern), lit(0))),
      size(regexp_extract_all(noUrl, lit(EmailPattern), lit(0))),
      size(regexp_extract_all(noMail, lit(Ipv4Pattern), lit(0))))
  }

  // ------------------------------------------------------ token packing

  /** Assign each document to a fixed token-budget bin within its shard:
    * bin k holds the contiguous run of docs (ordered by `orderCol`)
    * whose EXCLUSIVE prefix token sum lies in [k·budget, (k+1)·budget).
    * The building block for sequence packing: downstream, each
    * (shard, bin) group concatenates into one training sequence of
    * ≈ budget tokens.
    *
    * Scale shape: the cumulative sum is windowed PER SHARD
    * (`partitionBy(shardCol)`), so the sort is a hash-partitioned
    * local sort, not a single-partition global `Window.orderBy` — the
    * scale-killer VERDICT r1 warned about. Shards (language, source,
    * date bucket) are the unit of parallelism; docs longer than the
    * budget still get their own bin.
    */
  def packByBudget(
      df: DataFrame,
      tokCol: String,
      shardCol: String,
      orderCol: String,
      budget: Long,
      outCol: String = "bin"): DataFrame = {
    require(budget > 0, "packByBudget: budget must be positive")
    // ROWS frame, not the default RANGE: with ties on orderCol a RANGE
    // frame gives tied rows the same cumulative sum, skipping bins and
    // overfilling past the budget
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol,
      floor((sum(col(tokCol)).over(w) - col(tokCol)) / lit(budget)))
  }

  /** [[packByBudget]] plus the within-pack layout a trainer actually
    * consumes: for every doc, its HALF-OPEN token span
    * `[tok_start, tok_end)` inside the concatenated (shard, bin)
    * training sequence — the offsets that drive per-doc attention
    * masking and position-id resets when packed sequences must not
    * attend across document boundaries.
    *
    * Scale shape: one more windowed prefix sum, partitioned by
    * (shard, bin) — strictly finer than [[packByBudget]]'s per-shard
    * window, so it re-sorts nothing larger and is never global. */
  def packSpans(
      df: DataFrame,
      tokCol: String,
      shardCol: String,
      orderCol: String,
      budget: Long,
      binCol: String = "bin"): DataFrame = {
    val binned = packByBudget(df, tokCol, shardCol, orderCol, budget, binCol)
    val w = Window.partitionBy(col(shardCol), col(binCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("tok_start", sum(col(tokCol)).over(w) - col(tokCol))
      .withColumn("tok_end", col("tok_start") + col(tokCol))
  }

  /** Snapshot reconciliation: classify every key of two same-schema
    * tables as `added` (only in `b`), `removed` (only in `a`),
    * `changed` (payload md5 differs), or `same` — the data-diff
    * primitive behind incremental-refresh audits and migration
    * sign-offs. Payload comparison is an md5 over the non-key columns
    * joined with a `\\u0001` separator; each column is first encoded
    * null-safely (`"v" ++ value`, null → `\\u0002`) because concat_ws
    * SKIPS nulls — without the encoding, rows whose payloads differ
    * only in WHICH column is null (`(x, null)` vs `(null, x)`) would
    * hash identically and be misclassified `same`.
    *
    * Scale shape: each side reduces to (key, 16-byte hash) map-side —
    * the full-outer join moves hashes, not payloads; both sides hash-
    * partition on the same key, so at 100 TB this is two scans + one
    * co-partitioned exchange of key+hash rows. */
  def tableDiff(
      a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "tableDiff: need at least one key column")
    require(a.columns.sameElements(b.columns),
      "tableDiff: schemas must match")
    val payload = a.columns.filterNot(keyCols.contains).toSeq
    def hashed(df: DataFrame, hc: String) =
      df.select(keyCols.map(col) :+ md5(concat_ws("\u0001",
        payload.map(c => coalesce(concat(lit("v"), col(c).cast("string")),
          lit("\\u0002"))): _*)).as(hc): _*)
    hashed(a, "__ha").join(hashed(b, "__hb"), keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__hb").isNull, lit("removed"))
          .when(col("__ha").isNull, lit("added"))
          .when(col("__ha") =!= col("__hb"), lit("changed"))
          .otherwise(lit("same")).as("diff_status"): _*)
  }
}
