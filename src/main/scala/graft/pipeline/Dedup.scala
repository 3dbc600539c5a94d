package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram
  * Jaccard — each shaped for 100 TB:
  *
  *  - exact dedup is ONE hash shuffle on the key (map-side combined);
  *  - near-dup candidate generation is LSH-BUCKETED (explode to band
  *    keys → equi-join on the band key), never an O(n²) all-pairs
  *    cross join; the only pairs materialized are same-bucket ones.
  *    Pathological buckets (e.g. millions of identical docs) are the
  *    skew case — AQE skew-join handles the join side, and
  *    `maxBucket` caps runaway buckets explicitly, in the one
  *    candidate self-join every pair operator shares (`keyPairs`).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup keeping the full first-by-`orderCol` row per key group
    * (deterministic, unlike `dropDuplicates`): one hash shuffle on
    * `keys`, no join. */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.withColumn("__rn",
      row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))))
      .filter(col("__rn") === 1).drop("__rn")

  /** Exact dedup as canonical-id + multiplicity (min id per key group) —
    * the aggregation-only shape (map-side combine, smallest shuffle). */
  def exactCanonical(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Cross-source exact-duplicate matrix: for every unordered source
    * pair (`source_a <= source_b`, same-source included), the number of
    * duplicate document pairs sharing identical `textCol` — the "who
    * copies from whom" telemetry a corpus build reads before weighting
    * sources. Same-source pairs count C(c,2); cross-source `c_a·c_b`.
    * Pairs-free groups are dropped (sparse matrix).
    *
    * Scale shape: the corpus collapses FIRST to (text-hash, source)
    * counts — one hash aggregate with map-side combine; the self-join
    * runs on that aggregated table (rows ≈ distinct texts), keyed on
    * the 8-byte hash. A text shared by k sources yields k² joined rows
    * — bounded by the source count, not the corpus. */
  def exactDupMatrix(df: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val g = df.groupBy(xxhash64(col(textCol)).as("__h"), col(srcCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
    val a = g.select(col("__h"), col("__s").as("source_a"), col("__c").as("__ca"))
    val b = g.select(col("__h"), col("__s").as("source_b"), col("__c").as("__cb"))
    a.join(b, Seq("__h"))
      .filter(col("source_a") <= col("source_b"))
      .withColumn("__pairs",
        when(col("source_a") === col("source_b"),
          (col("__ca") * (col("__ca") - 1) / 2).cast("long"))
          .otherwise(col("__ca") * col("__cb")))
      .groupBy("source_a", "source_b")
      .agg(sum("__pairs").as("dup_pairs"))
      .filter(col("dup_pairs") > 0)
  }

  // ---------------------------------------------------- shingles / minhash

  /** Word n-gram shingles (distinct, first-occurrence order),
    * space-joined — the native Catalyst expression
    * [[graft.functions.WordNgramsExpr]] (codegen'd; began life as a
    * transform()/slice() tree that ran interpreted per element, then as
    * a JVM-loop UDF that paid an encoder boundary per row in the
    * near-dup pipeline's hottest projection). */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.wordNgrams(text, n, distinct = true)

  /** MinHash signature of a shingle array — the engine's native
    * Catalyst expression [[graft.functions.MinHashSigExpr]] (codegen'd
    * over unsafe UTF8 bytes; began life as a nested transform() tree
    * that ran ~1000× slower because higher-order functions are
    * interpreted, then as a UDF paying per-row Seq[String]
    * materialization). Empty shingle sets get the sentinel signature. */
  def minHashSignature(
      shingles: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    graft.functions.minhashSig(shingles, numHashes, seed)

  /** Estimated Jaccard from two signatures: share of agreeing
    * positions. */
  def sigSimilarity(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1.0).otherwise(0.0)),
      lit(0.0), _ + _) / size(sigA)

  /** Exact Jaccard on two (distinct) shingle arrays; 0 when both empty.
    * Built-in array_intersect/array_union (they operate on unboxed
    * UTF8Strings in place — measurably faster than a UDF, which pays
    * string deserialization per element per pair). For large pairwise
    * stages, pre-hash elements to longs (cheaper comparisons, same
    * jaccard value modulo negligible collisions). */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u > 0, size(array_intersect(a, b)).cast("double") / u)
      .otherwise(lit(0.0))
  }

  /** Exact Jaccard on two SORTED distinct hash arrays (as produced by
    * [[graft.functions.tokenSet]]): one O(n+m) merge per pair via the
    * native [[graft.functions.SortedIntersectCountExpr]], union size
    * derived as `|a| + |b| − |a∩b|` — no per-pair hash sets. The
    * pairwise hot-path variant of [[jaccard]]; same value. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val ic = graft.functions.sortedIntersectCount(a, b)
    val u = size(a).cast("long") + size(b) - ic
    when(u > 0, ic.cast("double") / u).otherwise(lit(0.0))
  }

  /** Exact Jaccard-threshold SELF-join via prefix filtering (Chaudhuri
    * et al. 2006; Xiao et al. 2008, PPJoin): every document keeps only
    * its `|T| − ⌈t·|T|⌉ + 1` RAREST distinct tokens (rarest-first under
    * a global document-frequency order); any pair with Jaccard ≥ t
    * must share at least one prefix token, so candidates come from an
    * equi-join on prefix tokens — never an all-pairs comparison, and
    * unlike MinHash-LSH the result is EXACT (no recall loss: the
    * prefix bound is a theorem, not a probability).
    *
    * Scale shape: token df is one grouped count; the candidate join is
    * keyed by rare tokens (fan-out bounded — frequent tokens land in
    * prefixes only for tiny documents); verification is the O(n+m)
    * sorted-merge Jaccard per surviving pair. Three keyed shuffles,
    * nothing quadratic.
    *
    * Eager, like every prefix-family entry point: the call runs its
    * jobs and returns its result materialized ([[Fixpoint.materialize]]);
    * every table it staged is released before it returns.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ t
    */
  def prefixJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, groupFloor: Double = DefaultGroupFloor): DataFrame =
    Fixpoint.scoped { blocks =>
      Fixpoint.materialize(
        prefixPairs(blocks, docs, idCol, textCol, threshold, groupFloor))
    }

  /** Absolute candidate-inflation floor below which the near-identical-
    * prefix grouping is bypassed (see the decision comment inside
    * [[candidates]]). Tests pass 0 to force the grouped path on small
    * fixtures. */
  val DefaultGroupFloor: Double = 5e5

  /** The candidate stage of [[prefixJaccardPairs]], exposed on its own
    * so candidate volume is AUDITABLE (the stress harness records
    * candidate counts next to pair counts — the number that says
    * whether the join, or the irreducible output, is the cost) and
    * usable as a recall-free blocking stage in its own right.
    * Returns (id_a, id_b) with id_a < id_b — a superset of the
    * qualifying pairs by the pigeonhole/PPJoin theorems. Eager like
    * [[prefixJaccardPairs]].
    *
    * `groupFloor = Double.PositiveInfinity` DISABLES the
    * near-identical-prefix grouping entirely: no signature table is
    * built and no decision aggregate runs — the candidate join goes
    * direct. Exactness is unaffected (both strategies emit candidate
    * supersets); callers that have already collapsed identical-set
    * floods ([[prefixJaccardPairsCollapsed]]) use this to skip a
    * doc-count-sized aggregate + stage whose only purpose is flood
    * detection. */
  def prefixJaccardCandidatePairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, groupFloor: Double = DefaultGroupFloor): DataFrame =
    Fixpoint.scoped { blocks =>
      Fixpoint.materialize(
        candidates(blocks, docs, idCol, textCol, threshold, groupFloor))
    }

  /** Incremental (batch-vs-corpus) exact jaccard-threshold join: every
    * (corpus doc, batch doc) pair with token-set jaccard ≥ `threshold`
    * — the operational dedup mode at 100 TB, where a daily increment
    * is checked against the standing corpus WITHOUT re-pairing the
    * corpus against itself. The candidate join and verify stage of
    * [[prefixJaccardPairs]] (token df computed over the union gives
    * both sides one consistent total order, so the prefix bound stays
    * a theorem); only cross-side candidates are generated — corpus ×
    * corpus and batch × batch prefixes never pair. Ids must be unique
    * across both inputs. Eager like [[prefixJaccardPairs]]. Output:
    * (id_a = corpus id, id_b = batch id, jaccard). */
  def incrementalJaccardPairs(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    Fixpoint.scoped { blocks =>
      val tagged = corpus.select(col(idCol), col(textCol))
        .withColumn("__side", lit(0))
        .unionByName(batch.select(col(idCol), col(textCol))
          .withColumn("__side", lit(1)))
      Fixpoint.materialize(verified(
        candidates(blocks, tagged, idCol, textCol, threshold,
          Double.PositiveInfinity, crossSides = true),
        tagged, idCol, textCol, threshold))
    }

  /** [[prefixJaccardPairs]] in the caller's scope. */
  private def prefixPairs(
      blocks: Fixpoint.Blocks, docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, groupFloor: Double): DataFrame =
    verified(candidates(blocks, docs, idCol, textCol, threshold, groupFloor),
      docs, idCol, textCol, threshold)

  /** The candidate pairs (id_a, id_b) whose token sets in `docs` reach
    * Jaccard `threshold`, with their Jaccard. */
  private def verified(
      cand: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sets = docs.select(col(idCol),
      graft.functions.tokenSet(TextAnalysis.tokens(col(textCol))).as("__set"))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__sb")),
        Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[prefixJaccardCandidatePairs]] in the caller's scope. With
    * `crossSides`, `docs` carries `__side` (0 = corpus, 1 = batch), only
    * corpus × batch pairs are candidates (id_a the corpus id), and the
    * grouping is off: its within-group pairs ignore sides. */
  private def candidates(
      blocks: Fixpoint.Blocks, docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, groupFloor: Double, crossSides: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "prefixJaccardPairs: threshold must be in (0, 1]")
    val carry = if (crossSides) Seq(col("__side")) else Nil
    val toks = docs.select((col(idCol) +: carry) :+
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("__tok"): _*)
    val dfreq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // Staged once: the prefix table feeds the grouping decision below
    // AND both sides of the candidate join, each reading a column
    // subset; unstaged, every reader re-runs the token explode, the df
    // join and the per-doc rank window. The corpus count is lazy: it
    // runs only when the size estimate alone does not settle the
    // format ([[stagesColumnar]]).
    lazy val corpusDocs = docs.count()
    val prefix = stagePrefixTable(blocks,
      rankedPrefix(toks, idCol, dfreq, threshold, "inner")
        .select(Seq(col(idCol), col("__tok"), col("__r"), col("__sz")) ++ carry: _*),
      corpusDocs)
    // NEAR-IDENTICAL-PREFIX GROUPING — the template-flood guard the
    // exact-dup collapse ([[prefixJaccardPairsCollapsed]]) cannot
    // provide: replica corpora differ by a suffix token, so their full
    // token sets differ but their (size, ranked-prefix set) is
    // IDENTICAL — and every candidate filter (prefix share, length,
    // positional, index-prefix) reads ONLY (prefix tokens, ranks,
    // size). Members of a prefix-group are therefore interchangeable
    // in the candidate join: run it on one representative per group
    // and expand rep-pairs to member-pairs afterward. A flood of m
    // near-identical templates costs the join ONE row instead of m —
    // the measured 10× stress cost was exactly this join (7.2M
    // candidate rows for 1.25M pairs); verification work stays
    // per-pair, which is output-bound and irreducible for an exact
    // join. Exactness: filters agree between a member pair and its
    // rep pair (identical (r, sz) profiles); within-group pairs share
    // their rank-1 prefix token, which passes every filter at any
    // t ≤ 1, so emitting them unconditionally matches the ungrouped
    // join. The group key is the 128-bit md5 of (size, sorted prefix
    // tokens) — same birthday-bound argument as the exact collapse.
    val sa = col("pa.__sz"); val sb = col("pb.__sz")
    val idxFrac = 2.0 * threshold / (1.0 + threshold)
    def idxPrefixOk(r: Column, sz: Column): Column =
      r <= sz - ceil(lit(idxFrac) * sz - lit(1e-9)) + 1
    val pairOk =
      if (crossSides) col("pa.__side") === 0 && col("pb.__side") === 1
      else col(s"pa.$idCol") < col(s"pb.$idCol")
    // The PPJoin candidate join, on the full prefix table or on one
    // representative per prefix-group. Its pruning runs inside the join
    // condition, BEFORE the distinct shuffle, and every filter is a
    // THEOREM from Xiao et al. 2008, so exactness holds (on the 10×
    // replica stress corpus, where every doc sits in a 10-member
    // near-dup group, they cut wall-clock ~5×, 109 s → 20 s):
    //   length filter: J(a,b) ≥ t ⇒ min(|a|,|b|) ≥ t·max(|a|,|b|);
    //   positional filter: a pair sharing prefix token at ranks
    //   (ra, rb) has overlap ≤ 1 + min(|a|−ra, |b|−rb), and J ≥ t
    //   needs overlap ≥ t/(1+t)·(|a|+|b|);
    //   index-prefix filter: any J ≥ t pair shares a token inside the
    //   SMALLER record's index prefix |s| − ⌈2t/(1+t)·|s|⌉ + 1 (shorter
    //   than the probing prefix — at t=0.8 it is 11% of the doc vs
    //   20%), so candidate rows where the smaller side's match sits
    //   past its index prefix are redundant copies of a pair some
    //   other token already generates.
    // Output (__ra, __rb): __ra < __rb, or corpus × batch with sides.
    def candJoin(p: DataFrame): DataFrame = p.as("pa")
      .join(p.as("pb"), col("pa.__tok") === col("pb.__tok") && pairOk &&
        least(sa, sb).cast("double") >= lit(threshold) * greatest(sa, sb) - lit(1e-9) &&
        (lit(1) + least(sa - col("pa.__r"), sb - col("pb.__r"))).cast("double") >=
          lit(threshold / (1.0 + threshold)) * (sa + sb) - lit(1e-9) &&
        when(sa < sb || (sa === sb && col(s"pa.$idCol") < col(s"pb.$idCol")),
          idxPrefixOk(col("pa.__r"), sa))
          .otherwise(idxPrefixOk(col("pb.__r"), sb)))
      .select(col(s"pa.$idCol").as("__ra"), col(s"pb.$idCol").as("__rb"))
      .distinct()
    // FLOOD-AWARE BYPASS: the grouping only pays when prefix-groups
    // amplify the candidate join quadratically (replica floods); on a
    // low-duplication corpus the rep semi-join + two expansion joins
    // are pure overhead (measured 3× base-scale cost at sf0.1). The
    // decision variable is the ABSOLUTE join inflation Σm(m−1) = 2×
    // the within-group pair count (a group of m contributes m² rows
    // per shared prefix token where a rep contributes 1): the
    // grouping's cost is a handful of doc-count-keyed shuffles whose
    // stage latency dominates below ~10⁶ inflated candidates (sf0.1's
    // genuine 125-doc template group inflates only ~37K — trivially
    // absorbed by the join, so grouping there trades 15K avoided rows
    // for three extra stages), while above that the join's per-row
    // cost dominates and grouping wins regardless of corpus size
    // (both the 10× replica corpus, Σm(m−1) ≈ 1.6M, and any 100 TB
    // flood sit far past it). The relative 3·n term keeps the rule
    // scale-free for corpora whose duplication grows with size. All
    // inputs come from one grouped count over `sig` (doc-count-sized,
    // derived from the already-staged prefix table); the decision is
    // deterministic, and both branches produce a candidate SUPERSET of
    // the qualifying pairs, so the verified output is identical either
    // way.
    def direct() = candJoin(prefix)
      .select(col("__ra").as("id_a"), col("__rb").as("id_b"))
    if (crossSides || groupFloor.isPosInfinity) direct()
    else {
      // doc-count-sized (one 16-byte hash per doc); staged because it
      // feeds BOTH the bypass decision aggregate and the grouped path's
      // membership join — unstaged, the collect_list aggregate over
      // the prefix table would run twice
      val sig = stagePrefixTable(blocks,
        prefix.groupBy(col(idCol), col("__sz"))
          .agg(sort_array(collect_list(col("__tok"))).as("__pt"))
          .select(col(idCol), md5(concat_ws(" ",
            col("__sz").cast("string"), array_join(col("__pt"), " "))
            .cast("binary")).as("__g")),
        corpusDocs)
      val gsz = sig.groupBy(col("__g")).agg(count(lit(1)).as("__m"))
      val st = gsz.agg(sum(col("__m")),
        sum(col("__m").cast("double") * (col("__m") - 1))).head
      // empty corpus → null aggregates → bypass (nothing to group)
      val nDocs = if (st.isNullAt(0)) 0L else st.getLong(0)
      val inflation = if (st.isNullAt(1)) 0.0 else st.getDouble(1)
      if (inflation <= math.max(3.0 * nDocs, groupFloor)) direct()
      else {
        val memb = sig.join(
          sig.groupBy(col("__g")).agg(min(col(idCol)).as("__rep")), Seq("__g"))
          .select(col("__rep"), col(idCol))
        val repPrefix = prefix.join(
          memb.filter(col("__rep") === col(idCol)).select(col(idCol)),
          Seq(idCol), "left_semi")
        val candRep = candJoin(repPrefix)
        // rep-pairs → member-pairs (a member belongs to exactly one
        // group, so the expansion cannot mint duplicates); within-group
        // pairs are all candidates by the rank-1 shared-token argument
        val cross = candRep
          .join(memb.select(col("__rep").as("__ra"), col(idCol).as("__ia")),
            Seq("__ra"))
          .join(memb.select(col("__rep").as("__rb"), col(idCol).as("__ib")),
            Seq("__rb"))
          .select(least(col("__ia"), col("__ib")).as("id_a"),
            greatest(col("__ia"), col("__ib")).as("id_b"))
        val within = memb.as("ma")
          .join(memb.as("mb"), col("ma.__rep") === col("mb.__rep") &&
            col(s"ma.$idCol") < col(s"mb.$idCol"))
          .select(col(s"ma.$idCol").as("id_a"), col(s"mb.$idCol").as("id_b"))
        cross.unionByName(within)
      }
    }
  }

  /** Corpus scale from which the prefix family stages its
    * doc-count-sized tables columnar (see [[stagesColumnar]]). */
  private[graft] val ColumnarMinBytes: Long = 4L << 20
  private[graft] val ColumnarMinDocs: Long = 4000L

  /** Whether a prefix-family table stages in the columnar cache rather
    * than as row blocks: when the optimizer's size estimate reaches
    * [[ColumnarMinBytes]] OR the corpus holds [[ColumnarMinDocs]] docs.
    * Both thresholds split A/B-measured regimes: row blocks won at sf0.1 (~0.9 MB estimate, 1,071 docs), where the
    * columnar write, eager count and read conversion cost ~1.3×;
    * columnar won 5× on the 10× replica (~9 MB, 10,710 docs), whose
    * column-subset readers scan pruned, compressed columns instead of
    * deserializing full rows. The doc count is needed because near-dup
    * text compresses 3-4×, so source bytes under-read rows; it is
    * by-name and only counted while the bytes signal is below its
    * threshold. */
  private[graft] def stagesColumnar(sizeInBytes: BigInt, docs: => Long): Boolean =
    sizeInBytes >= ColumnarMinBytes || docs >= ColumnarMinDocs

  // how many stagings each format has taken in this JVM (Stress
  // records the deltas around its dedup_prefix reps)
  private[graft] val columnarStagings = new java.util.concurrent.atomic.AtomicLong
  private[graft] val rowStagings = new java.util.concurrent.atomic.AtomicLong

  private def stagePrefixTable(
      blocks: Fixpoint.Blocks, df: DataFrame, docs: => Long): DataFrame =
    if (stagesColumnar(df.queryExecution.optimizedPlan.stats.sizeInBytes, docs)) {
      columnarStagings.incrementAndGet()
      val staged = blocks.stageColumnar(df)
      staged.count()
      staged
    } else {
      rowStagings.incrementAndGet()
      blocks.stage(df)._1
    }

  /** Exact containment-threshold join — quote/snippet detection, the
    * ASYMMETRIC cousin of [[prefixJaccardPairs]]: every (probe, corpus)
    * pair with `|T(p) ∩ T(c)| / |T(p)| ≥ threshold` (the probe's
    * distinct tokens mostly inside the corpus doc). The training-data
    * use is finding which corpus documents CONTAIN a benchmark prompt,
    * a quoted passage, or a snippet — Jaccard misses these because a
    * short quote inside a long page has near-zero Jaccard but
    * containment 1.0.
    *
    * Exactness: probe tokens are ranked rarest-first by CORPUS
    * document frequency (absent tokens rank rarest — they cannot match
    * and burn prefix slots for free); by pigeonhole, an overlap of
    * `⌈t·|p|⌉` tokens cannot hide entirely in the last `⌈t·|p|⌉ − 1`
    * ranks, so any qualifying pair shares a token inside the probe's
    * `|p| − ⌈t·|p|⌉ + 1` prefix — a theorem for ANY fixed order, df
    * order just minimizes candidates. The corpus side is indexed on
    * FULL token lists (no prefix shortening is sound there: the
    * matching token can sit anywhere in the corpus doc's own order).
    *
    * Scale shape: corpus tokens are one exploded projection + one
    * grouped count (df); candidates come from a token-keyed equi-join
    * of the (short) probe prefixes against it — never probes × corpus;
    * verification is the O(n+m) sorted-merge intersect per surviving
    * pair. Token-group fan-out is bounded by the probe prefixes being
    * the corpus-RAREST tokens, the same flood profile as the Jaccard
    * prefix join. Output: (id_a = probe id, id_b = corpus id,
    * containment), exact IEEE division of two ints — never rounded. */
  def containmentPairs(
      probes: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "containmentPairs: threshold must be in (0, 1]")
    // ctoks is deliberately NOT materialized although it has two
    // consumers (df count + candidate join): both are cheap streaming
    // scans of a narrow projection (the join side consumes it through
    // a broadcast of the short probe prefix), and BOTH staging formats
    // were MEASURED slower at sf0.1 — row checkpoint 3.99 -> 5.10 s,
    // and the r15 optimization pass re-ran the A/B with the COLUMNAR
    // cache (the format that wins for the prefix family's exploded
    // table): 5.84 -> 6.89 s, quiet host both sides (preflight 0.996
    // vs 1.006, min-of-3). Two consumers don't amortize the
    // write+eager-count tax the prefix table's five consumers do.
    // Contrast the Jaccard join's prefix table, where the re-run work
    // is a rank window, not a scan. (A 10x-replica A/B is uninformative here:
    // replica snippets share prefix tokens whose df grows with the
    // factor, so candidate volume grows ~factor² by fixture
    // construction — the linear ctoks term drowns in verify noise.)
    //
    // The VERIFY stage below (token-set arrays + one O(|Tp|+|Tc|)
    // sorted merge per candidate) has also been A/B'd against the §2.3
    // "narrow rows" restructure and KEPT (r16): expanding each
    // candidate by its probe tokens and counting matches via an
    // equi-join on (__cid, __tok) — which drops the csets tokenize and
    // never ships a corpus token-set array — measured 8.4 → 33.1 s at
    // sf0.1 (min-of-5, matched controls). The candidate set here is
    // ~1M pairs at sf0.1 (output-bound query: 983K qualifying pairs),
    // so the ×|T(p)| expansion shuffles ~20M keyed rows where the
    // merge form ships each candidate once into an in-memory probe of
    // broadcast/joined arrays. The narrow-rows form only wins when
    // candidates are SELECTIVE relative to probe fan-out; a
    // quote-detection workload is the opposite regime.
    val ctoks = corpus.select(col(idCol).as("__cid"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("__tok"))
    val dfreq = ctoks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val ptoks = probes.select(col(idCol).as("__pid"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("__tok"))
    // left join: probe tokens ABSENT from the corpus rank first (df 0)
    val prefix = rankedPrefix(ptoks, "__pid", dfreq, threshold, "left")
      .select(col("__pid"), col("__tok"))
    val cand = prefix.join(ctoks, Seq("__tok"))
      .select(col("__pid"), col("__cid")).distinct()
    val psets = probes.select(col(idCol).as("__pid"),
      graft.functions.tokenSet(TextAnalysis.tokens(col(textCol))).as("__ps"))
    val csets = corpus.select(col(idCol).as("__cid"),
      graft.functions.tokenSet(TextAnalysis.tokens(col(textCol))).as("__cs"))
    cand
      .join(psets, Seq("__pid"))
      .join(csets, Seq("__cid"))
      .withColumn("containment",
        when(size(col("__ps")) > 0,
          graft.functions.sortedIntersectCount(col("__ps"), col("__cs"))
            .cast("double") / size(col("__ps")))
          .otherwise(lit(0.0)))
      .filter(col("containment") >= threshold)
      .select(col("__pid").as("id_a"), col("__cid").as("id_b"),
        col("containment"))
  }

  /** Shared pigeonhole-prefix stage for the exact set-similarity
    * joins: rank each document's distinct tokens rarest-first by
    * `dfreq` (ties on the token, so replays are deterministic) and
    * keep only the `|T| − ⌈t·|T|⌉ + 1` prefix. The -1e-9 guards ceil
    * against FP overshoot when t·sz is exactly an integer (a longer
    * prefix is always safe; a shorter one can miss boundary pairs and
    * break exactness). `dfJoinType = "left"` ranks tokens ABSENT from
    * `dfreq` first (df coalesced to 0) — the containment join's case,
    * where probe tokens the corpus has never seen burn prefix slots
    * for free. All of `toks`' columns survive, plus `__r`/`__sz`
    * (and `__df`). */
  private def rankedPrefix(
      toks: DataFrame, idCol: String, dfreq: DataFrame,
      threshold: Double, dfJoinType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col(idCol))
    toks.join(dfreq, Seq("__tok"), dfJoinType)
      .withColumn("__r", row_number().over(
        wDoc.orderBy(coalesce(col("__df"), lit(0L)), col("__tok"))))
      .withColumn("__sz", count(lit(1)).over(wDoc))
      .filter(col("__r") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
  }

  /** [[prefixJaccardPairs]] behind an exact-duplicate collapse:
    * documents with IDENTICAL distinct-token sets fold into one
    * canonical representative (min id) carrying the group size, the
    * prefix join runs on representatives only, and every output pair
    * carries both group sizes (pair multiplicity = size_a × size_b;
    * within-group pairs are implied by membership, not emitted).
    *
    * This is the 100 TB guard the plain join lacks: an
    * identical-document flood — m copies of one boilerplate page —
    * otherwise mints m²/2 Jaccard-1 pairs before any filtering can
    * intervene; after the collapse it is ONE representative row.
    * Token-set-equal documents are interchangeable for a token-set
    * Jaccard join, and the collapse key is the 128-bit md5 of the
    * canonical (sorted, distinct) token string — content-addressing
    * practice: the birthday bound sits at ~2^64 documents, so
    * distinct sets colliding is not a realistic event at any corpus
    * size this library targets (a 64-bit key would NOT clear that
    * bar at 10^10 documents).
    *
    * Scale shape: the collapse is one hash aggregate on a 16-byte
    * canonical-set hash (map-side combine); representative texts come
    * from an id-keyed join (group-sized vs corpus-sized); sizes
    * rejoin id-keyed onto the (already small) pair output.
    *
    * `groupFloor` defaults to ∞ here (unlike the direct entry
    * points): the collapse has already folded identical-token-set
    * floods, so the near-identical-prefix grouping's signature table
    * and decision aggregate are pure overhead on the representative
    * corpus (measured ~0.4 s of the 2.4 s base-scale cost) and are
    * skipped. The residual flood the grouping could still catch —
    * documents whose token sets DIFFER but whose (size, ranked
    * prefix) profiles are identical, e.g. suffix-tagged replicas —
    * survives the collapse by construction; corpora shaped like that
    * should pass a finite `groupFloor` (or call
    * [[prefixJaccardPairs]] directly, whose decision aggregate
    * detects the flood at runtime). Eager like [[prefixJaccardPairs]].
    *
    * @return (id_a, id_b, jaccard, size_a, size_b), id_a < id_b
    */
  def prefixJaccardPairsCollapsed(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      groupFloor: Double = Double.PositiveInfinity): DataFrame =
    Fixpoint.scoped { blocks =>
      val keyed = docs.select(col(idCol), col(textCol),
        md5(concat_ws(" ",
          array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))))
          .cast("binary")).as("__k"))
      // `groups` and `reps` are each staged ONCE, as row blocks: the
      // collapse output fans out to four consumers (prefix build,
      // verification token sets, and both size rejoins), and unstaged
      // every consumer re-runs the full input scan + hash aggregate
      // chain (measured ~25 re-scans of the source on the bench
      // fixture). Their consumers read full rows, where row blocks
      // measured faster than the columnar cache (+0.7 s/call at sf0.1).
      // `groups` is (16-byte hash, id, count) per DISTINCT token set;
      // `reps` is one text copy of the representative corpus — exactly
      // the corpus the candidate join must hold anyway.
      val (groups, _) = blocks.stage(keyed.groupBy(col("__k"))
        .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__n")))
      val (reps, _) = blocks.stage(groups.select(col(idCol))
        .join(keyed.select(col(idCol), col(textCol)), Seq(idCol)))
      val sizes = groups.select(col(idCol), col("__n"))
      Fixpoint.materialize(
        prefixPairs(blocks, reps, idCol, textCol, threshold, groupFloor)
          .join(sizes.select(col(idCol).as("id_a"), col("__n").as("size_a")),
            Seq("id_a"))
          .join(sizes.select(col(idCol).as("id_b"), col("__n").as("size_b")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("jaccard"),
            col("size_a"), col("size_b")))
    }

  // ------------------------------------------------------------- LSH bands

  /** Explode a signature into `bands` (bandIdx, bandHash) keys: docs
    * sharing ANY band key are candidates. Output: idCol, band, bh.
    * The band key is the md5 hex of the slice's comma-joined decimal
    * rendering — any injective-enough digest works for bucketing, and
    * md5 is the one an external SQL engine can replay (the `xxhash64`
    * it replaces kept `dedup_minhash` rows-only). All keys of a row
    * come from one native expression ([[graft.functions.BandKeysExpr]]);
    * the key bytes are unchanged from the `md5(concat_ws(',',
    * transform(slice(..), cast string)))` composition it replaces. A
    * null signature has no band rows. */
  def bandsOf(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, sigLen: Int): DataFrame = {
    require(sigLen % bands == 0, "bandsOf: bands must divide signature length")
    df.select(col(idCol),
      posexplode(graft.functions.bandKeys(col(sigCol), bands, sigLen / bands))
        .as(Seq("band", "bh")))
  }

  /** The flood-capped key self-join behind every candidate-pair
    * operator: drop each `keys` bucket held by more than `maxBucket`
    * rows (a bucket of m rows mints m²/2 pairs — at 100 TB a runaway
    * bucket, e.g. an identical-doc flood, is a job-killer; identical
    * rows belong to exact dedup), equi-join the survivors on `keys`
    * and keep `id_a < id_b`. Output: `keys`, `id_a`/`id_b` from
    * `idCol`, and each `carry` column as `<c>_a`/`<c>_b` — one row
    * per (bucket, pair), so a pair sharing several buckets repeats. */
  private def keyPairs(
      df: DataFrame, keys: Seq[String], idCol: String, maxBucket: Int,
      carry: String*): DataFrame = {
    val capped = df
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bn") <= maxBucket).drop("__bn")
    def side(s: String) = capped.select(keys.map(col) ++
      (col(idCol).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), keys).filter(col("id_a") < col("id_b"))
  }

  /** Candidate pairs (idA < idB) that share at least one LSH band
    * bucket — a self-equi-join on the band key, NOT an all-pairs cross
    * join; degenerate buckets dropped by [[keyPairs]]. */
  def lshCandidatePairs(
      banded: DataFrame, idCol: String, maxBucket: Int = 10000): DataFrame =
    keyPairs(banded, Seq("band", "bh"), idCol, maxBucket)
      .select("id_a", "id_b").distinct()

  /** LSH candidate pairs of the MinHash pipeline BEFORE exact-Jaccard
    * verification — the banding bucket-join's raw work volume: false
    * positives and flood-cap survivors included, exactly the rows the
    * verify stage must process. Instrumentation surface for scale
    * audits: a linear candidate count at two corpus sizes pins the
    * banding join's candidate VOLUME, which the verified output count
    * of [[minHashNearDupPairs]] cannot (false-positive candidates and
    * capped-bucket drops are invisible to it). Same stages, same
    * defaults as [[minHashNearDupPairs]]. */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      seed: Long = 42L,
      maxBucket: Int = 10000): DataFrame = {
    val sig = df.select(
      col(idCol),
      minHashSignature(wordShingles(col(textCol), shingleN),
        numHashes, seed).as("__sig"))
    lshCandidatePairs(bandsOf(sig, idCol, "__sig", bands, numHashes),
      idCol, maxBucket)
  }

  /** Full MinHash-LSH near-dup pipeline over a text column: shingle →
    * sign → band → bucket-join → verify candidates with EXACT Jaccard
    * (two broadcast-friendly joins back to the shingle sets) → pairs
    * with jaccard ≥ threshold. */
  def minHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      seed: Long = 42L): DataFrame = {
    val sh = df.select(
      col(idCol),
      wordShingles(col(textCol), shingleN).as("__sh"))
    val sig = sh.select(
      col(idCol),
      col("__sh"),
      minHashSignature(col("__sh"), numHashes, seed).as("__sig"))
    val banded = bandsOf(sig, idCol, "__sig", bands, numHashes)
    val cand = lshCandidatePairs(banded, idCol)
    // verify on sorted hashed shingle sets: the id-keyed joins ship
    // long arrays instead of string arrays, and each candidate pair
    // costs one O(n+m) merge (same jaccard value; hash collisions are
    // negligible and affect num and denom alike)
    val hs = sh.select(col(idCol), graft.functions.tokenSet(col("__sh")).as("__hs"))
    cand
      .join(hs.select(col(idCol).as("id_a"), col("__hs").as("__sha")), Seq("id_a"))
      .join(hs.select(col(idCol).as("id_b"), col("__hs").as("__shb")), Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Survivors after near-dup removal: drop the higher id of each dup
    * pair (single-step min-id canonicalization; chains longer than one
    * hop are rare at sensible thresholds and converge under
    * iteration). */
  def dropNearDups(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash of the text's token array, via the engine's native
    * Catalyst expression [[graft.functions.SimHash64Expr]] (codegen'd
    * on the unsafe token bytes — no UDF serialization boundary). */
  def withSimHash(df: DataFrame, textCol: String,
      outCol: String = "simhash"): DataFrame =
    df.withColumn(outCol,
      graft.functions.simhash64(TextAnalysis.tokens(col(textCol))))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`:
    * pigeonhole banding on `maxHamming + 1` chunks — two hashes
    * differing in ≤ maxHamming bits must agree on at least one chunk
    * (pigeonhole), so the equi-join on (chunk index, chunk value) finds
    * EVERY qualifying pair without an all-pairs scan; `bit_count(xor)`
    * verifies exactly. Chunk count scales with the requested distance
    * (a fixed 4-chunk split would silently lose recall above 3). */
  def simHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    hammingNearDupPairs(withSimHash(df, textCol), idCol, "simhash",
      maxHamming, maxBucket)

  /** Generic 64-bit hamming-ball self-join: all pairs whose `hashCol`
    * values differ in ≤ `maxHamming` bits, via pigeonhole banding on
    * `maxHamming + 1` chunks — two hashes within the ball must agree
    * on at least one chunk, so the equi-join on (chunk index, chunk
    * value) finds EVERY qualifying pair without an all-pairs scan;
    * `bit_count(xor)` verifies exactly. Shared by the SimHash text
    * path and the perceptual-image-hash path
    * ([[Multimodal.pHash64]]); chunk count scales with the requested
    * distance (a fixed split would silently lose recall above its
    * design distance).
    *
    * Two operating caveats: (1) recall is exact EXCEPT for band
    * buckets larger than `maxBucket`, which are dropped as floods
    * (identical-payload storms belong to exact dedup first); (2) band
    * selectivity is `64/(maxHamming+1)` bits, so large distances on
    * iid hashes prune weakly — beyond ~8 prefer a multi-index scheme
    * or dedup exact duplicates first. */
  def hammingNearDupPairs(
      hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      "hammingNearDupPairs: maxHamming must be in [0, 32)")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val extra = 64 % nChunks // first `extra` chunks get one more bit
    val offsets = (0 until nChunks).scanLeft(0) { (off, c) =>
      off + base + (if (c < extra) 1 else 0)
    }
    val chunks = (0 until nChunks).map { c =>
      val width = base + (if (c < extra) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      struct(lit(c).as("band"),
        shiftright(col(hashCol), offsets(c)).bitwiseAND(lit(mask)).as("bh"))
    }
    hammingBall(hashed, idCol, hashCol, chunks, maxHamming, maxBucket)(
      (a, b) => bit_count(a.bitwiseXOR(b)))
  }

  /** The pigeonhole join both hamming operators share: bucket each row
    * under its `chunks` (band, bh) keys, pair rows sharing a capped
    * bucket ([[keyPairs]]), keep pairs whose `distance` between the two
    * hashes is ≤ `maxHamming`. */
  private def hammingBall(
      hashed: DataFrame, idCol: String, hashCol: String, chunks: Seq[Column],
      maxHamming: Int, maxBucket: Int)(distance: (Column, Column) => Column): DataFrame =
    keyPairs(
      hashed.select(col(idCol), col(hashCol), explode(array(chunks: _*)).as("__bk"))
        .select(col(idCol), col(hashCol),
          col("__bk.band").as("band"), col("__bk.bh").as("bh")),
      Seq("band", "bh"), idCol, maxBucket, hashCol)
      .withColumn("hamming", distance(col(s"${hashCol}_a"), col(s"${hashCol}_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()

  /** Wide (multi-word) hamming-ball self-join — the 100 TB scale path
    * for perceptual hashes. `hashCol` is an `array<bigint>` of `words`
    * 64-bit words ([[Multimodal.pHashWide]] = 4 words / 256 bits);
    * banding uses the words' `chunkBits`-wide slices as pigeonhole
    * chunks (`words·64/chunkBits` of them), so any pair within
    * `maxHamming ≤ chunks − 1` errors agrees on at least one chunk and
    * the equi-join finds every qualifying pair.
    *
    * Why this exists next to [[hammingNearDupPairs]]: pigeonhole
    * candidate volume is (chunks)·n²/2^(chunkBits). The 64-bit join at
    * maxHamming 6 buckets on 9-bit chunks — 512 buckets/band, linear
    * only while n ≪ ~10⁵ (the sf-fixture regime), quadratic past it.
    * `chunkBits = 32` (the scale default) gives 2^32 buckets/band: iid
    * bucket occupancy stays ≪ 1 out to billions of rows, so the
    * candidate set is the true near-pairs plus vanishing collision
    * noise — candidate count grows linearly in n, which is the
    * property the 100× stress point pins. `chunkBits = 16` trades
    * bucket space (65,536/band — linear to ~10⁷ rows) for a wider
    * guaranteed ball (maxHamming ≤ 4·words − 1). Exact
    * `bit_count(xor)` verification over the zipped words runs
    * entirely in codegen'd builtins (zip_with + aggregate).
    *
    * Input contract: NULL hash rows are FILTERED (a failed decode has
    * no hash; the pigeonhole equi-join dropped them anyway, this just
    * makes it explicit); a non-null hash whose array length ≠ `words`
    * RAISES at execution — silent recall loss from a mis-sized hash
    * column is worse than a loud failure (DedupSpec-locked). */
  def hammingNearDupPairsWide(
      hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, words: Int = 4, chunkBits: Int = 32,
      maxBucket: Int = 10000): DataFrame = {
    require(words >= 1, "hammingNearDupPairsWide: words must be >= 1")
    require(chunkBits == 16 || chunkBits == 32 || chunkBits == 64,
      "hammingNearDupPairsWide: chunkBits must be 16, 32, or 64")
    val perWord = 64 / chunkBits
    val nChunks = words * perWord
    require(maxHamming >= 0 && maxHamming < nChunks,
      s"hammingNearDupPairsWide: maxHamming must be in [0, $nChunks) " +
        s"for the $chunkBits-bit-chunk pigeonhole to guarantee recall")
    val mask = lit(if (chunkBits == 64) -1L else (1L << chunkBits) - 1)
    val chunks = (0 until nChunks).map { c =>
      val word = element_at(col(hashCol), c / perWord + 1)
      val half = shiftright(word, (c % perWord) * chunkBits)
      struct(lit(c).as("band"), half.bitwiseAND(mask).as("bh"))
    }
    // Input hygiene, made LOUD (r13 advice): a hash array with the
    // wrong word count used to yield null chunk keys past the array
    // end, which the equi-join silently dropped — a words/width
    // mismatch became recall loss instead of an error. NULL hash rows
    // stay a documented FILTER (a failed decode legitimately has no
    // hash, and the old join dropped them identically); any NON-null
    // row whose array length ≠ `words` raises.
    val sized = hashed
      .filter(col(hashCol).isNotNull)
      .withColumn(hashCol,
        when(size(col(hashCol)) === words, col(hashCol))
          .otherwise(raise_error(concat(
            lit(s"hammingNearDupPairsWide: $hashCol must hold exactly " +
              s"$words words, got "),
            size(col(hashCol)).cast("string")))))
    hammingBall(sized, idCol, hashCol, chunks, maxHamming, maxBucket)((a, b) =>
      aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
        lit(0), (acc, x) => acc + x))
  }

  // ----------------------------------------------------- embedding cosine

  /** Embedding near-dup pairs: cosine ≥ threshold among LSH-bucketed
    * candidates (random hyperplane signatures via [[Similarity]]), with
    * exact cosine verification. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      dim: Int = 64,
      maxBucket: Int = 10000,
      seed: Long = 7L): DataFrame =
    // candidate ids are deduped BEFORE the vectors re-attach (distinct
    // on two longs, not on array columns)
    lshCandidatePairs(Similarity.hyperplaneBands(df, idCol, vecCol, dim,
        tables = 8, bitsPerTable = 12, seed = seed), idCol, maxBucket)
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .withColumn("cosine", Vec.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  // ------------------------------------------------- shared-span pairs

  /** Cross-document SUBSTRING duplication (Lee et al. 2022's
    * dedup-training-data signal, at token-span granularity): pairs of
    * documents sharing at least `minShared` distinct `spanTokens`-token
    * word spans, with the shared-span count per pair. Long spans make
    * organic collisions vanishingly rare, so surviving pairs indicate
    * copied passages — boilerplate, quotes, mirrored articles — that
    * whole-document MinHash misses when the rest of the docs differ.
    *
    * Scale shape: spans hash to 8-byte keys map-side; the self-join is
    * an equi-join ON THE SPAN HASH (never all-pairs), and `maxBucket`
    * drops spans shared by more than that many docs (boilerplate
    * banners would otherwise yield m²/2 pairs — at the cap they are
    * better handled by a dedicated boilerplate pass). */
  def sharedSpanPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minShared: Int = 1,
      maxBucket: Int = 1000): DataFrame = {
    require(spanTokens >= 1, "sharedSpanPairs: spanTokens must be >= 1")
    val spans = df.select(col(idCol),
        explode(wordShingles(col(textCol), spanTokens)).as("__s"))
      .select(col(idCol), xxhash64(col("__s")).as("__sh"))
    keyPairs(spans, Seq("__sh"), idCol, maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("__sh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Generic shared-fingerprint pair join: given a pre-computed
    * (id, fingerprint) table — frame perceptual hashes, audio chunk
    * hashes, code-block hashes — pairs of ids sharing at least
    * `minShared` DISTINCT fingerprints. The abstract form of
    * [[sharedSpanPairs]] for callers that already hold fingerprints.
    * Duplicate (id, fp) rows collapse first, so an id repeating a
    * fingerprint internally neither inflates bucket sizes nor the
    * shared count.
    *
    * Scale shape: distinct + a fingerprint-keyed self equi-join
    * (never all-pairs); fingerprints shared by more than `maxBucket`
    * ids are dropped as floods (an intro-sting frame in every video
    * would otherwise mint m²/2 pairs) — the [[sharedSpanPairs]]
    * boilerplate rule, one level up. */
  def sharedFingerprintPairs(
      fps: DataFrame, idCol: String, fpCol: String,
      minShared: Int, maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, "sharedFingerprintPairs: minShared >= 1")
    keyPairs(fps.select(col(idCol), col(fpCol)).distinct(), Seq(fpCol),
        idCol, maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      // count, not countDistinct: both join sides are the SAME deduped
      // (id, fp) table, so each (id_a, id_b, fp) combination yields
      // exactly one join row — plain count is provably the distinct
      // count, and skips the extra exchange+aggregate pass Catalyst
      // plans for a distinct aggregate (the pair stream is the
      // operator's largest intermediate; measured on graph_jaccard's
      // 18M-pair stream at sf0.1).
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Remove cross-document duplicated PASSAGES, keeping one copy
    * corpus-wide — the Lee et al. 2022 exact-substring dedup ACTION
    * (the removal step their suffix-array pass feeds), at word-span
    * granularity. A `spanTokens`-word span is duplicated when it
    * occurs in ≥ `minDf` distinct documents; the span's OWNER (the
    * minimum id containing it) keeps its text, every other document
    * has all its occurrences stripped. Per document, duplicated span
    * starts merge into maximal half-open word ranges `[s, e)` (two
    * overlapping 8-token spans = one 9-token passage, not two), and
    * the surviving words re-join with single spaces — so
    * `stripped_text` is whitespace-NORMALIZED for every row,
    * stripped or not.
    *
    * Unlike [[sharedSpanPairs]] there is no bucket cap: a span shared
    * by a million documents is exactly the boilerplate this operator
    * exists to remove, and the flood never materializes as pairs —
    * the per-occurrence join is linear in occurrences because the
    * span table it probes is one row per distinct span hash.
    *
    * Scale shape: two scans of the corpus (spans + tokens — at scale
    * re-scanning beats caching a corpus-sized intermediate), one
    * keyed aggregate on the 8-byte span hash (map-side combined), one
    * hash equi-join back on that hash (AQE handles skewed spans), a
    * per-document window for the interval merge (partitions are
    * document-sized), and per-row array ops for the strip. Nothing is
    * ever all-pairs and no state outgrows one document's ranges.
    *
    * @return (id, total_tokens, dup_tokens, n_ranges, stripped_text),
    *         one row per input document. */
  def stripDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDf: Int = 2): DataFrame = {
    require(spanTokens >= 1, "stripDuplicateSpans: spanTokens >= 1")
    require(minDf >= 2, "stripDuplicateSpans: minDf >= 2")
    // every span occurrence: (id, start word index, fnv64(span)).
    // fnv64, not xxhash64: the whole hash family stays externally
    // replayable (see graft.functions.Fnv64Expr).
    val occ = df.select(col(idCol),
        posexplode(graft.functions.wordNgrams(col(textCol), spanTokens)))
      .select(col(idCol), col("pos").as("__p"),
        graft.functions.fnv64(col("col")).as("__h"))
    // one row per DISTINCT duplicated span: how many docs carry it and
    // which doc (min id) keeps it
    val dupSpans = occ.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"), min(col(idCol)).as("__own"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), col("__own"))
    // duplicated occurrences outside the owner, as [s, e) word ranges
    val dupOcc = occ.join(dupSpans, Seq("__h"))
      .filter(col(idCol) =!= col("__own"))
      .select(col(idCol), col("__p").as("__s"),
        (col("__p") + lit(spanTokens)).as("__e"))
    // classic sorted interval merge: a range opens a new group iff its
    // start clears every earlier end (starts are unique per doc — one
    // occurrence per word position — so the ordering is total)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__s"), col("__e"))
    val merged = dupOcc
      .withColumn("__pm",
        max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__g",
        sum(when(col("__pm").isNull || col("__s") > col("__pm"), 1)
          .otherwise(0)).over(w))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
    val ranges = merged.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e")))).as("__rs"),
        count(lit(1)).as("n_ranges"),
        sum(col("__e") - col("__s")).cast("long").as("dup_tokens"))
    df.select(col(idCol),
        graft.functions.wordNgrams(col(textCol), 1).as("__toks"))
      .join(ranges, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__toks")).cast("long").as("total_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_ranges"), lit(0L)).as("n_ranges"),
        when(col("__rs").isNull, array_join(col("__toks"), " "))
          .otherwise(array_join(
            filter(col("__toks"), (_, i) =>
              !exists(col("__rs"),
                r => i >= r("__s") && i < r("__e"))),
            " ")).as("stripped_text"))
  }

  /** The boilerplate-discovery report: the corpus's most-duplicated
    * word spans ranked by document reach — what a curator reads to
    * find the shared header, license block, or template sentence
    * worth a dedicated rule before it pollutes training data. Ties
    * break by occurrence count then span text, so the top-k is
    * deterministic.
    *
    * Scale shape: one explode → one keyed aggregate on the span
    * (map-side combined; a flood span still aggregates to ONE row) →
    * ordered top-k, which Spark executes as TakeOrderedAndProject
    * (per-partition heaps, never a global sort). */
  def topDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8, minDf: Int = 2, k: Int = 20): DataFrame = {
    require(spanTokens >= 1, "topDuplicatedSpans: spanTokens >= 1")
    require(k >= 1, "topDuplicatedSpans: k >= 1")
    df.select(col(idCol),
        explode(graft.functions.wordNgrams(col(textCol), spanTokens))
          .as("span"))
      .groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDf)
      .orderBy(desc("n_docs"), desc("n_occurrences"), col("span"))
      .limit(k)
  }

  // --------------------------------------------------- near-dup clusters

  /** Connected components over a near-dup pair list — the dedup
    * endgame: candidate pairs (from MinHash/SimHash/span joins) chain
    * into CLUSTERS (a≈b, b≈c ⇒ {a,b,c}), each keeping one canonical
    * representative (the minimum id, like [[exactCanonical]]).
    *
    * Min-label propagation: each node repeatedly takes the minimum
    * label in its neighborhood until fixpoint — a [[Fixpoint.converge]]
    * loop of keyed joins/aggregations, every round staged. Near-dup
    * graphs have tiny diameter (dup chains, not paths), so this
    * converges in a handful of rounds; `maxIters` bounds the
    * pathological case and throws rather than return half-converged
    * labels.
    *
    * Scale shape: the pair table is symmetrized in one scan
    * ([[Graph.symmetrized]]) and repartitioned on the iteration join
    * key BEFORE the distinct — hash(dst) clusters (src,dst) groups, so
    * the distinct adds no exchange and the staged edges keep the
    * layout. The node-sized label table is broadcast
    * while [[Fixpoint.broadcastIfFits]] allows, so each round scans the
    * staged edges once and exchanges only node-sized partial mins;
    * min() is order-exact, so the join strategy never changes a value.
    * Convergence costs no extra job: labels only ever decrease, so a
    * round changed something iff some neighborhood min undercut the
    * old label, counted by an observed metric on the staging job.
    *
    * [[Graph.connectedComponentsStar]] has the same output contract,
    * but routing [[keepBestPerCluster]] through it made curate_text
    * slower (perfbench, 4-core host: wall 5.3-6.5 s → 7.1-8.5 s over
    * four alternating runs, the traced clusters layer 1.25 → 1.67 s).
    * Both stay because min-label propagation in turn cannot finish
    * GraphSpec's 400-node path within its round limit.
    *
    * @return (id, cluster) — one row per node appearing in `pairs`,
    *         cluster = min id of its component (a self-pair's node
    *         labels itself); lazy, its last round stays with it.
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    Fixpoint.scoped { blocks =>
      val (edges, _) = blocks.stage(Graph.symmetrized(pairs, "id_a", "id_b")
        .repartition(col("dst"))
        .distinct())
      val (init, _) = blocks.stage(edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")))
      // broadcast-gate row count: a cheap scan of the just-staged label
      // blocks (driver-sized result: one long)
      val n = init.count()
      val labels = Fixpoint.converge(blocks, init, maxIters,
          sum(when(col("__chg"), 1L).otherwise(0L))) { labels =>
        val nbrMin = edges
          .join(Fixpoint.broadcastIfFits(labels.select(col("id").as("dst"),
            col("cluster").as("__nc")), n), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min(col("__nc")).as("__nbr_min"))
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("__nbr_min"), col("cluster")))
              .as("cluster"),
            (coalesce(col("__nbr_min"), col("cluster")) < col("cluster"))
              .as("__chg"))
      }
      require(labels.isDefined,
        s"nearDupClusters: no fixpoint after $maxIters iterations " +
          "(component diameter exceeds maxIters)")
      labels.get
    }

  /** Entity-resolution matching (record linkage): candidate pairs by
    * BLOCKING, confirmed by exact edit distance — the standard
    * two-phase shape (Fellegi–Sunter blocking; Levenshtein verify)
    * for "are these two records the same real-world entity".
    * `blockKey` is the user's blocking rule (phonetic code, name
    * suffix, zip, …): only records sharing a block are compared, so
    * the self-join is block-local — never all-pairs — and `maxBlock`
    * drops degenerate blocks (the empty-string / "UNKNOWN" floods)
    * with the bucket cap every candidate-pair operator shares. Returns
    * `(id_a, id_b, dist)` for pairs with distance ≤ `maxDist`.
    *
    * Scale shape: one shuffle on the block key, per-block self-join
    * bounded by `maxBlock`², codegen'd `levenshtein` on the
    * candidate stream only. Block-key quality decides recall, the
    * cap bounds the worst block — both are the knobs a 100 TB run
    * tunes, neither changes the plan shape. */
  def blockedFuzzyPairs(
      df: DataFrame, idCol: String, strCol: String, blockKey: Column,
      maxDist: Int, maxBlock: Int = 1000): DataFrame = {
    require(maxDist >= 0, "blockedFuzzyPairs: maxDist must be >= 0")
    require(maxBlock >= 2, "blockedFuzzyPairs: maxBlock must be >= 2")
    keyPairs(df.select(col(idCol).as("id"), col(strCol).as("__s"),
        blockKey.as("__blk")), Seq("__blk"), "id", maxBlock, "__s")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__s_a"), col("__s_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Quality-aware canonical selection: given near-dup `pairs` over
    * `docs`, keep the BEST member of every duplicate cluster instead
    * of the arbitrary min-id one — the production dedup move (a crawl
    * usually wants the longest / highest-quality copy, which min-id
    * picks only by luck). `qualityCol` decides the winner (ties: the
    * smaller id, so selection is total and deterministic); docs in no
    * pair are their own singleton cluster and always survive.
    *
    * Returns every doc as `(id, cluster, keep)` — the keep set plus
    * the audit trail of what each dropped doc lost to.
    *
    * Scale shape: [[nearDupClusters]]' label propagation on the pair
    * graph (edge-sized, tiny diameter), one left join to attach
    * labels, and a per-cluster `row_number` window — partitioned by
    * cluster id, so the sort is per-cluster-sized, never global. */
  def keepBestPerCluster(
      docs: DataFrame, pairs: DataFrame, idCol: String,
      qualityCol: String, maxIters: Int = 25): DataFrame = {
    val cl = nearDupClusters(pairs, maxIters)
    val labeled = docs
      .select(col(idCol).as("id"), col(qualityCol).as("__q"))
      .join(cl, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"),
        col("__q"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__q").desc, col("id"))
    labeled
      .withColumn("keep", (row_number().over(w) === 1).cast("long"))
      .select(col("id"), col("cluster"), col("keep"))
  }
}
