package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression tests: the scale-critical physical-plan
  * invariants (DESIGN.md) asserted against the actual plans at
  * sf0.001, so a future edit that silently introduces a stray shuffle,
  * loses a broadcast, or breaks parquet pushdown fails CI rather than
  * surfacing as a 100 TB incident.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(FormattedMode)

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Shuffle exchanges only (BroadcastExchange is cheap by design). */
  private def shuffles(s: String): Int =
    "(?<!Broadcast)Exchange \\(".r.findAllIn(s).length

  private def countOcc(s: String, token: String): Int =
    s.sliding(token.length).count(_ == token)

  test("flag lifecycle is shuffle-free: apply-flags plan has only the oracle sort") {
    // p5 = scan → mask projection → (orderBy for the oracle). The only
    // exchange allowed is the final sort's range exchange.
    val p = plan("p5_apply_flags")
    assert(shuffles(p) <= 1, s"mask pipeline must not shuffle:\n$p")
  }

  test("mutations are narrow: m7 adds only the 1-row origin agg over the scan") {
    // allowed: the oracle sort's range exchange + the one-row exchange
    // under the broadcast min-time aggregate (A5). Nothing data-sized.
    val p = plan("m7_flag_approve_next")
    assert(shuffles(p) <= 2,
      s"mutation algebra must stay a projection:\n$p")
  }

  test("q3 dimension joins broadcast, never sort-merge") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"small dims must not sort-merge:\n$p")
  }

  test("parquet pushdown: filter reaches the scan, columns pruned") {
    val p = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
      .select("l_orderkey", "l_quantity")
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"),
      s"filter must push to parquet:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice"),
      s"untouched columns must be pruned from the scan:\n$readSchema")
  }

  test("progress summary is one aggregate pass: exactly one single-row exchange") {
    val p = plan("a1_progress")
    // partial agg → 1-row exchange → final agg (+ the sort's exchange
    // collapses on a 1-row input). No per-variable repetition.
    assert(countOcc(p, "HashAggregate") <= 4, s"one agg pair expected:\n$p")
    assert(shuffles(p) <= 2, s"one exchange expected:\n$p")
  }

  test("row ids never use a single-partition global window, and stay in Catalyst") {
    val p = physical("w1_rowid")
    // the rank window must be BUCKET-partitioned (value-deterministic
    // equi-depth buckets), never a global Window.orderBy over the data
    val globalRank = p.linesIterator.exists(l =>
      l.contains("Window [row_number()") &&
        !l.contains("windowspecdefinition(__rid_b"))
    assert(!globalRank,
      s"W1's rank must partition by the value-deterministic bucket:\n$p")
    // the offset join must not sever lineage through an RDD hop
    assert(!p.contains("ExistingRDD"),
      s"W1 must stay in Catalyst (no RDD zipWithIndex boundary):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back onto the data:\n$p")
  }

  test("window catalog's dense rank runs on the catalog, data gets a broadcast join") {
    val p = plan("o1_win_slice")
    assert(p.contains("BroadcastHashJoin"),
      s"dense ids must broadcast back to the data:\n$p")
  }

  test("near-dup verification joins are key-joins, not cross joins") {
    val p = plan("dedup_minhash")
    assert(!p.contains("CartesianProduct"), s"no all-pairs stage:\n$p")
  }

  test("decontamination broadcasts the benchmark grams, never self-joins") {
    val p = plan("cur_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"bench gram table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus side must never co-shuffle or cross-join:\n$p")
  }

  test("split assignment is a pure projection: no shuffle but the oracle sort") {
    val p = plan("cur_split")
    assert(shuffles(p) <= 1, s"md5 split must not shuffle:\n$p")
  }

  test("split-partitioned corpus layout prunes to one split at read") {
    val p = plan("s10_split_layout")
    assert(p.contains("PartitionFilters: [isnotnull(split"),
      s"reading one split must be a partition-pruned scan:\n$p")
  }

  test("temperature sampling: rates broadcast to the corpus, corpus never shuffles") {
    // weights aggregate the corpus once (1 exchange), window arithmetic
    // runs on the tiny stratum catalog (single-partition there is by
    // design), and the rate join back to the corpus must broadcast.
    val p = plan("cur_temp_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"rates table must broadcast onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never co-shuffle against the rates:\n$p")
  }

  test("tf-idf top-k windows per document, df join keyed on term") {
    val p = physical("text_tfidf")
    assert(p.contains("hashpartitioning(doc_id"),
      s"top-k window must partition by document:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the one-row N join may cross:\n$p")
  }

  test("token packing windows per shard, not globally") {
    val p = physical("cur_pack")
    assert(p.contains("hashpartitioning(lang"),
      s"pack window must hash-partition on the shard key:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no single-partition stage in the packing plan:\n$p")
  }

  test("q6: every predicate pushes to the parquet scan, one-row agg") {
    val p = plan("q6_filter_agg")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(f), s"expected $f pushed to scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"),
      s"untouched columns must be pruned:\n$readSchema")
  }

  test("q5: dims broadcast; only the fact-fact join may exchange") {
    val p = plan("q5_region_join")
    assert(countOcc(p, "BroadcastHashJoin") >= 4,
      s"customer/supplier/nation/region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross join:\n$p")
    // lineitem ⋈ orders may shuffle (both fact-sized at real scale);
    // everything else must not add exchanges beyond agg + oracle sort
    assert(shuffles(p) <= 4, s"too many exchanges:\n$p")
  }

  test("rolling stats: one keyed shuffle, no self-join, no global window") {
    // allowed: the key hash exchange + the oracle sort's range exchange
    val p = plan("ts_rolling")
    assert(shuffles(p) <= 2, s"rolling frame must be one keyed pass:\n$p")
    val phys = physical("ts_rolling")
    assert(phys.contains("hashpartitioning(user_id"),
      s"frame must partition by the series key:\n$phys")
    assert(!phys.contains("SortMergeJoin") && !phys.contains("CartesianProduct"),
      s"never a range self-join:\n$phys")
  }

  test("prefix jaccard join: candidates from key equi-joins, never a cross join") {
    val p = plansRun(SparkEntry.queries("dedup_prefix")(spark, dir))
    assert(p.contains("Join"), s"the call's candidate join must show:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering must never go quadratic:\n$p")
  }

  test("bucketed join: co-located, no exchange on the join keys") {
    // both sides are written bucketBy(8, orderkey), so the hinted
    // sort-merge join must consume bucket-aligned scans directly —
    // any Exchange on an orderkey means the layout was ignored and a
    // 100 TB join would re-shuffle both facts
    val p = physical("s14_bucket_join")
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
      !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not shuffle the facts:\n$p")
  }

  test("q17: the per-part aggregate broadcasts back onto the fact") {
    val p = plan("q17_small_qty")
    assert(p.contains("BroadcastHashJoin"),
      s"decorrelated subquery must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross join:\n$p")
  }

  test("kmv sketch: partial-aggregates map-side before the group exchange") {
    // ObjectHashAggregate partial → exchange on group key → final:
    // the shuffle carries ≤k hashes per (group, partition), never rows
    val phys = physical("sketch_kmv")
    assert(phys.contains("hashpartitioning(event_type"),
      s"sketch merge must exchange on the group key:\n$phys")
    assert(countOcc(phys, "ObjectHashAggregate") >= 2,
      s"bottom-k must partial-aggregate before the shuffle:\n$phys")
  }

  test("scd2: change-detect lag and interval-close lead share ONE keyed exchange") {
    // scan → exchange(user_id) → Window(lag) → filter → Window(lead):
    // the only other exchange allowed is the output orderBy's range
    val p = plan("ts_scd2")
    assert(shuffles(p) <= 2, s"scd2 must not re-shuffle between frames:\n$p")
    assert(countOcc(p, "Window") >= 2, s"lag + lead stages expected:\n$p")
  }

  test("cusum: all five window stages ride one keyed exchange, no self-join") {
    val p = plan("ts_cusum")
    assert(shuffles(p) <= 2,
      s"chained running frames must share the exchange:\n$p")
    assert(!p.contains("Join"), s"the closed form needs no self-join:\n$p")
  }

  test("heavy hitters: top-k is TakeOrderedAndProject, never a global sort") {
    val phys = physical("text_heavy_hitters")
    assert(phys.contains("TakeOrderedAndProject"),
      s"top-k must not materialize a global sort:\n$phys")
  }

  test("perplexity: the LM broadcasts onto the gram stream, never sort-merges") {
    // the corpus-sized side is the per-doc gram counts; the model is
    // vocabulary-sized and must come in as a broadcast — a sort-merge
    // here would co-shuffle the whole corpus by bigram at 100 TB
    val p = plan("text_perplexity")
    assert(p.contains("BroadcastHashJoin"), s"model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"gram stream must not co-shuffle with the model:\n$p")
  }

  test("chunking is a pure scan-bound map: no exchange except the oracle sort") {
    val p = plan("text_chunks")
    assert(shuffles(p) <= 1, s"chunking must not shuffle:\n$p")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
  }

  test("semdedup: the pair join is cell-keyed, never all-pairs") {
    val p = plan("dedup_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell join must be an equi-join on cell:\n$p")
  }

  test("sharded semdedup: assignment and pairs stay shard-keyed, never all-pairs") {
    // the joined Lloyd's assignment is an equi-join on the shard key
    // and the pair stage an equi-join on (shard, cell) — a cartesian
    // anywhere here is the quadratic failure the hierarchy exists to
    // prevent
    Seq("dedup_semdedup_sharded", "dedup_semdedup_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay keyed:\n$p")
    }
  }

  test("prefix join: candidate generation is token/group-keyed, never cartesian") {
    val p = plansRun(SparkEntry.queries("dedup_prefix")(spark, dir))
    assert(p.contains("Join"), s"the call's candidate join must show:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix candidates must come from equi-joins:\n$p")
  }

  test("pq encoding is one scan-bound projection: no shuffle but the oracle sort") {
    // all m codebooks are plan literals; codes + reconstruction error
    // must come out of a single pass with no exchange of the corpus
    val p = plan("embed_pq")
    assert(shuffles(p) <= 1, s"PQ encoding must not shuffle:\n$p")
    assert(!p.contains("Join"), s"PQ encoding must not join:\n$p")
  }

  test("audio analysis: decoded samples aggregate with one keyed exchange") {
    val p = plan("mm_audio_stats")
    assert(shuffles(p) <= 2,
      s"posexplode + (doc, window) agg must share one exchange (+ sort):\n$p")
    assert(!p.contains("Join"), s"no join in the sample path:\n$p")
  }

  test("kmeans: centroids ride as literals; only catalog-sized joins, no cartesian") {
    // assignment must be a scan-bound map (centroids inlined by the
    // driver loop), the count join broadcast, and nothing cross-joined
    val p = plan("embed_kmeans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cross join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"count join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"catalog joins must not sort-merge:\n$p")
  }

  test("grouped top-k: bounded-heap aggregate, never a window sort") {
    // the whole point of Grouped.topKPerGroup — the shuffle carries
    // <= k rows per group per partition via partial ObjectHashAggregate;
    // a Window operator here would mean the full table got sorted
    val p = plan("grouped_topk")
    assert(!p.contains("Window"), s"top-k must not window-sort:\n$p")
    assert(p.contains("ObjectHashAggregate") &&
      p.contains("partial_topkagg"), s"heap must partial-aggregate:\n$p")
  }

  test("cms point queries broadcast the cell table, never shuffle the keys") {
    val p = plan("sketch_cms")
    assert(p.contains("BroadcastHashJoin"),
      s"d*w cells must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cross join:\n$p")
  }

  test("bpe encode: merges are plan literals — no join anywhere") {
    val p = plan("text_bpe_encode")
    assert(!p.contains("Join"), s"encode must not join the merge table:\n$p")
    assert(shuffles(p) <= 2,
      s"one doc-keyed agg (+ oracle sort) only:\n$p")
  }

  test("rouge folds both gram streams in one keyed aggregate, no join") {
    // union + side tag + conditional sums: the per-gram counts of the
    // candidate and reference streams must come from ONE aggregate,
    // not a join of two — allowed exchanges: (id, gram) agg, id agg,
    // oracle sort
    val p = plan("text_rouge")
    assert(!p.contains("Join"), s"no join of two gram aggregates:\n$p")
    assert(shuffles(p) <= 3, s"two keyed aggs + oracle sort only:\n$p")
  }

  test("pagerank edge build is one pass: one exchange, upstream scanned once") {
    // Both PageRank variants build the degree-annotated symmetric edge
    // table via a two-struct explode + whole-partition window count.
    // Invariants locked: (1) the upstream projection appears ONCE in
    // the physical plan (the union-of-two-reads form it replaced
    // evaluated it twice, forcing a persisted base copy); (2) exactly
    // one shuffle exchange — the window's count rides the repartition
    // the iteration joins want, with no separate degree aggregate +
    // join pair.
    val edges = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("a"),
        org.apache.spark.sql.functions.col("l_suppkey").as("b"))
      .distinct()
    val p = pipeline.Graph.symmetrizedWithDegree(edges, "a", "b")
      .queryExecution.explainString(FormattedMode)
    // FormattedMode repeats each node in the detail section — count
    // scan DETAILS (one Location line per physical scan)
    assert(countOcc(p, "Location: InMemoryFileIndex") == 1,
      s"upstream must be evaluated exactly once:\n$p")
    // the upstream distinct's own exchange + the pinned repartition;
    // the window must NOT add a third (no degree aggregate + join)
    assert(shuffles(p) == 2,
      s"degree must ride the repartition exchange:\n$p")
    assert(countOcc(p, "Window (") == 1 && countOcc(p, "Generate (") == 1,
      s"one generator pass + window degree:\n$p")
    assert(!p.contains("Join"), s"no degree join:\n$p")
  }

  test("pagerank: keyed joins and one-row broadcasts only, no cartesian") {
    val p = physical("graph_pagerank")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // every N reference is a broadcast one-row; rank/edge joins are
    // equi-joins (hash or sort-merge, both keyed)
    assert(countOcc(p, "BroadcastNestedLoopJoin") <= 6,
      s"only the one-row N broadcasts (init + 5 iterations):\n$p")
  }

  test("bm25: df broadcasts; no corpus self-join, no cartesian") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastHashJoin"), s"df table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("inverted index: postings window is token-keyed, never global") {
    val p = physical("text_inverted_index")
    val globalWindow = p.linesIterator.exists(l =>
      l.contains("Window [") && !l.contains("windowspecdefinition(token"))
    assert(!globalWindow, s"posting cap must partition by token:\n$p")
  }

  test("cdc apply folds as one keyed aggregate, never a log-wide window sort") {
    val p = plan("cdc_apply")
    assert(!p.contains("Window"), s"last-writer must not window-sort:\n$p")
    assert(shuffles(p) <= 2, s"one keyed agg (+ oracle sort):\n$p")
  }

  test("table diff joins hashes co-partitioned; payloads never move") {
    val p = plan("cur_table_diff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"keyed join only:\n$p")
    // each side reduces to (key, md5) BEFORE the join: the join's
    // output columns must not include text/lang/source payloads
    assert(p.contains("FullOuter"), s"full-outer reconciliation:\n$p")
  }

  test("q4: EXISTS runs as a LEFT SEMI join, not an aggregate-distinct") {
    val p = plan("q4_semi")
    assert(p.contains("LeftSemi"), s"semi join expected:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("grouped quantiles: bounds broadcast; no data-sized cartesian") {
    val p = plan("sketch_quantile_grouped")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-group bounds must broadcast onto the values:\n$p")
  }

  test("dpp join: the fact scan carries a dynamicpruning subquery") {
    // the dim (top purchase days) exists only at runtime, so only
    // DYNAMIC partition pruning can cut the fact scan to 5 of ~30 day
    // partitions — the plan must show the injected pruning subquery on
    // the partition column, not a full scan followed by a join filter
    val p = plan("s15_dpp_join")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must be dynamically pruned:\n$p")
    assert(!p.contains("CartesianProduct"), s"keyed join only:\n$p")
  }

  test("triangle count: oriented self-joins stay keyed, never cartesian") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge + closing joins must be equi-joins:\n$p")
  }

  test("dsir: the 256-bucket LLR table broadcasts onto the doc stream") {
    // the corpus-sized side is the per-doc bucket counts; the two
    // distributions and their LLR table are ≤256 rows and must attach
    // as a broadcast — a sort-merge would co-shuffle the whole corpus
    // by bucket id (max 256 keys: catastrophic skew at 100 TB)
    val p = plan("cur_dsir")
    assert(p.contains("BroadcastHashJoin"), s"LLR must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"doc buckets must not co-shuffle with the LLR table:\n$p")
  }

  test("er blocking: block-key equi-join only, no cross product") {
    val p = plan("er_match")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocked compare must be a block-key equi-join:\n$p")
  }

  test("keep-best canonical: per-cluster window, never a global sort") {
    // the winner-pick window partitions by cluster id; a plan that
    // sorted all docs in one partition would be the W1 scale-killer
    val p = plan("dedup_keep_best")
    assert(!p.contains("SinglePartition"),
      s"per-cluster row_number must not gather to one partition:\n$p")
  }

  test("top duplicated spans: ordered top-k runs as TakeOrderedAndProject") {
    // the report must never materialize a global sort of all spans —
    // per-partition heaps feed the driver k rows each
    val p = physical("dedup_top_spans")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not Sort+Limit:\n$p")
  }

  test("passage strip: hash-keyed equi-joins only; merge window is per-doc") {
    // occurrences ⋈ duplicated-spans is an equi-join on the span hash
    // and the interval-merge window partitions by doc id — a cartesian
    // or single-partition window here is the 100 TB failure mode
    val p = plan("dedup_strip_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"span probe must stay a hash equi-join:\n$p")
    assert(!p.contains("SinglePartition"),
      s"interval merge must not gather to one partition:\n$p")
  }

  test("no registered query plans a data-sized single-partition window " +
      "(unpartitioned WindowExec only over catalog-sized inputs)") {
    // r14's bench tail was a wall of `WindowExec: No Partition Defined`
    // warnings from the two KNOWN catalog-sized windows (QcWindows.scala:87
    // — running-sum offsets over per-partition counts; QcWindows.scala:157
    // — dense_rank over the window catalog) — noise that would mask a
    // future REAL unpartitioned window over data (r14 verdict task 3).
    // Lock the invariant structurally across EVERY registered query:
    // a WindowExec with an empty partitionSpec must sit above an
    // aggregate (catalog-sized by construction — thousands of groups,
    // not rows) or a driver-local table; anything else moves the whole
    // dataset to one partition, the canonical 100 TB sort killer.
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // "catalog-sized": an aggregate below the window caps its input at
    // group-count rows; a ReusedExchangeExec is a LEAF that hides the
    // original exchange's subtree, so follow its reference explicitly
    // (cur_mix_report's target_q branch reuses the stratum aggregate's
    // exchange); a LocalTableScan is a driver-literal table
    def catalogSized(p: SparkPlan): Boolean = p.find {
      case _: BaseAggregateExec | _: LocalTableScanExec => true
      case r: ReusedExchangeExec => catalogSized(r.child)
      case _ => false
    }.isDefined
    // The static check alone is too lenient: ANY aggregate below the
    // window passes it, including a data-sized group-per-row
    // groupBy(unique_key) — exactly the regression class this sweep
    // claims to lock. So an aggregate-backed unpartitioned window must
    // ALSO prove small at runtime: its child may produce at most
    // CatalogBound rows at the smoke scale (the known catalogs are
    // ≤64-row bucket counts and ~30-row window catalogs; the smallest
    // data table is 1,000 rows, so the bound separates cleanly).
    // Reused-exchange subtrees may not execute standalone outside
    // their full query — fall back to the static verdict there.
    val CatalogBound = 500
    def smallAtRuntime(w: WindowExec): Boolean =
      scala.util.Try(
        w.child.executeTake(CatalogBound + 1).length <= CatalogBound
      ).getOrElse(catalogSized(w.child))
    // streaming queries drain a real stream per call (slow, and their
    // batch-side plans are covered by their own specs); AQE is off so
    // executedPlan is the raw traversable tree, not an adaptive shell
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val failed = Seq.newBuilder[String]
      val offenders = SparkEntry.queries.keys.toSeq.sorted
        .filterNot(_.startsWith("stream_"))
        .flatMap { name =>
          scala.util.Try(
            SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
          ) match {
            case scala.util.Failure(e) =>
              // a query that can't even BUILD at the smoke scale must
              // fail the sweep loudly, not silently shrink its coverage
              failed += s"$name: ${e.getMessage}"
              Nil
            case scala.util.Success(plan) =>
              plan.collect {
                case w: WindowExec if w.partitionSpec.isEmpty &&
                    !(catalogSized(w.child) && smallAtRuntime(w)) =>
                  s"$name: ${w.simpleString(120)}"
              }
          }
        }
      val builtFailures = failed.result()
      assert(builtFailures.isEmpty,
        s"queries failed to plan at sf0.001 (sweep coverage hole):\n${
          builtFailures.mkString("\n")}")
      assert(offenders.isEmpty,
        s"unpartitioned data-sized WindowExec found:\n${offenders.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.catalog.clearCache()
    }
  }

  test("bench timing action executes the plan AS WRITTEN: final " +
      "projection and sort survive; count() pruned both") {
    // The r13 verdict's headline defect: Bench timed `df.count()`,
    // under which ColumnPruning discards every final projection
    // expression and EliminateSorts drops the output orderBy — the
    // map-only expression family's floors were a bare scan band
    // (text_fingerprint's FNV fold at 0.079 s ≡ text_tokens ≡ a scan)
    // and a codegen break in any projection Expr was invisible to the
    // whole perf protocol. Bench.exec runs queryExecution.toRdd — the
    // plan of the query itself. Lock BOTH directions: the action's
    // plan keeps the work, and the old action's plan provably didn't
    // (so this test fails loudly if a Spark upgrade changes either).
    import org.apache.spark.sql.functions.{col, sha2}
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .orderBy(col("fp"))
    val asWritten = df.queryExecution.explainString(FormattedMode)
    assert(asWritten.contains("Sort ("),
      s"the output sort must be in the timed plan:\n$asWritten")
    assert(asWritten.contains("sha2("),
      s"the projection expression must be in the timed plan:\n$asWritten")
    val counted = df.groupBy().count().queryExecution
      .explainString(FormattedMode)
    assert(!counted.contains("Sort (") && !counted.contains("sha2("),
      s"count() really does prune projection+sort (else the old action " +
        s"was fine and this lock is stale):\n$counted")
    // and the action itself: executes without collecting, row count
    // matches the query's own cardinality
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(Bench.exec(df) == n)
  }

  test("bench map-only floors rank by expression cost under the full-" +
      "plan action (scan-band fiction is gone)") {
    // Under count(), text_fingerprint (full-text FNV fold) timed
    // byte-identical to a bare scan. Under exec, its plan must retain
    // the fold. Cheap structural check, not a timing assertion: the
    // fingerprint expression appears in the executed plan.
    val p = plan("text_fingerprint")
    assert(p.toLowerCase.contains("fnv") || p.contains("aggregate("),
      s"the fingerprint fold must be in the timed plan:\n$p")
  }
}
