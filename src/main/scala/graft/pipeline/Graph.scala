package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge LISTS (never adjacency
  * matrices): the companion to [[Dedup.nearDupClusters]]'
  * label propagation. Every iteration is keyed joins + keyed
  * aggregates on the edge table — the Pregel-on-DataFrames shape
  * that holds at any scale because nothing is ever collected and
  * nothing is quadratic in nodes.
  */
object Graph {

  /** PageRank over an undirected edge list, fully deterministic
    * (cross-engine replayable, like [[Vec.kmeansCentroids]]):
    *  - edges are symmetrized (callers pass each undirected edge once;
    *    parallel edges act as weights);
    *  - init: every node gets `round(1/N, roundDp)`;
    *  - step: `r' = round(teleport/N + damping · Σ_{u→v} r(u)/deg(u),
    *    roundDp)` — the per-iteration rounding kills cross-engine ulp
    *    drift in the sums (the k-means recipe), and makes every
    *    lineage cut bit-exact;
    *  - no dangling mass: in a symmetrized graph every node has
    *    degree ≥ 1.
    * `teleport` is a separate EXACT literal (not computed as
    * `1 − damping`, whose double differs from the SQL literal `0.15`
    * an oracle would write). An empty edge list gives an empty result;
    * a lone self-loop gives its node rank 1.0.
    *
    * Scale shape: the degree-annotated edge table is staged once as
    * row blocks (every iteration re-reads all three of its columns);
    * each iteration is one join against the node-sized rank table —
    * broadcast while [[Fixpoint.broadcastIfFits]] allows — plus one
    * dst-keyed sum with map-side combine. Work per iteration is
    * O(|edges|); nothing node-quadratic, nothing driver-sized. The
    * result is eager, so every staged block is released on return. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      damping: Double = 0.85, teleport: Double = 0.15,
      roundDp: Int = 6): DataFrame = {
    require(iters >= 1, "pageRank: iters >= 1")
    Fixpoint.scoped { blocks =>
      val (edged, _) = blocks.stage(symmetrizedWithDegree(edges, srcCol, dstCol))
      // driver-sized by construction: one long, folded into the plan as
      // a literal (an in-plan subquery would re-derive the edge source
      // every iteration); the Scala divisions are the same IEEE ones
      val n = edged.select(col("src")).distinct().count()
      val init = edged.select(col("src").as("node")).distinct()
        .select(col("node"), round(lit(1.0 / n), roundDp).as("r"))
      val ranks = Fixpoint.iterate(blocks, init, iters) { ranks =>
        edged.join(Fixpoint.broadcastIfFits(ranks, n), edged("src") === ranks("node"))
          .groupBy(col("dst"))
          .agg(sum(col("r") / col("__deg")).as("__s"))
          .select(col("dst").as("node"),
            round(lit(teleport / n) + lit(damping) * col("__s"), roundDp).as("r"))
      }
      Fixpoint.materialize(ranks)
    }
  }

  /** Both orientations of `edges` in ONE pass over the input: the
    * two-struct explode emits (src,dst) and (dst,src) from a single
    * evaluation of the upstream plan, where a `base ∪ base.swap` union
    * references the (possibly expensive) upstream projection twice
    * and relies on exchange reuse to dedupe it. */
  private[graft] def symmetrized(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** [[symmetrized]] with each row's source degree attached:
    * `count() OVER (PARTITION BY src)` rides the repartition exchange
    * the iteration joins want anyway — no degree aggregate, no degree
    * join. The explicit `repartition(src)` (not the window's implicit
    * exchange) pins the layout so AQE cannot coalesce a small staged
    * table to 1-2 partitions (near-serial iteration joins otherwise).
    * A window over narrow rows, not an adjacency-list aggregate: a
    * hub's neighbor array in one row is a skewed-graph OOM, where the
    * window sort spills. */
  private[graft] def symmetrizedWithDegree(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    symmetrized(edges, srcCol, dstCol)
      .repartition(col("src"))
      .withColumn("__deg", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))))

  /** Personalized PageRank: teleport mass returns ONLY to the seed
    * set — the trust/quality-propagation variant (score every node by
    * proximity to a trusted seed set; the classic curation move for
    * domain quality). Same determinism contract as [[pageRank]]
    * (symmetrized edges, per-iteration 6-dp rounding, exact teleport
    * literal), but the rank table stays SPARSE: nodes the seeds
    * haven't reached yet have no row at all, so early iterations
    * touch only the seed neighborhood — at 100 TB a 100-seed query
    * costs edge-traversals proportional to the reached frontier, not
    * the graph.
    *
    * init: `round(1/|S|, dp)` on each seed; step:
    * `r'(v) = round(teleport/|S|·[v ∈ S] + damping·Σ_{u→v} r(u)/deg(u), dp)`.
    * Returns `(node, r)` for every reached node: with no edges, the
    * seeds alone at `round(teleport/|S|, dp)`. No seeds is an error. */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iters: Int,
      damping: Double = 0.85, teleport: Double = 0.15,
      roundDp: Int = 6): DataFrame = {
    require(iters >= 1, "personalizedPageRank: iters >= 1")
    Fixpoint.scoped { blocks =>
      // COLUMNAR, unlike pageRank's row blocks: the seed-sparse
      // workload runs on small projections, where the InMemoryRelation's
      // real size statistics let the planner pick the join strategy
      // (LogicalRDD has none). Filled before the loop, so the
      // multi-iteration job cannot race its own stages into an
      // unpopulated cache.
      val edged = blocks.stageColumnar(symmetrizedWithDegree(edges, srcCol, dstCol))
      edged.count()
      // one staged seed set backs the count, the teleport rows and the
      // rank init alike
      val (seedSet, _) =
        blocks.stage(seeds.select(col(seedCol).as("node")).distinct())
      val m = seedSet.count() // driver-sized by construction: one long
      require(m >= 1, "personalizedPageRank: at least one seed")
      // Teleport mass folds into each round's aggregate as union rows
      // (__s=0, __t=teleport/m) instead of a full outer join against a
      // teleport table, which cannot broadcast. Value-exact: sum(__t)
      // is teleport/m for seeds and 0.0 otherwise, sum(__s) gains only
      // exact zeros, and `damping` multiplies outside the sum, as the
      // oracle's FULL JOIN form does.
      val tele = seedSet
        .select(col("node"), lit(0.0).as("__s"), lit(teleport / m).as("__t"))
      val init = seedSet
        .select(col("node"), round(lit(1.0) / m, roundDp).as("r"))
      Fixpoint.materialize(Fixpoint.iterate(blocks, init, iters) { ranks =>
        edged.join(ranks, edged("src") === ranks("node"))
          .select(col("dst").as("node"),
            (col("r") / col("__deg")).as("__s"), lit(0.0).as("__t"))
          .unionByName(tele)
          .groupBy(col("node"))
          .agg(round(sum(col("__t")) +
            lit(damping) * sum(col("__s")), roundDp).as("r"))
      })
    }
  }

  /** Per-node triangle counts over an undirected edge list, exact.
    *
    * Scale shape: the degree-ordered orientation bound. Each edge is
    * directed from its lower-(degree, id) endpoint to the higher one,
    * so every triangle is enumerated exactly once, at its
    * lowest-degree corner. Wedge generation is then a self-join on
    * the oriented source whose fan-out per node is the ORIENTED
    * out-degree — O(√m) worst case even for a star hub — giving the
    * classic O(m^1.5) total instead of the O(Σ deg²) a naive
    * neighbor-pair join pays on skewed graphs. Closing the wedge is
    * one more equi-join against the oriented edge table. Everything
    * is keyed joins + keyed counts; nothing is collected.
    *
    * Returns `(node, triangles)` for every node of the graph
    * (0 for triangle-free nodes). Self-loops and duplicate/reverse
    * edges are dropped first. */
  def triangleCount(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edge set: unordered pair kept once
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val und = canon.union(canon.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // orient each edge from the endpoint with the smaller (deg, id)
    // key to the larger — deterministic total order, no RNG
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges at the lowest-degree corner: (u → v1, u → v2), v1 < v2 in
    // the SAME orientation key order so the closing edge, if present,
    // is exactly (v1 → v2) in `oriented`
    val o2 = oriented.select(col("u").as("u2"), col("v").as("w"))
    val keyed = oriented
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val k2 = keyed.select(col("u").as("u2"), col("v").as("w"),
      col("dv").as("dw"))
    val wedges = keyed.join(k2, col("u") === col("u2"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    val tris = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    // each triangle credits all three corners
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.select(col("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Minimum hop distance from a seed set, breadth-first, capped at
    * `maxHops`. Returns `(node, hops)` for every node reached within
    * the cap (seeds at 0); unreached nodes are absent, so an empty edge
    * list returns the seeds alone.
    *
    * Scale shape: per hop one frontier⋈edges keyed join + one
    * min-aggregate over (known ∪ expanded) — O(|edges touched|)
    * shuffled bytes per hop, nothing driver-sized, lineage cut every
    * [[Fixpoint.LineageCap]] hops. The min-agg formulation (rather
    * than anti-join frontiers) keeps the plan a pure join+agg pipeline
    * Catalyst can pick hash strategies for; results are identical.
    * The edge table is NOT staged: the frontier side is node-sized
    * every hop, so AQE broadcast-joins it and the edges never shuffle.
    * The result is lazy; its last cut stays with it. */
  def bfsHops(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "bfsHops: maxHops >= 0")
    val und = symmetrized(edges, srcCol, dstCol)
    val init = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0L).as("hops"))
    Fixpoint.scoped { blocks =>
      Fixpoint.iterate(blocks, init, maxHops) { known =>
        val expanded = und.join(known, und("src") === known("node"))
          .select(und("dst").as("node"), (col("hops") + 1L).as("hops"))
        known.union(expanded)
          .groupBy(col("node")).agg(min(col("hops")).as("hops"))
      }
    }
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * — the standard "dense backbone" extraction (spam-farm detection,
    * community cores, graph sparsification before expensive
    * analytics). Computed by synchronous peeling: each round drops
    * every node whose degree IN THE CURRENT SUBGRAPH is < k, until
    * fixpoint. Peeling is run for a FIXED `rounds` count (no
    * driver-side convergence poll), which keeps the computation
    * engine-replayable round for round; convergence at a given scale
    * is a testable property (round r+1 output == round r), not a
    * runtime branch.
    *
    * Scale shape: each round is one keyed degree count + two
    * left-semi joins against the (only ever shrinking) edge set —
    * O(|edges|) shuffled bytes per round, no windows, nothing
    * driver-sized. The surviving edge set is staged every round,
    * Pregel-superstep style, because each round reads the previous
    * edge set three times (the degree count plus two semi joins): an
    * unmaterialized chain re-executes the upstream derivation
    * ~3^rounds times. Self-loops are dropped, so a lone self-loop (or
    * an empty edge list) yields an empty core.
    *
    * Returns `(node, deg)`: the surviving nodes with their degree
    * inside the surviving subgraph (≥ k at fixpoint). */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, "kCore: k >= 1")
    require(rounds >= 1, "kCore: rounds >= 1")
    def und(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))
    Fixpoint.scoped { blocks =>
      // canonical undirected simple edges: unordered pair once, no loops
      val (canon, _) = blocks.stage(edges
        .select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
      val core = Fixpoint.iterate(blocks, canon, rounds, everyRound = true) { canon =>
        val keep = und(canon).groupBy(col("a").as("node"))
          .agg(count(lit(1)).as("__deg"))
          .filter(col("__deg") >= k)
          .select(col("node"))
        canon
          .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      }
      Fixpoint.materialize(und(core).groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("deg")))
    }
  }

  /** HITS hubs & authorities over a DIRECTED edge list (Kleinberg),
    * sum-normalized and deterministic one notch PAST [[pageRank]]:
    * scores live as INTEGER micro-units (×10^roundDp longs), so the
    * mutual-reinforcement sums are exact in any order and the L1
    * normalization `floor(raw/total · 10^roundDp + 0.5)` is the only
    * quantization — both engines compute it on the same double, so
    * there is no round(double, dp) half-ulp tie class at all. On a
    * bipartite src→dst graph (customers → suppliers) hubs score the
    * left side and authorities the right — the classic
    * co-click/co-purchase importance split.
    *
    * Edge multiplicity is IGNORED: parallel edges collapse via
    * `distinct()` (unlike [[pageRank]], where they act as weights) —
    * mutual reinforcement counts distinct endorsements once.
    *
    * `roundDp` sizing: quantizing AFTER the L1 divide means a side
    * with ≳ 10^roundDp nodes of near-uniform score quantizes to 0 and
    * the next total would be 0; the division is guarded (`__tot = 0`
    * keeps the raw sums for that round rather than emitting NaN). At
    * web scale raise roundDp with the population (1e9 nodes →
    * roundDp ≥ 12) — ANSI overflow headroom allows it up to
    * |edges|·10^roundDp < 2^63.
    *
    * Scale shape: per iteration two join+sum passes over the
    * row-block-staged edge list; the node-sized score table is
    * broadcast while [[Fixpoint.broadcastIfFits]] allows, so the edge
    * list never shuffles and partial sums combine map-side, and above
    * the gate both sides shuffle into a sort-merge join — more wire
    * traffic, same integers. Each raw score table is staged before
    * normalizing (the L1 step reads it twice: total + divide), and the
    * L1 total + node count ride that same staging job as observed
    * metrics — exact integer sums, no extra driver round-trip
    * (GraphSpec pins the job count). The per-half-iteration write is
    * node-sized, so every one is staged.
    *
    * Returns `(node, side, score)` with side ∈ {'hub','auth'}; empty
    * for an empty edge list. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      roundDp: Int = 6): DataFrame = {
    require(iters >= 1, "hits: iters >= 1")
    require(roundDp >= 1 && roundDp <= 15, "hits: roundDp in [1,15]")
    // Overflow headroom under ANSI: Σ ≤ |edges|·10^roundDp, so dp=6 is
    // safe to ~9×10^12 edges — lower roundDp past that.
    val scale = math.pow(10, roundDp).toLong
    Fixpoint.scoped { blocks =>
      // plain distinct, deliberately NOT pre-repartitioned by dst: the
      // map-side partial dedup inside distinct shuffles only deduped
      // rows, where a repartition(dst) head would move every raw edge
      val (e, _) = blocks.stage(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
      // one half-iteration: the staged raw sums, their L1-normalized
      // scores and the node count
      case class Side(raw: DataFrame, scores: DataFrame, n: Long)
      def half(agg: DataFrame, c: String, superseded: Option[Side]): Side = {
        val (raw, m) = blocks.stage(agg, sum(col(c)), count(lit(1)))
        // the superseded table's last reader has materialized by now
        superseded.foreach(s => blocks.release(s.raw))
        val tot = if (m.isNullAt(0)) 0L else m.getLong(0)
        Side(raw,
          if (tot == 0L) raw
          else raw.select(col("node"), floor(col(c) / lit(tot) * scale + 0.5).as(c)),
          m.getLong(1))
      }
      def joined(s: Side, key: String): DataFrame =
        e.join(Fixpoint.broadcastIfFits(s.scores, s.n), e(key) === s.scores("node"))
      def hubsOf(auths: Side, superseded: Option[Side]): Side =
        half(joined(auths, "dst").groupBy(col("src").as("node"))
          .agg(sum(col("a")).as("h")), "h", superseded)
      // first pass: Σ over a CONSTANT init score is exactly
      // scale·indegree in integer space — a plain count agg, no init
      // table, no join, bit-identical to the join form
      val auths1 = half(e.groupBy(col("dst").as("node"))
        .agg((count(lit(1)) * scale).as("a")), "a", None)
      val (hubs, auths) = (2 to iters).foldLeft((hubsOf(auths1, None), auths1)) {
        case ((hubs, auths), _) =>
          val next = half(joined(hubs, "src").groupBy(col("dst").as("node"))
            .agg(sum(col("h")).as("a")), "a", Some(auths))
          (hubsOf(next, Some(hubs)), next)
      }
      // micro-units → score doubles only at the edge of the loop
      Fixpoint.materialize(
        hubs.scores.select(col("node"), lit("hub").as("side"),
            (col("h") / scale.toDouble).as("score"))
          .union(auths.scores.select(col("node"), lit("auth").as("side"),
            (col("a") / scale.toDouble).as("score"))))
    }
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the O(log n)-round web-scale
    * alternative to min-label propagation:
    * [[graft.pipeline.Dedup.nearDupClusters]] needs O(diameter)
    * rounds, which is fine for shallow near-dup graphs but is the
    * known failure mode on long-chain graphs (a 10^6-node path =
    * 10^6 rounds); star contraction halves tree heights every
    * alternation regardless of diameter.
    *
    * Per round: large-star re-points every LARGER neighbor of u at
    * u's neighborhood minimum, small-star re-points u and its
    * smaller neighbors at their minimum — each one keyed aggregate
    * (map-side combined min) plus one keyed join, nothing all-pairs.
    * Both operators provably preserve components, and the fixpoint
    * is a star forest rooted at each component's MINIMUM id, so the
    * output contract is identical to `nearDupClusters` (id →
    * min-of-component) and any CC oracle checks both. Fully
    * deterministic: set-valued rounds, no RNG, no order dependence.
    *
    * Convergence is detected by an EXACT structural test, not a
    * hash signature: both star operations preserve components and
    * each component's minimum, so the state is final exactly when the
    * edge set is a star forest whose roots are never children — no
    * head id repeats and no id appears as both head and tail. The test
    * is one keyed aggregate whose scan of the round's edges also fills
    * the round's lazily staged blocks (one job both caches the round
    * and decides convergence), with no collision probability, and it
    * recognizes the star forest at the end of the round that builds
    * it. Each round is cut and releases the round it supersedes;
    * `maxRounds` bounds the pathological case and throws rather than
    * return half-contracted labels. The PROVEN worst-case round bound
    * for alternating large-star/small-star is O(log² n), not
    * O(log n) — typical graphs converge in ~log n rounds (default 30
    * covers n ≈ 2³⁰ of those), but an adversarial long-chain graph can
    * need the superlogarithmic bound: raise `maxRounds` there.
    *
    * @return (id, cluster) — one row per node in `edges`, cluster =
    *         min id of its component (a self-loop's node labels
    *         itself); lazy, its node catalog and last round stay with
    *         it. */
  def connectedComponentsStar(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, "connectedComponentsStar: maxRounds >= 1")
    // e is a min-rooted star forest iff no head repeats and no id is
    // both head and tail: explode(head-row, tail-row) is ONE scan of
    // the round's edges (a union of both orientations would scan the
    // not-yet-filled cut twice), then a keyed aggregate looking for a
    // violation
    def isStarForest(e: DataFrame): Boolean =
      e.select(explode(array(
          struct(col("u").as("id"), lit(1).as("__h")),
          struct(col("v").as("id"), lit(0).as("__h")))).as("__x"))
        .groupBy(col("__x.id").as("id"))
        .agg(sum(col("__x.__h")).as("__nh"), min(col("__x.__h")).as("__mn"))
        .filter(col("__nh") > 1 || (col("__nh") >= 1 && col("__mn") === 0))
        .isEmpty
    Fixpoint.scoped { blocks =>
      // The INPUT is scanned exactly once: `pairs` is staged columnar,
      // the node catalog fills it, round 0 reads the SAME cache
      // directly (the initial canonical edge set is never separately
      // materialized: round 0's own `distinct`s already dedup), and the
      // cache is released as soon as the first contracted round exists.
      val pairs = blocks.stageColumnar(edges.select(
        col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b")))
      val nodes = blocks.stageLazy(pairs.select(col("a").as("id"))
        .unionByName(pairs.select(col("b").as("id"))).distinct())
      nodes.count()
      // canonical directed form: (u, v) with u > v — a lazy view over
      // the cached pairs for round 0; contracted rounds replace it
      var e = pairs.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
      var converged = false
      var r = 0
      while (!converged && r < maxRounds) {
        // LARGE-STAR: m(u) = min(Γ(u) ∪ {u}); every neighbor v > u
        // re-points at m(u). Output stays canonical: v > u ≥ m.
        val nb = e.select(col("u"), col("v"))
          .unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val lsMin = nb.groupBy(col("u")).agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m"))
        // ls feeds both the small-star min and its re-point join. A
        // LAZY columnar stage is safe: ssMin's aggregate must complete before
        // the re-point probe stage starts (its result is the join's
        // build side), so the aggregate fills the blocks and the probe
        // reads them cached. Released as soon as the round's edges
        // materialize.
        //
        // Pinned hash layout on the NEW head key before the dedup: the
        // re-point select renames v→u, and every small-star consumer
        // keys on the new u, so one explicit exchange here makes the
        // distinct, the small-star min AND the re-point join
        // exchange-free (the cut preserves the layout).
        val ls = blocks.stageColumnar(nb.join(lsMin, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .repartition(col("u"))
          .distinct())
        // SMALL-STAR on the directed result: m = min of u's smaller
        // neighbors; they and u re-point at m. Outputs stay canonical.
        val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
        val next = blocks.stageLazy(ls.join(ssMin, Seq("u"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ssMin.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct())
        converged = isStarForest(next)
        blocks.release(ls)
        if (r == 0) blocks.release(pairs)
        blocks.release(e)
        e = next
        r += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponentsStar: not converged after $maxRounds rounds")
      // fixpoint = star forest rooted at component minima: each non-root
      // carries exactly one out-edge to its root; roots/isolated nodes
      // label themselves (groupBy-min is belt over the uniqueness)
      val roots = e.groupBy(col("u")).agg(min(col("v")).as("cluster"))
        .select(col("u").as("id"), col("cluster"))
      nodes.join(roots, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    }
  }

  /** Synchronous label propagation (community detection), fully
    * deterministic: labels start as the node's own id; each iteration
    * every node adopts its neighbors' modal label, ties broken by the
    * SMALLEST label — so replays are bit-identical on any engine (no
    * RNG, no update-order dependence, integer/string labels only).
    *
    * Scale shape: per iteration one edges⋈labels keyed join, one
    * (node, label) count with map-side combine, and one per-node
    * arg-max via `max_by`-style struct max — no window, no sort, all
    * keyed aggregates, lineage cut every [[Fixpoint.LineageCap]]
    * iterations. The edge table is NOT staged: the label side is
    * node-sized, so AQE broadcast-joins it and the edges never
    * shuffle. Returns `(node, label)`, lazily (its last cut stays with
    * it); empty for an empty edge list. */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation: iters >= 1")
    val und = symmetrized(edges, srcCol, dstCol).distinct()
    val init = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    Fixpoint.scoped { blocks =>
      Fixpoint.iterate(blocks, init, iters) { labels =>
        // modal neighbor label; tie → smallest label. max of
        // (cnt, NEGATED rank of label) picks highest count then smallest
        // label without a window sort — max_by over a struct is a plain
        // keyed aggregate with partial merge.
        und.join(labels, und("dst") === labels("node"))
          .select(col("src"), col("label"))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("src"))
          .agg(min_by(col("label"),
            struct((-col("cnt")).as("neg"), col("label"))).as("label"))
          .select(col("src").as("node"), col("label"))
      }
    }
  }
}
