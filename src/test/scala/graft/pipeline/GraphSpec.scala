package graft.pipeline

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side replica of pageRank's exact arithmetic (same
    * per-iteration HALF_UP rounding). */
  private def ref(
      edges: Seq[(String, String)], iters: Int): Map[String, Double] = {
    val und = edges ++ edges.map(_.swap)
    val deg = und.groupBy(_._1).view.mapValues(_.size).toMap
    val n = deg.size
    def rnd(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = deg.keys.map(k => k -> rnd(1.0 / n)).toMap
    for (_ <- 1 to iters)
      r = deg.keys.map { v =>
        val s = und.collect { case (u, `v`) => r(u) / deg(u) }.sum
        v -> rnd(0.15 / n + 0.85 * s)
      }.toMap
    r
  }

  test("pageRank matches the exact-arithmetic reference on a small graph") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 5)
      .as[(String, Double)].collect().toMap
    assert(got == ref(edges, 5), s"got $got want ${ref(edges, 5)}")
    // hub b outranks every leaf; total mass stays ~1
    assert(got("b") > got("a") && got("b") > got("c") && got("b") > got("d"))
    assert(math.abs(got.values.sum - 1.0) < 1e-3, s"mass ${got.values.sum}")
  }

  test("pageRank at 50 iterations: lineage capped, values match reference") {
    // without the periodic localCheckpoint each iteration nests another
    // join+agg — at 50 the analyzer/optimizer cost dwarfs execution;
    // with the cap this completes quickly and values are unchanged
    // (per-iteration rounding makes the cut bit-exact)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"))
    val df = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 50)
    // the returned plan must be a checkpoint leaf, not 50 nested joins
    val depth = df.queryExecution.optimizedPlan.toString
      .linesIterator.size
    assert(depth < 20, s"plan must be lineage-capped, got $depth nodes")
    val got = df.as[(String, Double)].collect().toMap
    assert(got == ref(edges, 50), s"got $got want ${ref(edges, 50)}")
  }

  test("pageRank on a symmetric path gives mirror-equal ranks") {
    val got = Graph.pageRank(
        Seq(("x", "m"), ("m", "y")).toDF("src", "dst"), "src", "dst", 4)
      .as[(String, Double)].collect().toMap
    assert(got("x") == got("y"), s"got $got")
    assert(got("m") > got("x"))
  }

  /** Driver-side replica of personalizedPageRank's sparse exact
    * arithmetic (same 6-dp HALF_UP rounding, teleport only to seeds). */
  private def pprRef(
      edges: Seq[(String, String)], seeds: Seq[String],
      iters: Int): Map[String, Double] = {
    val und = edges ++ edges.map(_.swap)
    val deg = und.groupBy(_._1).view.mapValues(_.size).toMap
    val m = seeds.distinct.size
    def rnd(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r: Map[String, Double] =
      seeds.distinct.map(s => s -> rnd(1.0 / m)).toMap
    for (_ <- 1 to iters) {
      val prop = und.toSeq
        .flatMap { case (u, v) => r.get(u).map(ru => v -> ru / deg(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val nodes = prop.keySet ++ seeds
      r = nodes.map { v =>
        val t = if (seeds.contains(v)) 0.15 / m else 0.0
        v -> rnd(t + 0.85 * prop.getOrElse(v, 0.0))
      }.toMap
    }
    r
  }

  test("personalizedPageRank: sparse spread from the seed, matches reference") {
    // path a-b-c-d plus hub edge b-d; seed at a
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"))
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        "src", "dst", Seq("a").toDF("node"), "node", 3)
      .as[(String, Double)].collect().toMap
    assert(got == pprRef(edges, Seq("a"), 3), s"got $got")
    // proximity ordering: the seed's neighbor b outranks the far side
    assert(got("b") > got("c") && got("b") > got("d"), s"got $got")
    // after 1 iteration only the seed and its neighbor exist (sparse)
    val one = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        "src", "dst", Seq("a").toDF("node"), "node", 1)
      .as[(String, Double)].collect().toMap
    assert(one.keySet == Set("a", "b"), s"got $one")
  }

  test("triangleCount: K4 has 3 per node; appendix nodes 0; dup edges ok") {
    // K4 on 1-4 (4 triangles, each node in 3) plus a pendant 5 and an
    // isolated edge 6-7; reversed + duplicate edges must not change it
    val k4 = for (i <- 1 to 4; j <- 1 to 4 if i < j) yield (i.toLong, j.toLong)
    val edges = (k4 ++ Seq((4L, 5L), (6L, 7L), (2L, 1L), (1L, 2L)))
      .toDF("src", "dst")
    val got = Graph.triangleCount(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 0L, 6L -> 0L, 7L -> 0L), s"got $got")
  }

  test("triangleCount on a star is zero everywhere (skew-shaped input)") {
    val star = (1 to 50).map(i => (0L, i.toLong)).toDF("src", "dst")
    val got = Graph.triangleCount(star, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 0L), s"got $got")
    assert(got.size == 51)
  }

  test("bfsHops: min hop distance, cap honored, unreached absent") {
    // path 1-2-3-4-5 plus shortcut 1-4: dist(4)=1 via shortcut
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfsHops(edges, "src", "dst", seeds, "node", 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L),
      s"got $got")
    val capped = Graph.bfsHops(edges, "src", "dst", seeds, "node", 1)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 4L -> 1L), s"got $capped")
  }

  test("labelPropagation: two cliques with a bridge settle to two labels") {
    val cliqueA = for (i <- 1 to 4; j <- 1 to 4 if i < j)
      yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 11 to 14; j <- 11 to 14 if i < j)
      yield (i.toLong, j.toLong)
    val edges = (cliqueA ++ cliqueB ++ Seq((4L, 11L))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    // deterministic min-tie-break drives each clique to its least id
    val labelsA = (1 to 4).map(i => got(i.toLong)).toSet
    val labelsB = (11 to 14).map(i => got(i.toLong)).toSet
    assert(labelsA.size == 1 && labelsB.size == 1, s"got $got")
    assert(labelsA != labelsB, s"communities merged: $got")
    // replay is bit-identical (pure determinism, no RNG)
    val again = Graph.labelPropagation(edges, "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    assert(again == got)
  }

  test("kCore: k=2 keeps the triangle, peels the pendant chain") {
    // triangle 1-2-3 with a pendant path 3-4-5: round 1 drops 5
    // (deg 1), round 2 drops the now-pendant 4 — only the triangle
    // has a 2-core, every survivor at degree 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graph.kCore(edges, "src", "dst", k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
    // fixpoint: one more round changes nothing (the docstring's
    // testable convergence property)
    val more = Graph.kCore(edges, "src", "dst", k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(more == got, s"not converged: $more vs $got")
    // k above the max core empties the graph
    assert(Graph.kCore(edges, "src", "dst", k = 3, rounds = 3).count() == 0L)
  }

  test("kCore ignores edge direction, duplicates and self-loops") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L))
      .toDF("src", "dst")
    val got = Graph.kCore(edges, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
  }

  /** Driver-side replica of hits' exact arithmetic: integer
    * micro-unit scores (×1e6 longs), L1 quantized per step with the
    * shared-double HALF_UP `floor(q·1e6 + 0.5)`. */
  private def hitsRef(
      edges: Seq[(String, String)], iters: Int)
      : (Map[String, Double], Map[String, Double]) = {
    val e = edges.distinct
    def l1(m: Map[String, Long]) = {
      val tot = m.values.sum
      if (tot == 0L) m
      else m.view.mapValues(v =>
        math.floor(v.toDouble / tot * 1000000L + 0.5).toLong).toMap
    }
    var h = e.map(_._1).distinct.map(_ -> 1000000L).toMap
    var a = Map.empty[String, Long]
    for (_ <- 1 to iters) {
      a = l1(e.flatMap { case (s, d) => h.get(s).map(d -> _) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
      h = l1(e.flatMap { case (s, d) => a.get(d).map(s -> _) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
    }
    (h.view.mapValues(_ / 1e6).toMap, a.view.mapValues(_ / 1e6).toMap)
  }

  test("hits on a small bipartite graph matches the exact reference") {
    // u1 endorses {x,y}, u2 endorses {y}, u3 endorses {y,z}: y is the
    // top authority, u1/u3 the top (equal) hubs; duplicate edge u2→y
    // must not double-count (multiplicity is ignored by contract)
    val edges = Seq(("u1", "x"), ("u1", "y"), ("u2", "y"), ("u2", "y"),
      ("u3", "y"), ("u3", "z"))
    val got = Graph.hits(edges.toDF("src", "dst"), "src", "dst", 3)
      .as[(String, String, Double)].collect()
    val hubs = got.collect { case (n, "hub", s) => n -> s }.toMap
    val auths = got.collect { case (n, "auth", s) => n -> s }.toMap
    val (wantH, wantA) = hitsRef(edges, 3)
    assert(hubs == wantH, s"hubs $hubs want $wantH")
    assert(auths == wantA, s"auths $auths want $wantA")
    assert(auths("y") > auths("x") && auths("y") > auths("z"), s"$auths")
    assert(hubs("u1") == hubs("u3") && hubs("u1") > hubs("u2"), s"$hubs")
    // L1: each side's mass ~1 after rounding
    assert(math.abs(hubs.values.sum - 1.0) < 1e-3)
    assert(math.abs(auths.values.sum - 1.0) < 1e-3)
  }

  test("session-disabled broadcast: shuffled joins, same values") {
    // autoBroadcastJoinThreshold = -1 must also drop the operators' own
    // hints on their node-sized state tables — the shape for a session
    // whose driver cannot take a broadcast. Integer micro-units (hits),
    // min() (nearDupClusters) and per-iteration 6-dp rounding
    // (pageRank) are order-exact, so the shuffled joins must agree BIT
    // for bit with the default session's broadcast plans.
    val edges = Seq(("u1", "x"), ("u1", "y"), ("u2", "y"),
      ("u3", "y"), ("u3", "z"), ("u4", "x"), ("u4", "z")).toDF("src", "dst")
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 26L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    def run(): (Seq[Set[org.apache.spark.sql.Row]], Seq[String]) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan.toString)
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val out = Seq(Graph.pageRank(edges, "src", "dst", 4),
            Graph.hits(edges, "src", "dst", 3), Dedup.nearDupClusters(pairs))
          .map(_.collect().toSet)
        org.apache.spark.sql.GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
        (out, plans.toArray(Array.empty[String]).toSeq)
      } finally spark.listenerManager.unregister(listener)
    }
    val (hinted, hintedPlans) = run()
    assert(hintedPlans.exists(_.contains("BroadcastHashJoin")),
      "the default session should broadcast the state tables")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val (shuffled, shuffledPlans) =
      try { spark.conf.set(key, "-1"); run() } finally spark.conf.set(key, prev)
    assert(shuffled == hinted, "join strategy must not change any value")
    assert(shuffledPlans.nonEmpty &&
      !shuffledPlans.exists(_.contains("BroadcastHashJoin")),
      "broadcast disabled by the session, yet a plan broadcasts:\n" +
        shuffledPlans.filter(_.contains("BroadcastHashJoin")).mkString("\n"))
  }

  test("hits runs ONE driver sync per half-iteration (no scalar L1 job)") {
    // The L1 total + node count ride the materialization job as
    // observed metrics; a reintroduced `agg(...).head` scalar collect
    // would add 2 jobs per half-iteration (AQE runs the scalar agg's
    // shuffle stage + result as separate jobs). Count jobs around a
    // 2-iteration vs 4-iteration run: the DELTA isolates per-iteration
    // cost from session/persist noise. Measured composition per
    // half-iteration: broadcast-relation build + AQE shuffle stage +
    // checkpoint materialization = 3 jobs → 6 per iteration; the
    // scalar collect pushes that to ≥8.
    val edges = Seq(("u1", "x"), ("u1", "y"), ("u2", "y"), ("u3", "z"))
      .toDF("src", "dst")
    def countJobs(iters: Int): Int = {
      // public status-tracker API: job-group membership is recorded at
      // job submission on the driver, so the count is complete once
      // the run's actions have all returned
      val group = s"graft_hits_jobcount_$iters"
      spark.sparkContext.setJobGroup(group, "hits job-count pin")
      try {
        Graph.hits(edges, "src", "dst", iters).collect()
        spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      } finally spark.sparkContext.clearJobGroup()
    }
    val j2 = countJobs(2)
    val j4 = countJobs(4)
    val perIteration = (j4 - j2) / 2.0
    assert(perIteration <= 6.0,
      s"expected <=6 jobs per iteration (broadcast build + AQE stage + " +
        s"materialization per half-iteration), got $perIteration " +
        s"(j2=$j2, j4=$j4) - a per-half-iteration scalar collect is back")
  }

  test("nearDupClusters: convergence rides the round's staging job") {
    // A path of k edges takes k+1 rounds (k to carry the minimum to the
    // far end, one that changes nothing), so path(k+2) - path(k) is two
    // rounds. Measured composition per round: broadcast-relation build
    // + AQE shuffle stages + staging = 5 jobs; a separate convergence
    // probe (the pre-observe form) adds at least one more. (Path sizes
    // where AQE splits one more stage off cost 6; 6 → 8 is not one.)
    def countJobs(k: Int): Int = {
      // the hits pin's status-tracker count
      val group = s"graft_cc_jobcount_$k"
      spark.sparkContext.setJobGroup(group, "nearDupClusters job-count pin")
      try {
        Dedup.nearDupClusters((0L until k.toLong).map(i => (i, i + 1))
          .toDF("id_a", "id_b")).collect()
        spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      } finally spark.sparkContext.clearJobGroup()
    }
    val j6 = countJobs(6)
    val j8 = countJobs(8)
    val perRound = (j8 - j6) / 2.0
    assert(perRound <= 5.0,
      s"expected <=5 jobs per round, got $perRound (j6=$j6, j8=$j8) - " +
        "the convergence test left the staging job")
  }

  test("kCore/hits argument guards reject degenerate parameters") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.kCore(e, "src", "dst", k = 0, rounds = 1)
    }
    intercept[IllegalArgumentException] {
      Graph.kCore(e, "src", "dst", k = 1, rounds = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.hits(e, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.hits(e, "src", "dst", iters = 1, roundDp = 0)
    }
  }

  test("connectedComponentsStar agrees with min-label propagation") {
    import spark.implicits._
    // mixed shapes: a chain, a clique with a bridge, isolated self-loop
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 20L), (30L, 30L)) ++
      (40L until 50L).map(i => (i, i + 1))).toDF("a", "b")
    val star = Graph.connectedComponentsStar(edges, "a", "b")
      .as[(Long, Long)].collect().sorted.toSeq
    val prop = Dedup.nearDupClusters(
        edges.select(edges("a").as("id_a"), edges("b").as("id_b")))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(star == prop, "both CC algorithms must give min-of-component")
    assert(star.contains((30L, 30L)), "self-loop node labels itself")
  }

  test("connectedComponentsStar: a 400-node path converges in O(log n) rounds") {
    import spark.implicits._
    // diameter 400 — min-label propagation would need ~400 rounds;
    // star contraction must finish inside its default 30-round bound
    val path = (0L until 400L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Graph.connectedComponentsStar(path, "a", "b")
      .as[(Long, Long)].collect()
    assert(out.length == 401)
    assert(out.forall(_._2 == 0L), "one component rooted at the minimum")
  }

  test("iterative ops release superseded blocks: storage holds ≤ result") {
    import spark.implicits._
    def cached(): Int = spark.sparkContext.getPersistentRDDs.size
    // unpersist(blocking=false) drains asynchronously — poll down
    def awaitAtMost(n: Int): Int = {
      val deadline = System.nanoTime + 15L * 1000 * 1000 * 1000
      var c = cached()
      while (c > n && System.nanoTime < deadline) { Thread.sleep(50); c = cached() }
      c
    }
    // base captured WITHOUT polling to zero: earlier tests' eager
    // result checkpoints legitimately stay registered until driver GC,
    // so a poll-to-0 burned its full 15 s deadline every run. The
    // assertions below are relative and ≤-based, so a nonzero base is
    // fine; mid-test ContextCleaner activity can only shrink counts
    // (false-pass, never false-fail).
    val base = cached()
    val edges = (0L until 500L).map(i => (i, (i * 7 + 1) % 500)).toDF("src", "dst")
    // enough iterations/rounds that GC-deferred cleanup WOULD pile up:
    // pageRank takes 4 in-loop caps (25 iterations), hits 10 half-iteration
    // tables, kCore 6 edge-set rounds — each op may leave ONLY its
    // eagerly-materialized result behind.
    Graph.pageRank(edges, "src", "dst", iters = 25).count()
    val afterPr = awaitAtMost(base + 1)
    assert(afterPr <= base + 1, s"pageRank leaked blocks: base=$base now=$afterPr")
    Graph.hits(edges, "src", "dst", iters = 5).count()
    val afterHits = awaitAtMost(base + 2)
    assert(afterHits <= base + 2, s"hits leaked blocks: now=$afterHits")
    Graph.kCore(edges, "src", "dst", k = 2, rounds = 6).count()
    val afterKc = awaitAtMost(base + 3)
    assert(afterKc <= base + 3, s"kCore leaked blocks: now=$afterKc")
    // ppr: seed-set blocks + 4 in-loop caps (25 iterations) must all retire
    val seeds = Seq(0L, 7L).toDF("node")
    Graph.personalizedPageRank(edges, "src", "dst", seeds, "node", iters = 25)
      .count()
    val afterPpr = awaitAtMost(base + 4)
    assert(afterPpr <= base + 4, s"ppr leaked blocks: now=$afterPpr")
    // lpa returns lazily off its FINAL cap (iters=12 → caps at 5 and
    // 10; the first must retire, the second backs the result)
    Graph.labelPropagation(edges, "src", "dst", iters = 12).count()
    val afterLpa = awaitAtMost(base + 5)
    assert(afterLpa <= base + 5, s"lpa leaked blocks: now=$afterLpa")
    // the other lazily returned results keep exactly the blocks they
    // read: bfs its final cap (12 hops → caps at 5 and 10), nearDup
    // its last round (its edge table and ~12 superseded rounds
    // retire), cc_star its node catalog and last round, and the
    // sharded SemDeDup its last of 4 centroid tables
    Graph.bfsHops(edges, "src", "dst", seeds, "node", maxHops = 12).count()
    val afterBfs = awaitAtMost(base + 6)
    assert(afterBfs <= base + 6, s"bfs leaked blocks: now=$afterBfs")
    Dedup.nearDupClusters(edges.toDF("id_a", "id_b")).count()
    val afterNd = awaitAtMost(base + 7)
    assert(afterNd <= base + 7, s"nearDupClusters leaked blocks: now=$afterNd")
    Graph.connectedComponentsStar(edges, "src", "dst").count()
    val afterCc = awaitAtMost(base + 9)
    assert(afterCc <= base + 9, s"cc_star leaked blocks: now=$afterCc")
    val vecs = (0 until 300).map(i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 0.37 + j * 1.3))))
      .toDF("id", "v")
    Vec.semDedupSharded(vecs, "id", "v", nlist = 3, iters = 5, threshold = 0.99)
      .count()
    val afterSem = awaitAtMost(base + 10)
    assert(afterSem <= base + 10, s"semDedupSharded leaked blocks: now=$afterSem")
  }
}
