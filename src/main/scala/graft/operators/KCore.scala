package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** k-core peeling — the ITERATED-FILTER graph workload (repeatedly drop
  * nodes of degree < k until the k-core remains), complementing
  * [[PageRank]]'s iterated scoring. The k-core is the standard "robust
  * cluster" extraction: entities that co-occur with ≥ k partners that
  * are themselves robustly connected (reference analogue: squads/clubs
  * whose head-to-head graph survives casual-pairing removal).
  *
  * Runs a FIXED number of peeling rounds (not to fixpoint) so the result
  * is a deterministic function of (graph, k, rounds) that an unrolled-CTE
  * oracle replays exactly; on the corpus graphs the peel converges well
  * inside the default rounds, so the output IS the k-core there.
  *
  * Scale shape per round: one degree aggregation (map-side combining)
  * and one two-sided semi-join of edges against surviving nodes — all
  * keyed shuffles. Unlike [[PageRank]] (each rank table consumed once),
  * the edge frame feeds TWO consumers per round (degree count + the
  * filter join), so lineage MUST be cut EVERY round — an uncut chain
  * re-executes the whole prefix per consumer, doubling work per round
  * (2^rounds blowup). [[graft.scale.Silver.scratch]] makes that cut a
  * parquet silver table on a cluster, a localCheckpoint locally.
  */
object KCore {

  /** Peel `rounds` times toward the k-core of an undirected edge list
    * (columns `a`, `b`; duplicates/orientation collapsed here). Returns
    * (node, deg) for nodes surviving all rounds, with degrees in the
    * surviving subgraph. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1 (got $k, $rounds)")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // Every round's first filter join keys on a; fanning each round's
    // surviving edge set by a BEFORE its lineage cut folds the next
    // round's e-side exchange into the checkpoint job (the bfs device —
    // the checkpoint otherwise captures the second join's hash(b)
    // layout and round r+1 re-shuffles the whole edge list back to a).
    // per-round survivor sets shrink (each round filters the previous),
    // so count equality proves the fixed point and every remaining round
    // is the identity — the probe signature rides each materialization
    // job as an `observe` side effect ([[graft.scale.FixedPoint]])
    val fp = graft.scale.FixedPoint.shrinkProbe("kcore")
    var e = graft.scale.Silver.scratch(
      fp.attach(graft.scale.Par.byKey(
        edges.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b")), col("a")).distinct()),
      "kcore_edges")
    fp.stable() // prime with the round-0 edge count
    // alive ⊆ the initial node set every round, so one bound serves all
    // rounds ([[graft.scale.Pregel]]); under the cap both endpoint
    // filters broadcast the alive set and the edge frame is filtered in
    // place — zero edge exchanges per round (the shuffle path used to
    // re-exchange e for each semi-join side).
    val bc = graft.scale.Pregel.broadcastState(e.sparkSession,
      graft.scale.Pregel.nodeBound2(e, "a", "b"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      // alive feeds BOTH endpoint filters — materialized per round so
      // the degree aggregation runs once, not once per consumer
      val alive = graft.scale.Silver.scratch(
        degrees(e).filter(col("deg") >= k).select("node"), "kcore_alive")
      // no re-key on the shuffle path: a per-round repartition costs the
      // same exchange it would elide next round (the frame is REBUILT
      // every round, unlike bfs's static edge list — measured net-negative)
      e = graft.scale.Silver.scratch(
        fp.attach(e.join(graft.scale.Pregel.state(
            alive.withColumnRenamed("node", "a"), bc), "a")
          .join(graft.scale.Pregel.state(
            alive.withColumnRenamed("node", "b"), bc), "b")
          .select("a", "b")),
        "kcore_iter")
      done = fp.stable()
    }
    degrees(e)
  }

  /** The supplier↔customer co-trading edge list shared by the iterative
    * graph queries (customers at `-(custkey+1)` — see
    * [[PageRank.pagerankQuery]]'s node-space note). */
  private[operators] def coTradingPairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("a"), (-(col("o_custkey") + 1)).as("b"))
      .distinct()
  }

  /** q_kcore: the 3-core of the supplier↔customer co-trading graph
    * (same node mapping as [[PageRank.pagerankQuery]]) after 6 peeling
    * rounds — suppliers/customers whose trading neighborhoods survive
    * mutual thinning. */
  def kcoreQuery(spark: SparkSession, dir: String): DataFrame =
    kcore(coTradingPairs(spark, dir), k = 3, rounds = 6)
      .select(col("node").cast("long").as("node"), col("deg"))
      .orderBy("node")

  /** Multi-source BFS — the FRONTIER-EXPANSION iteration shape (min-plus
    * relaxation), alongside [[PageRank]] (scoring) and [[kcore]]
    * (filtering): after `rounds` relaxations each reached node carries
    * its exact hop distance from the nearest seed, capped at `rounds`.
    * The classic "reachability / blast-radius in R hops" query
    * (supply-chain exposure, contamination spread, social distance).
    *
    * Per round: dist ∪ (edges ⋈ dist + 1) → min per node — one keyed
    * join plus a map-side-combining min. The dist frame feeds both union
    * branches, so lineage is cut every round (same 2-consumer argument
    * as [[kcore]]). Monotone (distances only shrink), so fixed rounds ≥
    * graph diameter give the true BFS distances; fewer give the exact
    * R-hop relaxation either way — deterministic and oracle-replayable. */
  def bfs(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val und = bfsEdges(edges)
    bfsOnUnd(und, seeds, rounds,
      graft.scale.Pregel.broadcastState(und.sparkSession,
        graft.scale.Pregel.nodeBound(und, "a")))
  }

  /** The symmetrized, deduplicated, materialized BFS edge frame, fanned
    * BY THE PER-ROUND JOIN KEY before the lineage cut: the checkpoint
    * captures hash(a, width), so the shuffle path's per-round edges⋈dist
    * join reuses it (guide §2.4); the distinct rides the same exchange
    * (hash on a subset of its grouping keys). Shared so multi-sweep
    * callers ([[diameterQuery]]) build it ONCE instead of per sweep. */
  private[operators] def bfsEdges(edges: DataFrame): DataFrame =
    graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        edges.select(col("a"), col("b")).unionAll(
          edges.select(col("b").as("a"), col("a").as("b"))), col("a"))
        .distinct(),
      "bfs_edges")

  /** Relaxation rounds over a pre-materialized [[bfsEdges]] frame. `bc`
    * picks the per-round join strategy ([[graft.scale.Pregel]]): the
    * dist frame is node-bounded, so under the broadcast cap each round
    * ships the STATE and the edge frame never shuffles; above it the
    * r14 co-partitioned shuffle path is unchanged. */
  private[operators] def bfsOnUnd(und: DataFrame, seeds: DataFrame,
                                  rounds: Int, bc: Boolean): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    // relaxation is monotone (nodes only added, dists only shrink), so an
    // unchanged (count, Σdist) proves the fixed point — remaining rounds
    // are the identity and are skipped ([[graft.scale.FixedPoint]])
    val fp = graft.scale.FixedPoint.relaxProbe(col("dist"), "bfs")
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      dist = graft.scale.Silver.scratch(
        fp.attach(dist.unionAll(
            und.join(graft.scale.Pregel.state(
                dist.withColumnRenamed("node", "a"), bc), "a")
              .select(col("b").as("node"), (col("dist") + 1L).as("dist")))
          .groupBy("node").agg(min(col("dist")).as("dist"))),
        "bfs_round")
      done = fp.stable()
    }
    dist
  }

  /** q_bfs: hop distance from the lowest-nation supplier cohort across
    * the co-trading graph, 4 relaxation rounds. Seeds = suppliers of
    * `min(s_nationkey)` — a scale-independent non-empty cohort (a fixed
    * nation id can be absent from a small corpus sample). */
  def bfsQuery(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val minNation = sup.agg(min(col("s_nationkey")).as("mn"))
    val seeds = sup.join(minNation, col("s_nationkey") === col("mn"))
      .select(col("s_suppkey").cast("long").as("node"))
    bfs(coTradingPairs(spark, dir), seeds, rounds = 4)
      .select(col("node").cast("long").as("node"), col("dist"))
      .orderBy("node")
  }

  /** Weighted single-source shortest paths by fixed Bellman–Ford rounds
    * — the weighted companion of [[bfs]] (supply-chain COST exposure,
    * not hop exposure). Same recurrence shape: per round
    * dist ∪ (edges ⋈ dist + w) → min per node; monotone, so `rounds`
    * rounds give exact distances over ≤ `rounds`-edge paths —
    * deterministic under integer weights and oracle-replayable.
    * `edges` needs (a, b, w) with non-negative integer w. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val e = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        edges.select(col("a"), col("b"), col("w")).unionAll(
          edges.select(col("b").as("a"), col("a").as("b"), col("w"))),
        col("a")), // per-round join key — see bfs
      "sssp_edges")
    val bc = graft.scale.Pregel.broadcastState(e.sparkSession,
      graft.scale.Pregel.nodeBound(e, "a"))
    // same monotone fixed-point exit as [[bfsOnUnd]]
    val fp = graft.scale.FixedPoint.relaxProbe(col("dist"), "sssp")
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      dist = graft.scale.Silver.scratch(
        fp.attach(dist.unionAll(
            e.join(graft.scale.Pregel.state(
                dist.withColumnRenamed("node", "a"), bc), "a")
              .select(col("b").as("node"), (col("dist") + col("w")).as("dist")))
          .groupBy("node").agg(min(col("dist")).as("dist"))),
        "sssp_round")
      done = fp.stable()
    }
    dist
  }

  /** q_sssp: cheapest supply-chain path cost from the lowest-key
    * supplier across the weighted co-trading graph — edge weight
    * 10⁶ div (shared lineitems): frequent trading pairs are cheap hops.
    * 4 relaxation rounds; customers keyed −(custkey+1) as everywhere. */
  def ssspQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("a"), (-(col("o_custkey") + 1)).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("a"), col("b"), expr("1000000 div cnt").as("w"))
    val minSup = Tables.supplier(spark, dir)
      .agg(min(col("s_suppkey")).as("mk"))
    val seeds = Tables.supplier(spark, dir)
      .join(minSup, col("s_suppkey") === col("mk"))
      .select(col("s_suppkey").cast("long").as("node"))
    sssp(pairs, seeds, rounds = 4)
      .select(col("node").cast("long").as("node"), col("dist"))
      .orderBy("node")
  }

  /** Deterministic graph walks (q_walks): one 3-step walk from every
    * supplier node, where each step moves to the neighbor minimizing
    * md5(cur:step:neighbor) — a HASH-SEEDED walk, so the sampling is
    * reproducible under any partitioning and replayable in the oracle
    * (true RNG walks are not). This is the distributed walk-sampling
    * shape under node2vec/DeepWalk: per step ONE edges⋈frontier join
    * plus an argmin reduce; w walks of length L cost L joins total, not
    * L per walk.
    *
    * Argmin ties cannot occur (md5 collisions aside) but the struct min
    * breaks them by neighbor id anyway. */
  def walksQuery(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val e = graft.scale.Silver.scratch({
      val p = coTradingPairs(spark, dir)
      graft.scale.Par.byKey(
        p.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(p.select(col("b").as("src"), col("a").as("dst"))),
        col("src")) // per-step join key — see bfs
        .distinct()
    }, "walk_edges")
    var walk = Tables.supplier(spark, dir)
      .select(col("s_suppkey").cast("long").as("start"))
      .withColumn("cur", col("start"))
    // state is exactly one row per start node at every step
    val bc = graft.scale.Pregel.broadcastState(spark, graft.scale.Silver.rows(walk))
    for (t <- 1 to steps) {
      walk = graft.scale.Silver.scratch(
        graft.scale.Pregel.state(walk, bc)
          .join(e, col("cur") === col("src"))
          .select(col("start"),
            md5(concat_ws(":", col("cur"), lit(t), col("dst"))).as("h"),
            col("dst"))
          .groupBy("start")
          .agg(min(struct(col("h"), col("dst").as("d"))).as("m"))
          .select(col("start"), col("m.d").as("cur")),
        "walk_step")
    }
    walk.select(col("start"), col("cur").as("end_node"))
      .orderBy("start")
  }

  /** Resource-allocation link prediction (q_link_pred): score
    * NON-adjacent node pairs by Σ_{z ∈ N(u)∩N(v)} 1/deg(z) — the RA
    * index (Zhou et al.), the strongest of the classic common-neighbor
    * link predictors and, unlike Adamic–Adar, computable EXACTLY: the
    * per-z weight is the integer 10⁶ div deg(z), so pair scores are
    * exact long sums ("who will trade next?" over the co-trading
    * graph).
    *
    * Scale shape: wedges enumerate per common neighbor z — the same
    * Σ deg² blowup the triangle counter bounds by orientation; here
    * hub wedges carry ~zero RA mass (weight 1/deg), so hubs with
    * deg > `degCap` are dropped ENTIRELY (the shingle df-cap device:
    * bounded candidates, and the discarded mass is provably
    * ≤ 10⁶/degCap per wedge). Existing edges are anti-joined away;
    * TakeOrderedAndProject keeps the top candidates. */
  def linkPredQuery(spark: SparkSession, dir: String,
                    degCap: Long = 64L, topK: Int = 20): DataFrame = {
    val p = coTradingPairs(spark, dir)
    val edges = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        p.select(col("a"), col("b")).unionAll(
          p.select(col("b").as("a"), col("a").as("b"))), col("a"))
        .distinct(),
      "lp_edges") // feeds degrees, wedges, and the existing-edge filter —
                  // all keyed on a/z, so the fan's hash(a, width) serves
                  // every consumer without re-exchange (see bfs)
    val deg = edges.groupBy(col("a").as("z")).agg(count(lit(1)).as("deg"))
    val nbrs = edges.select(col("a").as("z"), col("b").as("nbr"))
      .join(deg.filter(col("deg") <= degCap), "z")
      .withColumn("w", expr("1000000 div deg"))
    val scores = nbrs.as("x").join(nbrs.as("y"),
        col("x.z") === col("y.z") && col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("u"), col("y.nbr").as("v"), col("x.w").as("w"))
      .groupBy("u", "v")
      .agg(sum(col("w")).as("ra_score"), count(lit(1)).as("n_common"))
    scores.join(edges.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("ra_score").desc, col("u").asc, col("v").asc)
      .limit(topK)
  }

  /** q_degree_dist: power-of-two degree distribution of the co-trading
    * graph — the first diagnostic run on ANY large graph (is it
    * power-law? where does the heavy tail start?), and the input to
    * choosing broadcast-vs-shuffle thresholds for the graph operators.
    * Bucket = bit length of the degree (the [[Approx.log2Histogram]]
    * layout), so the result is ≤64 rows at any graph size and the whole
    * job is two map-side-combining aggregates over the edge list. */
  def degreeDistQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = coTradingPairs(spark, dir)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg
      .groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("deg")).as("sum_deg"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy("bucket")
  }

  /** Freeman degree centralization of the co-trading graph
    * (q_degree_central): Σ(d_max − d_i) / ((n−1)(n−2)) — how star-like
    * the graph is (1 = perfect star, 0 = degree-regular), the one-number
    * companion to [[degreeDistQuery]]'s histogram and the standard
    * "is this network dominated by hubs?" report.
    *
    * Shape: one map-side-combining degree count over the edge list, then
    * a one-row reduction (n, Σd, d_max) — Σ(d_max − d) = n·d_max − Σd,
    * so the numerator never needs a second pass. Exact longs until the
    * single terminal division. */
  /** Double-sweep diameter estimate (q_diameter): BFS from a pinned
    * seed, re-BFS from the farthest node found, report its eccentricity
    * — the standard two-pass lower bound on graph diameter (exact on
    * trees, empirically tight on real graphs), at the cost of exactly
    * two [[bfs]] runs instead of all-pairs. Distances are bounded-round
    * BFS (exact up to `rounds` hops — the co-trading graph is
    * small-world, diameter ≪ rounds); the farthest-node argmax is the
    * (dist desc, node asc) top-1, a TakeOrderedAndProject. */
  def diameterQuery(spark: SparkSession, dir: String,
                    rounds: Int = 4): DataFrame = {
    // ONE shared edge frame for both sweeps (r15): each bfs() call used
    // to rebuild the co-trading join + symmetrize + distinct + checkpoint
    // from parquet — the whole setup ran twice per query.
    val und = bfsEdges(coTradingPairs(spark, dir))
    val bc = graft.scale.Pregel.broadcastState(spark,
      graft.scale.Pregel.nodeBound(und, "a"))
    val sup = Tables.supplier(spark, dir)
    val minSup = sup.agg(min(col("s_suppkey")).as("mk"))
    val seed1 = sup.join(minSup, col("s_suppkey") === col("mk"))
      .select(col("s_suppkey").cast("long").as("node"))
    val d1 = bfsOnUnd(und, seed1, rounds, bc)
    // far feeds the output row AND the second sweep's seed — materialize
    val far = graft.scale.Silver.scratch(
      d1.orderBy(col("dist").desc, col("node").asc).limit(1), "diam_far")
    val d2 = bfsOnUnd(und, far.select("node"), rounds, bc)
    val s1 = d1.agg(count(lit(1)).as("n_reached1"))
    val s2 = d2.agg(max(col("dist")).as("est_diameter"),
      count(lit(1)).as("n_reached2"))
    far.select(col("node").as("far_node"), col("dist").as("far_dist"))
      .crossJoin(s1).crossJoin(s2)
      .select(col("far_node"), col("far_dist"), col("est_diameter"),
        col("n_reached1"), col("n_reached2"))
  }

  /** Seed-labeled multi-source BFS: like [[bfs]] but distances are kept
    * PER SEED — state (seed, node, dist), relaxed min-plus per round, so
    * one iterated job computes every seed's full distance vector
    * simultaneously (|seeds|× the node state instead of |seeds|×
    * separate jobs — the standard batched-centrality trick). Same
    * lineage-cut discipline as [[bfs]]. */
  def labeledBfs(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val und = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        edges.select(col("a"), col("b")).unionAll(
          edges.select(col("b").as("a"), col("a").as("b"))), col("a"))
        .distinct(), // per-round join key — see bfs
      "lbfs_edges")
    // state is (seed, node, dist) — |seeds| × the node bound; the seed
    // bound is the plan's own row cap when it has one (a limit), so no
    // count job runs for it
    val nSeeds = seeds.queryExecution.optimizedPlan.maxRows
      .getOrElse(graft.scale.Silver.rows(seeds))
    val bc = graft.scale.Pregel.broadcastState(und.sparkSession,
      graft.scale.Pregel.nodeBound(und, "a", math.max(1L, nSeeds)))
    // same monotone fixed-point exit as [[bfsOnUnd]] (per (seed, node))
    val fp = graft.scale.FixedPoint.relaxProbe(col("dist"), "lbfs")
    var dist = seeds.select(col("seed"), col("seed").as("node"),
      lit(0L).as("dist"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      dist = graft.scale.Silver.scratch(
        fp.attach(dist.unionAll(
            und.join(graft.scale.Pregel.state(
                dist.withColumnRenamed("node", "a"), bc), "a")
              .select(col("seed"), col("b").as("node"),
                (col("dist") + 1L).as("dist")))
          .groupBy("seed", "node").agg(min(col("dist")).as("dist"))),
        "lbfs_round")
      done = fp.stable()
    }
    dist
  }

  /** The 4 lowest-key suppliers as labeled-BFS seeds, with per-(seed,
    * dist) reach counts after `rounds` relaxations — the shared input of
    * [[closenessQuery]] and [[harmonicQuery]]. Distances are bounded by
    * `rounds`, so the count frame is ≤ |seeds|·(rounds+1) rows and both
    * centralities are fixed trees over it. */
  private def seedDistCounts(spark: SparkSession, dir: String,
                             nSeeds: Int, rounds: Int): DataFrame = {
    val seeds = Tables.supplier(spark, dir)
      .select(col("s_suppkey").cast("long").as("seed"))
      .orderBy("seed").limit(nSeeds)
    labeledBfs(coTradingPairs(spark, dir), seeds, rounds)
      .groupBy("seed", "dist").agg(count(lit(1)).as("cnt"))
  }

  /** Bounded-horizon closeness centrality of the 4 lowest suppliers
    * (q_closeness): (reached−1)/Σdist over the ≤4-hop ball — "which
    * anchor supplier sits closest to the trading network's mass?". On a
    * small-world graph the 4-hop ball is effectively the component, so
    * this is the practical closeness ranking at a fixed, oracle-
    * replayable cost (true closeness needs diameter rounds). Exact
    * integers until the one division per seed. */
  def closenessQuery(spark: SparkSession, dir: String,
                     rounds: Int = 4): DataFrame =
    seedDistCounts(spark, dir, nSeeds = 4, rounds = rounds)
      .groupBy("seed")
      .agg(sum(col("cnt")).as("n_reached"),
        sum(col("dist") * col("cnt")).as("sum_dist"))
      .select(col("seed"), col("n_reached"), col("sum_dist"),
        ((col("n_reached") - 1L).cast("double") /
          col("sum_dist").cast("double")).as("closeness"))
      .orderBy("seed")

  /** Bounded-horizon harmonic centrality of the same seed cohort
    * (q_harmonic): Σ_{d>0} reached_d/d — closeness's robust sibling
    * (defined on disconnected graphs, hop-discounted instead of
    * hop-averaged). dist ∈ {1..4} after 4 rounds, so the sum is a
    * FIXED four-term tree over exact per-distance counts — no float
    * accumulation ordering anywhere. */
  def harmonicQuery(spark: SparkSession, dir: String,
                    rounds: Int = 4): DataFrame = {
    val counts = seedDistCounts(spark, dir, nSeeds = 4, rounds = rounds)
    val perDist = (1 to rounds).map(d =>
      sum(when(col("dist") === d.toLong, col("cnt")).otherwise(0L))
        .as(s"n$d"))
    val harmonic = (1 to rounds).map(d =>
      col(s"n$d").cast("double") / lit(d.toDouble)).reduceLeft(_ + _)
    counts.groupBy("seed")
      .agg(perDist.head, perDist.tail: _*)
      .select(col("seed") +: (1 to rounds).map(d => col(s"n$d")) :+
        harmonic.as("harmonic"): _*)
      .orderBy("seed")
  }

  /** The supplier co-supply graph (suppliers sharing ≥1 order) with each
    * node's revenue residual — the shared frame of [[moranQuery]] and
    * [[gearyQuery]]. Residuals are n-SCALED (z = n·v − S, exact
    * decimal(38,0)) so mean-centering never touches a float; the n²
    * factor cancels in both statistics' ratios. Returns the one-row
    * sufficient frame (n, e, Σ_E z_a·z_b, Σ_E (z_a−z_b)², Σ z²). */
  private def networkAutocorrFrame(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val values = graft.scale.Silver.scratch(
      li.groupBy(col("l_suppkey").as("node"))
        .agg(sum(col("cents")).as("v")),
      "net_values") // feeds the totals row and both edge-endpoint joins
    val tot = values.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val z = values.crossJoin(tot)
      .select(col("node"),
        (col("n").cast(d38) * col("v").cast(d38) - col("s").cast(d38))
          .as("z"),
        col("n"))
    val zM = graft.scale.Silver.scratch(z, "net_z")
    val liF = graft.scale.Par.fan(
      li.select(col("l_orderkey"), col("l_suppkey")), col("l_orderkey"))
    val edges = liF.as("x")
      .join(liF.select(col("l_orderkey"), col("l_suppkey").as("s2")).as("y"),
        Seq("l_orderkey"))
      .filter(col("l_suppkey") < col("s2"))
      .select(col("l_suppkey").as("a"), col("s2").as("b"))
      .distinct()
    val edgeSums = edges
      .join(zM.select(col("node").as("a"), col("z").as("za")), Seq("a"))
      .join(zM.select(col("node").as("b"), col("z").as("zb")), Seq("b"))
      .agg(count(lit(1)).as("e"),
        sum(col("za") * col("zb")).as("num2"),
        sum((col("za") - col("zb")) * (col("za") - col("zb"))).as("gnum"))
    val den = zM.agg(max(col("n")).as("n"),
      sum(col("z") * col("z")).as("den"))
    den.crossJoin(edgeSums)
  }

  /** Moran's I over the supplier co-supply graph (q_moran): is revenue
    * spatially autocorrelated along shared-order adjacency — do
    * high-revenue suppliers co-supply with other high-revenue suppliers?
    * The network analogue of [[TimeSeries.durbinWatson]]'s serial test.
    * I = (n·Σ_E z_a z_b)/(E·Σz²) with binary symmetric weights (the
    * directed-edge and n² factors cancel); E[I] = −1/(n−1) under the
    * null. Exact integer sums, two terminal IEEE ops. */
  def moranQuery(spark: SparkSession, dir: String): DataFrame =
    networkAutocorrFrame(spark, dir)
      .select(col("n").as("n_nodes"), col("e").as("n_edges"),
        (lit(-1.0) / (col("n") - 1L).cast("double")).as("expected_i"),
        ((col("n").cast("double") * col("num2").cast("string").cast("double")) /
          (col("e").cast("double") * col("den").cast("string").cast("double")))
          .as("moran_i"))

  /** Geary's C over the same frame (q_geary): the local-contrast
    * companion of [[moranQuery]] (C < 1 ⇔ positive autocorrelation;
    * Geary weights neighbor DIFFERENCES, so it is the more
    * outlier-sensitive read). C = ((n−1)·Σ_E (z_a−z_b)²)/(2E·Σz²). */
  def gearyQuery(spark: SparkSession, dir: String): DataFrame =
    networkAutocorrFrame(spark, dir)
      .select(col("n").as("n_nodes"), col("e").as("n_edges"),
        (((col("n") - 1L).cast("double") *
            col("gnum").cast("string").cast("double")) /
          ((lit(2.0) * col("e").cast("double")) *
            col("den").cast("string").cast("double"))).as("geary_c"))

  /** Katz centrality with attenuation β = 1/4 truncated at 4 hops
    * (q_katz): katz(i) = Σ_l β^l·walks_l(i), reported in exact
    * 4⁴-scaled integer units (katz_w = 64·w₁ + 16·w₂ + 4·w₃ + w₄) — the
    * walk-counting centrality between [[PageRank]] (normalized flow)
    * and plain degree. Walk counts come from 4 rounds of the min-plus
    * shape's additive sibling: w_l(i) = Σ_{j∈N(i)} w_{l−1}(j), one keyed
    * join + map-side-combining sum per round, lineage cut per round.
    * NO division anywhere — fully exact, deterministic at any scale. */
  def katzQuery(spark: SparkSession, dir: String,
                rounds: Int = 4, topK: Int = 20): DataFrame = {
    val p = coTradingPairs(spark, dir)
    val und = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        p.select(col("a"), col("b")).unionAll(
          p.select(col("b").as("a"), col("a").as("b"))), col("b"))
        .distinct(), // per-round join key is b here — see bfs
      "katz_edges")
    val bc = graft.scale.Pregel.broadcastState(und.sparkSession,
      graft.scale.Pregel.nodeBound(und, "b"))
    var w = und.select(col("a").as("node")).distinct()
      .withColumn("w", lit(1L))
    val perRound = (1 to rounds).map { l =>
      w = graft.scale.Silver.scratch(
        und.join(graft.scale.Pregel.state(
            w.withColumnRenamed("node", "b"), bc), "b")
          .groupBy(col("a").as("node")).agg(sum(col("w")).as("w")),
        s"katz_w$l")
      w.select(col("node"), col("w").as(s"w$l"))
    }
    val weights = (1 to rounds).map(l => 1L << (2 * (rounds - l)))
    val katz = perRound.reduce((x, y) =>
      x.join(graft.scale.Pregel.state(y, bc), Seq("node")))
      .withColumn("katz_w",
        (1 to rounds).map(l => col(s"w$l") * lit(weights(l - 1)))
          .reduceLeft(_ + _))
    katz.orderBy(col("katz_w").desc, col("node").asc).limit(topK)
      .select(col("node").cast("long").as("node"),
        col("w1"), col("w2"), col("w3"), col("w4"), col("katz_w"))
  }

  /** Era-split co-trading edge sets (orders before/after the pinned
    * corpus midpoint 1998-01-01) — the shared frame of the temporal-
    * graph queries [[graphChurnQuery]] and [[prefAttachQuery]]. One
    * fact join, conditional-distinct per era. */
  private def eraPairs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("era1"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("a"), (-(col("o_custkey") + 1)).as("b"),
        col("era1"))
    (pairs.filter(col("era1")).select("a", "b").distinct(),
      pairs.filter(!col("era1")).select("a", "b").distinct())
  }

  /** Temporal graph churn (q_graph_churn): Jaccard overlap of the
    * co-trading edge sets before and after the corpus midpoint — how
    * much of the trading network is STABLE relationships vs turnover?
    * The one-number network-drift read before trusting any model
    * trained on last era's graph. Exact set counting: two distinct
    * edge frames, one equi-join for the intersection, fixed tree. */
  def graphChurnQuery(spark: SparkSession, dir: String): DataFrame = {
    val (e1, e2) = eraPairs(spark, dir)
    val m1 = graft.scale.Silver.scratch(e1, "churn_e1")
    val m2 = graft.scale.Silver.scratch(e2, "churn_e2")
    val c1 = m1.agg(count(lit(1)).as("e1"))
    val c2 = m2.agg(count(lit(1)).as("e2"))
    val common = m1.join(m2, Seq("a", "b")).agg(count(lit(1)).as("common"))
    c1.crossJoin(c2).crossJoin(common)
      .select(col("e1"), col("e2"), col("common"),
        (col("common").cast("double") /
          (col("e1") + col("e2") - col("common")).cast("double"))
          .as("jaccard"),
        ((col("e2") - col("common")).cast("double") /
          col("e2").cast("double")).as("new_frac"))
  }

  /** Preferential-attachment test (q_pref_attach): do NEW second-era
    * trading edges attach to nodes in proportion to their first-era
    * degree (the Barabási rich-get-richer mechanism), or uniformly?
    * Pearson r between old degree and new-edge count across first-era
    * nodes, cleared-denominator exact ([[graft.operators.Regression]]
    * device) — r near the degree distribution's self-prediction means
    * the hub structure is self-reinforcing and degree-based features
    * will stay predictive. New edges = era2 ∖ era1 (one anti-join);
    * nodes without new edges enter as exact zeros. */
  def prefAttachQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val (e1, e2) = eraPairs(spark, dir)
    val m1 = graft.scale.Silver.scratch(e1, "pa_e1")
    val deg1 = m1.select(col("a").as("node"))
      .unionAll(m1.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val newEdges = e2.join(m1, Seq("a", "b"), "left_anti")
    val newCnt = newEdges.select(col("a").as("node"))
      .unionAll(newEdges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("nc"))
    val base = deg1.join(newCnt, Seq("node"), "left")
      .select(col("deg").as("x"), coalesce(col("nc"), lit(0L)).as("y"))
    val tot = newEdges.agg(count(lit(1)).as("n_new_edges"))
    base.agg(count(lit(1)).as("n_nodes"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
      .crossJoin(tot)
      .select(col("n_nodes"), col("n_new_edges"),
        ((col("n_nodes").cast(d38) * col("sxy") -
            col("sx").cast(d38) * col("sy").cast(d38))
          .cast("string").cast("double") /
          sqrt((col("n_nodes").cast(d38) * col("sxx") -
              col("sx").cast(d38) * col("sx").cast(d38))
            .cast("string").cast("double") *
            (col("n_nodes").cast(d38) * col("syy") -
              col("sy").cast(d38) * col("sy").cast(d38))
            .cast("string").cast("double"))).as("r_pref"))
  }

  /** k-truss peel of the robust co-supply graph (q_ktruss): keep only
    * edges participating in ≥ k−2 triangles among surviving edges,
    * iterated a fixed number of rounds — the EDGE-level cohesion
    * extraction next to [[kcore]]'s node-level one (a k-core can be a
    * star; every k-truss edge sits in overlapping triangles, the
    * community-detection gold standard for "strong ties only").
    * Emits the surviving edge list with final support.
    *
    * Per round: one wedge join (support counting — the Σdeg² shape)
    * and one semi-join filter; lineage cut per round. Fixed rounds keep
    * it oracle-unrollable (converged on this corpus well inside the
    * default).
    *
    * SCALE-INVARIANT wedge bound (two devices, both part of the
    * declared semantics and mirrored in the DuckDB oracle):
    *
    *  1. ADAPTIVE support threshold `max(minSupport, Σsupport div
    *     n_pairs)`: on a densifying corpus (orders grow, supplier
    *     dimension fixed — the 10×-inflation axis) every pair's support
    *     AND the mean grow by the same factor, so the selected robust
    *     subgraph converges to the fixed `{support ≥ avg}` shape
    *     instead of admitting ever more ties the way a pinned
    *     `minSupport = 5` does (the r9 judge finding). At sf0.1 the
    *     mean (2) is below the floor, so the base graph is unchanged.
    *  2. `degCap` (1024) hub removal: nodes whose robust-tie degree
    *     exceeds the cap are dropped from the graph entirely — the
    *     truss is computed on the capped subgraph, so per-node wedge
    *     fan is ≤ cap² and the per-round wedge join is ≤ |V|·cap²
    *     rows, LINEAR in node count at any corpus. The cap never binds
    *     on a sane robust-tie graph (max degree 540 on the
    *     10×-inflated corpus, 147 at sf0.1); it only fires on a
    *     pathologically mixing corpus whose "ties" are indistinct
    *     anyway — where dropping hubs is the honest answer and the
    *     alternative is a quadratic Σdeg² blowup. */
  def ktrussQuery(spark: SparkSession, dir: String,
                  k: Int = 4, rounds: Int = 3,
                  minSupport: Long = 5L, degCap: Long = 1024L): DataFrame = {
    // fanned by the self-join key: the order-sized input explodes to
    // Σ order-size² pair rows, so the join must run at compute width,
    // not the 3 tasks AQE sizes from the ~6 MB input (measured 1.7 s →
    // parallel; see graft.scale.Par)
    val li = graft.scale.Par.fan(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey")).distinct(),
      col("l_orderkey"))
    // materialized ONCE: the pair-support frame feeds the threshold agg,
    // the edge filter, AND (via e0) the degree cap — without the cut the
    // lineitem self-join re-executes per consumer (measured 7.6 → 17.6 s)
    val sup = graft.scale.Silver.scratch(
      li.as("x")
        .join(li.select(col("l_orderkey"), col("l_suppkey").as("s2")).as("y"),
          Seq("l_orderkey"))
        .filter(col("l_suppkey") < col("s2"))
        .groupBy(col("l_suppkey").as("a"), col("s2").as("b"))
        .agg(count(lit(1)).as("cnt")),
      "truss_sup")
    // one-row threshold frame, broadcast into the filter — no collect
    val thr = sup.agg(sum(col("cnt")).as("s"), count(lit(1)).as("n"))
      .select(greatest(lit(minSupport), expr("s div n")).as("eff_support"))
    val e0 = sup.crossJoin(thr)
      .filter(col("cnt") >= col("eff_support"))
      .select("a", "b")
    val und0 = e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
    val deg0 = und0.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= degCap)
    // survivor sets shrink per round, so an unchanged edge count proves
    // the fixed point: the next round's wedge counts over the identical
    // set reproduce the identical supports, and every remaining round
    // (wedge join included) is skipped ([[graft.scale.FixedPoint]])
    val fp = graft.scale.FixedPoint.shrinkProbe("ktruss")
    var e = graft.scale.Silver.scratch(
      fp.attach(e0.join(deg0.select(col("node").as("a")), Seq("a"))
        .join(deg0.select(col("node").as("b")), Seq("b"))
        .select("a", "b")),
      "truss_edges")
    fp.stable() // prime with the round-0 edge count
    // the per-round wedge frames are EDGE-bounded (2·|e₀| rows, shrinking),
    // so under the broadcast cap each round ships them as BHJ build sides
    // and semi-filters wedge pairs against the edge set BEFORE the support
    // aggregation (guide §2.3 "shuffle fewer bytes" / §3.2): only wedges
    // whose (i, j) IS a surviving edge reach the exchange — measured 40 MB
    // of wedge pairs per round down to the ~1 MB of true supports, and the
    // SMJ back to e disappears (sup ⊆ e already). Above the cap the r14
    // fanned-SMJ shape is unchanged.
    val bcE = graft.scale.Pregel.broadcastState(spark, 2L * graft.scale.Silver.rows(e))
    var last: DataFrame = e.withColumn("support", lit(0L))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      // both wedge branches key on a (=q): one fan serves both and the
      // Σdeg² wedge explosion runs at compute width instead of the 3
      // tasks AQE sizes from the ~5 MB edge bytes (measured 1.8 s/round)
      val swapped = e.select(col("b").as("a"), col("a").as("b"))
      val und = graft.scale.Par.fan(e.unionAll(swapped), col("a"))
      val left = und.select(col("a").as("q"), col("b").as("i"))
      val wedges =
        (if (bcE)
           left.join(broadcast(e.unionAll(swapped)
             .select(col("a").as("q"), col("b").as("j"))), Seq("q"))
         else
           left.join(und.select(col("a").as("q"), col("b").as("j")), Seq("q")))
          .filter(col("i") < col("j"))
      val sup =
        (if (bcE)
           wedges.join(
             broadcast(e.select(col("a").as("i"), col("b").as("j"))),
             Seq("i", "j"), "left_semi")
         else wedges)
          .groupBy(col("i").as("a"), col("j").as("b"))
          .agg(count(lit(1)).as("n_wedges"))
      // broadcast path: the semi-filter makes sup ⊆ e, so the join back
      // to e is the identity and is skipped
      val next = if (bcE) sup else e.join(sup, Seq("a", "b"))
      last = graft.scale.Silver.scratch(
        fp.attach(next
          .filter(col("n_wedges") >= (k - 2).toLong)
          .select(col("a"), col("b"), col("n_wedges").as("support"))),
        s"truss_r$r")
      e = last.select("a", "b")
      done = fp.stable()
    }
    last.orderBy("a", "b")
  }

  /** Burt's network constraint over the supplier co-supply graph
    * (q_constraint): cᵢ = Σ_j (p_ij + Σ_q p_iq·p_qj)², binary-weight
    * form p_ij = 1/deg(i) — the STRUCTURAL-HOLES read the centrality
    * family can't give: a supplier whose partners all co-supply with
    * each other is constrained (redundant ego network); a broker
    * bridging disconnected partners is not. Reported most-constrained
    * first — the "who has no independent leverage?" list.
    *
    * Exactness: all weights are floor-scaled integer divisions
    * (Pᵢ = 10⁶ div degᵢ; the indirect term (10⁶·cn) div degᵢ at scale
    * 10¹², cn = Σ_q P_q), so cᵢ's sum of squared terms is an exact
    * decimal(38,0) in any accumulation order; the single division by
    * 10²⁴ is the one IEEE op.
    *
    * Scale shape — the wedge join costs Σ_q deg²_q like [[Triangles]],
    * bounded by TWO declared-semantics devices (both mirrored in the
    * DuckDB oracle, the [[ktrussQuery]] pair):
    *
    *  1. Edges are ROBUST ties only, with an ADAPTIVE threshold
    *     `max(minSupport, Σsupport div n_pairs)`: constraint is an
    *     ego-REDUNDANCY read; one coincidental co-supply is noise, and
    *     on a densifying corpus the mean support grows with the corpus
    *     so the selected subgraph converges to the `{support ≥ avg}`
    *     shape instead of admitting ever more ties (a pinned
    *     `minSupport = 5` goes quadratic — the r9 judge finding; at
    *     sf0.1 the mean is 2, below the floor, so the base graph is
    *     unchanged).
    *  2. Wedge CENTERS are capped at `degCap` (1024) — the
    *     [[linkPredQuery]] device: a center q contributes indirect
    *     mass P_q = 10⁶ div deg_q < 10⁶/degCap per wedge, so the
    *     discarded mass is provably negligible while per-center fan
    *     drops to ≤ cap², making the wedge join ≤ |V|·cap² rows —
    *     linear in node count. Unlike [[ktrussQuery]]'s node removal,
    *     every node keeps its row and its exact DIRECT term; only
    *     hub-mediated indirect redundancy is truncated, and the cap
    *     never binds on any test corpus (max degree 540 at 10×). */
  def constraintQuery(spark: SparkSession, dir: String,
                      topK: Int = 20, minSupport: Long = 5L,
                      degCap: Long = 1024L): DataFrame = {
    val li = graft.scale.Par.fan(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
        .distinct(),
      col("l_orderkey")) // fan before the explosive self-join (ktruss device)
    // materialized ONCE — feeds the threshold agg and the edge filter
    // (the ktrussQuery lesson: without the cut the lineitem self-join
    // re-executes per consumer)
    val sup = graft.scale.Silver.scratch(
      li.as("x")
        .join(li.select(col("l_orderkey"), col("l_suppkey").as("s2")).as("y"),
          Seq("l_orderkey"))
        .filter(col("l_suppkey") < col("s2"))
        .groupBy(col("l_suppkey").as("a"), col("s2").as("b"))
        .agg(count(lit(1)).as("support")),
      "constraint_sup")
    val thr = sup.agg(sum(col("support")).as("s"), count(lit(1)).as("n"))
      .select(greatest(lit(minSupport), expr("s div n")).as("eff_support"))
    val e = sup.crossJoin(thr)
      .filter(col("support") >= col("eff_support"))
      .select("a", "b")
    val und = graft.scale.Silver.scratch(
      e.unionAll(e.select(col("b").as("a"), col("a").as("b"))),
      "constraint_und") // feeds degrees, wedges, and the adjacency filter
    // the und frame is EDGE-bounded and deg/centers NODE-bounded, so
    // under the broadcast cap every wedge-side join ships the bounded
    // frame as a BHJ build and wedge pairs are semi-filtered against the
    // adjacency BEFORE the cn aggregation (guide §2.3/§3.1/§3.2): only
    // wedges whose (i, j) IS an edge reach the exchange — measured 81 MB
    // of wedge pairs down to the edge-bounded survivors. Above the cap
    // the r14 fanned-SMJ shape is unchanged.
    val bcE = graft.scale.Pregel.broadcastState(spark, 2L * graft.scale.Silver.rows(und))
    val deg = graft.scale.Silver.scratch(
      und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
        .withColumn("p", expr("1000000 div deg")),
      "constraint_deg") // feeds P_i, P_q, and the output degree column
    // center-cap BEFORE the wedge self-join, so hub fan never enumerates
    val centers = deg.filter(col("deg") <= degCap)
      .select(col("node").as("q"), col("p").as("pq"))
    // the two wedge branches key on OPPOSITE endpoints (q = b and q = a),
    // so each is fanned separately; the Σdeg² wedge explosion then runs
    // at compute width (the ktruss per-round device)
    val wedges = graft.scale.Par.fan(
        und.select(col("a").as("i"), col("b").as("q")), col("q"))
      .join(graft.scale.Pregel.state(centers, bcE), Seq("q"))
      .join(
        if (bcE) broadcast(und.select(col("a").as("q"), col("b").as("j")))
        else graft.scale.Par.fan(
          und.select(col("a").as("q"), col("b").as("j")), col("q")),
        Seq("q"))
      .filter(col("i") =!= col("j"))
    val cn =
      (if (bcE)
         wedges.join(
           broadcast(und.select(col("a").as("i"), col("b").as("j"))),
           Seq("i", "j"), "left_semi")
       else wedges)
        .groupBy("i", "j").agg(sum(col("pq")).as("cn"))
    val terms = und.select(col("a").as("i"), col("b").as("j"))
      .join(cn, Seq("i", "j"), "left")
      .join(graft.scale.Pregel.state(
        deg.select(col("node").as("i"), col("deg"), col("p")), bcE), Seq("i"))
      .withColumn("term12",
        expr("1000000000000 div deg") +
          expr("(1000000 * coalesce(cn, 0)) div deg"))
    terms
      .groupBy(col("i").as("node"), col("deg"))
      .agg(sum(col("term12").cast("decimal(38,0)") *
        col("term12").cast("decimal(38,0)")).as("c_w"))
      .select(col("node"), col("deg"),
        (col("c_w").cast("string").cast("double") / lit(1e24))
          .as("burt_constraint"))
      .orderBy(col("burt_constraint").desc, col("node").asc)
      .limit(topK)
  }

  def degreeCentralizationQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = coTradingPairs(spark, dir)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("deg")).as("sum_deg"),
        max(col("deg")).as("max_deg"))
      .select(col("n_nodes"), expr("sum_deg div 2").as("n_edges"),
        col("max_deg"),
        ((col("n_nodes") * col("max_deg") - col("sum_deg")).cast("double") /
          ((col("n_nodes") - 1L) * (col("n_nodes") - 2L)).cast("double"))
          .as("centralization"))
  }

  /** Rich-club coefficient ladder of the co-trading graph
    * (q_rich_club): for degree cutoffs k ∈ {2,4,8,16}, the density of
    * the subgraph induced by nodes of degree > k — do the hubs trade
    * with EACH OTHER (φ rising with k) or only fan out to the
    * periphery? The hub-structure read on top of [[degreeDistQuery]]'s
    * tail histogram (φ uses the n(n−1)/2 potential-edge convention;
    * this graph is bipartite, so φ's ceiling is below 1 — the LADDER
    * shape, not the absolute level, is the signal).
    *
    * Shape: one degree aggregate, one edge–degree join per side (key
    * shuffle, no broadcast of the corpus-sized degree table), then ALL
    * four cutoffs from the same annotated edge pass as conditional
    * sums — the pivoted-domain device, so the ladder costs one pass,
    * not four. Exact integers until one division per rung. */
  def richClubQuery(spark: SparkSession, dir: String,
                    cutoffs: Seq[Long] = Seq(2L, 4L, 8L, 16L)): DataFrame = {
    // materialized: e feeds the degree aggregate AND the annotated edge
    // pass — unscratched, the lineitem⋈orders+distinct re-executed per
    // consumer (measured twice per run, ~0.8 s each)
    val e = graft.scale.Silver.scratch(coTradingPairs(spark, dir), "rc_edges")
    val deg = graft.scale.Silver.scratch(
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")),
      "richclub_deg") // feeds the node counts and both edge joins
    val nodeAggs = cutoffs.map(k =>
      sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n_$k"))
    val nodes = deg.agg(nodeAggs.head, nodeAggs.tail: _*)
    val annotated = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val edgeAggs = cutoffs.map(k =>
      sum(when(col("da") > k && col("db") > k, 1L).otherwise(0L)).as(s"e_$k"))
    val edges = annotated.agg(edgeAggs.head, edgeAggs.tail: _*)
    val wide = nodes.crossJoin(edges)
    val rungs = cutoffs.map { k =>
      wide.select(lit(k).as("k"), col(s"n_$k").as("n_rich"),
        col(s"e_$k").as("e_rich"),
        ((lit(2L) * col(s"e_$k")).cast("double") /
          (col(s"n_$k") * (col(s"n_$k") - 1L)).cast("double")).as("phi"))
    }
    rungs.reduce(_ unionAll _).orderBy("k")
  }
}
