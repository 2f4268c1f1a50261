package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed PageRank — the canonical ITERATIVE join-aggregate
  * workload (power iteration over the link matrix), complementing the
  * single-pass graph ops ([[Triangles]], `Dedup.connectedComponents`).
  * The reference's entity-influence analytics (player/team importance
  * from the relational co-occurrence graph) map here.
  *
  * Arithmetic is INTEGER-QUANTIZED so results are engine-portable and
  * oracle-checkable: ranks live in integer micro-units (`Init` per node),
  * each edge contribution is `rank div outdeg`, and the damping update is
  * `(15·Init) div 100 + (85·Σ contrib) div 100` — every step exact Long
  * arithmetic, no FP summation-order dependence (float PageRank sums in
  * nondeterministic order across partitions; quantized PageRank is
  * bit-stable under ANY partitioning and replays exactly in DuckDB as
  * unrolled CTE rounds). Quantization error per step is < 1 unit per
  * inbound edge — noise at the 1e-9 scale of `Init`.
  *
  * Scale shape (per iteration): one shuffle join of edges⋈ranks on `src`
  * (outdeg rides the same key — co-partitioned), one map-side-combining
  * sum keyed by `dst`, one per-node left join. The edge list and node
  * list are materialized ONCE ([[graft.scale.Silver.scratch]]); each
  * iteration's rank table is materialized before the next (the classic
  * iterative-lineage cut — without it Spark re-executes every prior
  * iteration per reference, and the plan grows exponentially). No
  * driver-side state beyond the iteration counter; 1000 executors run
  * each iteration as ordinary shuffles.
  *
  * Dangling mass: nodes without out-edges absorb rank (no
  * redistribution) — the common simplification; both engines implement
  * the same recurrence so the oracle is exact. `Init` = 1e9 keeps
  * `85 · Σ incoming` within Long for graphs up to ~1e8 nodes; at larger
  * node counts scale `Init` down (the recurrence is homogeneous in the
  * base term, so relative ranking is preserved).
  */
object PageRank {

  val Init: Long = 1000000000L

  /** Fixed-iteration integer PageRank over a directed edge list
    * (columns `src`, `dst`; duplicates allowed — deduped here). Returns
    * (node, rank) for every node after `iters` rounds.
    *
    * `ckptEvery` bounds plan depth on the shuffle path: each rank table
    * is consumed exactly ONCE (by the next iteration), so a lazy chain
    * executes every stage once anyway — materialization buys nothing
    * per-iteration and costs a write-read round trip. It is only needed
    * to keep analysis/codegen time and lineage bounded over MANY
    * iterations, so the cut happens every few rounds, not every round.
    * On the broadcast path ([[graft.scale.Pregel]]) the cut IS per
    * round: each round's broadcast build executes the state subtree, so
    * an uncut chain would re-run every prior round per broadcast. */
  def pagerank(edges: DataFrame, iters: Int = 5, ckptEvery: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    // The static edge frame is fanned BY ITS CONSUMER KEY before the cut
    // (guide §2.4, the bfs device) and carries outdeg as a WINDOW count
    // riding the same hash(src) exchange (r15): the per-round
    // groupBy(src) re-aggregation and outdeg join — an E-sized scan and
    // an E-sized join every round on both paths — collapse into one
    // setup pass.
    val e = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        edges.select(col("src"), col("dst")), col("src")).distinct()
        .withColumn("outdeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src"))),
      "pr_edges")
    val nodes = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        e.select(col("src").as("node"))
          .unionAll(e.select(col("dst").as("node"))), col("node"))
        .distinct(),
      "pr_nodes")
    // Pregel shape (r15): the rank frame is node-sized, so when the
    // node space fits the broadcast cap every per-round join ships the
    // STATE and the edge list never shuffles (measured: the SMJ path
    // re-exchanged the edge frame every round at runtime — the two
    // checkpoints' partition counts never match).
    val bc = graft.scale.Pregel.broadcastState(e.sparkSession, graft.scale.Silver.rows(nodes))
    val base = Init * 15L / 100L
    // integer-quantized ranks can reach an EXACT fixed point inside the
    // horizon; when two consecutive materialized rounds are checksum-
    // equal AND confirmed identical, the remaining rounds are identity
    // and are skipped ([[graft.scale.FixedPoint]]). Unmaterialized
    // rounds reset the probe so only consecutive rounds ever compare.
    val fp = graft.scale.FixedPoint.cycleProbe(
      Seq(col("node"), col("rank")), "pr")
    var rank = nodes.withColumn("rank", lit(Init))
    var i = 0
    var settled: Option[DataFrame] = None
    while (i < iters && settled.isEmpty) {
      i += 1
      val incoming = e
        .join(graft.scale.Pregel.state(
          rank.withColumnRenamed("node", "src"), bc), "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      val next = nodes.join(graft.scale.Pregel.state(incoming, bc),
          Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
      if ((bc || i % ckptEvery == 0) && i < iters) {
        rank = graft.scale.Silver.scratch(fp.attach(next), "pr_iter")
        settled = fp.settle(rank, iters - i)
        settled.foreach(f => rank = f)
      } else {
        rank = next
        fp.reset()
      }
    }
    rank
  }

  /** q_pagerank: influence ranking over the supplier↔customer co-trading
    * graph (an edge each way per distinct supplier–customer pair that
    * shares a lineitem) — 5 quantized rounds, full (node, rank) table.
    * Customers map to `-(custkey + 1)` (strictly negative) so the two
    * key domains cannot collide — a bare sign flip would merge supplier
    * 0 with customer 0 (corpus keys start at 0). */
  def pagerankQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (-(col("o_custkey") + 1)).as("c"))
      .distinct()
    val edges = pairs.select(col("s").as("src"), col("c").as("dst"))
      .unionAll(pairs.select(col("c").as("src"), col("s").as("dst")))
    pagerank(edges, iters = 5)
      .select(col("node").cast("long").as("node"), col("rank"))
      .orderBy("node")
  }

  /** HITS hubs & authorities over a DIRECTED edge list — the
    * mutual-reinforcement companion to [[pagerank]] (Kleinberg's
    * algorithm): a node is a good authority if good hubs point at it,
    * a good hub if it points at good authorities.
    *
    * Same integer-quantization discipline as pagerank: scores live on a
    * 10⁴ grid; each half-round is one edges⋈scores join + map-side-
    * combining sum, then the max-renormalization
    * `(raw·10⁴) div max(raw)` — truncating division on NON-NEGATIVE
    * operands, where DuckDB's flooring `//` agrees (the pca_power
    * device). max is accumulation-order-free, so every iterate replays
    * bitwise in the unrolled-CTE oracle. Bound: raw = Σ scores ≤
    * 10⁴·degree, so raw·10⁴ stays in Long up to ~10¹⁴-degree hubs.
    *
    * Scale shape per round: two keyed shuffles (by dst, by src) over
    * the edge list, two node-spine left joins, a one-row broadcast max;
    * lineage cut per round via [[graft.scale.Silver.scratch]]. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    // e is consumed on BOTH endpoints (by src for authorities, by dst
    // for hubs): on the shuffle path keep two key-partitioned copies so
    // neither half-round re-shuffles the edge list (one extra checkpoint
    // of E rows buys 2·iters elided edge exchanges — the bfs device,
    // two-key form). On the broadcast path (r15, [[graft.scale.Pregel]])
    // the edge frame is never join-shuffled at all, so ONE checkpoint
    // serves both half-rounds and the dst copy is skipped outright.
    val eSrc = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        edges.select(col("src"), col("dst")), col("src")).distinct(),
      "hits_edges_src")
    val nodes = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        eSrc.select(col("src").as("node"))
          .unionAll(eSrc.select(col("dst").as("node"))), col("node"))
        .distinct(),
      "hits_nodes")
    val bc = graft.scale.Pregel.broadcastState(eSrc.sparkSession, graft.scale.Silver.rows(nodes))
    val eDst = if (bc) eSrc else graft.scale.Silver.scratch(
      graft.scale.Par.byKey(eSrc, col("dst")), "hits_edges_dst")
    // empty-graph guard: a null max would null every score (the
    // Triangles empty-edge lesson); with no edges all scores are 0.
    //
    // r14: the max-renormalizer rides the half-round's own
    // materialization as an `observe` side effect (the
    // connectedComponents checksum device) instead of a broadcast
    // one-row frame — the broadcast build RE-EXECUTED the whole raw
    // subtree (edges⋈scores join + aggregation) a second time per
    // half-round, doubling the iteration work. The observed max is the
    // same exact long; renorm becomes a literal in the next plan.
    def renorm(raw: DataFrame, out: String, tag: String): DataFrame = {
      val obs = new org.apache.spark.sql.Observation(
        s"hits_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
      val rawM = graft.scale.Silver.scratch(
        raw.observe(obs, max(col("raw")).as("mx")), s"hits_raw_$tag")
      val mx = Option(obs.get.apply("mx")).map(_.asInstanceOf[Long])
      nodes.join(graft.scale.Pregel.state(rawM, bc), Seq("node"), "left")
        .select(col("node"),
          mx.map(m => expr(s"(coalesce(raw, 0L) * 10000) div $m"))
            .getOrElse(lit(0L)).as(out))
    }
    // a_i is a pure function of h_{i-1} and h_i of a_i, so h reaching an
    // exact fixed point pins BOTH sequences — probe h only, fixed point
    // only (a period-2 h would leave a's final parity frame uncomputed,
    // so allowCycle = false; [[graft.scale.FixedPoint]])
    val fp = graft.scale.FixedPoint.cycleProbe(
      Seq(col("node"), col("h")), "hits")
    var h = nodes.withColumn("h", lit(10000L))
    var a = nodes.withColumn("a", lit(0L))
    var i = 0
    var settled: Option[DataFrame] = None
    while (i < iters && settled.isEmpty) {
      i += 1
      val ain = eSrc.join(graft.scale.Pregel.state(
          h.withColumnRenamed("node", "src"), bc), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("raw"))
      a = graft.scale.Silver.scratch(renorm(ain, "a", s"a$i"), "hits_a")
      val hout = eDst.join(graft.scale.Pregel.state(
          a.withColumnRenamed("node", "dst"), bc), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("raw"))
      h = graft.scale.Silver.scratch(
        fp.attach(renorm(hout, "h", s"h$i")), "hits_h")
      settled = fp.settle(h, iters - i, allowCycle = false)
      settled.foreach(f => h = f)
    }
    h.join(graft.scale.Pregel.state(a, bc), "node")
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** q_hits: hubs/authorities of the supplier→customer trading graph
    * (an edge per distinct supplier–customer lineitem pair — suppliers
    * can only be hubs, customers only authorities in this bipartite
    * orientation, which the scores confirm). 3 quantized rounds. */
  def hitsQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("src"), (-(col("o_custkey") + 1)).as("dst"))
      .distinct()
    hits(edges, iters = 3)
      .select(col("node").cast("long").as("node"), col("hub"),
        col("authority"))
      .orderBy("node")
  }

  /** Synchronous label propagation (community detection) over an
    * undirected edge list: labels start as node ids; each round every
    * node adopts its neighbors' most frequent label, ties to the
    * SMALLEST label (the min-struct argmax device — deterministic under
    * any partitioning, so fixed rounds replay exactly in the oracle;
    * float-free, seed-free, the cheap communities pass before a
    * modularity score justifies anything heavier).
    *
    * Scale shape per round: one edges⋈labels shuffle join, one
    * map-side-combining (node, label) count (bounded by E rows), one
    * argmax reduce to the node spine; lineage cut per round. Fixed
    * `iters` — synchronous LPA may oscillate on bipartite structure,
    * and a fixed horizon is exactly what an unrolled oracle can check. */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val e = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        edges.select(col("src"), col("dst")), col("src")).distinct(),
      "lpa_edges") // per-round join key — see pagerank
    val nodes = graft.scale.Silver.scratch(
      graft.scale.Par.byKey(
        e.select(col("src").as("node"))
          .unionAll(e.select(col("dst").as("node"))), col("node"))
        .distinct(),
      "lpa_nodes")
    val bc = graft.scale.Pregel.broadcastState(e.sparkSession, graft.scale.Silver.rows(nodes))
    // synchronous LPA either reaches an exact fixed point or (bipartite
    // structure) a period-2 oscillation — both pin every remaining round
    // once confirmed frame-exactly, so the horizon's tail is skipped and
    // the PARITY selects the final frame ([[graft.scale.FixedPoint]])
    val fp = graft.scale.FixedPoint.cycleProbe(
      Seq(col("node"), col("label")), "lpa")
    var lab = nodes.withColumn("label", col("node"))
    var i = 0
    var settled: Option[DataFrame] = None
    while (i < iters && settled.isEmpty) {
      i += 1
      // ONE exchange per round (r15): keying the raw votes by node alone
      // lets BOTH aggregations ride it — hash(node) satisfies the
      // (node, label) count's clustered distribution (subset key) and the
      // argmax's. The old shape exchanged twice (hash(node, label) for
      // the count, then hash(node) for the argmax); the partial-agg rows
      // it saved are few (labels are near-distinct per neighbor early
      // on), so a whole stage per round wins.
      val votes = graft.scale.Par.byKey(
          e.join(graft.scale.Pregel.state(
            lab.withColumnRenamed("node", "src"), bc), "src")
            .select(col("dst").as("node"), col("label")), col("node"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      val next = votes.groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
      // every node has in-edges (both directions registered), but keep
      // the isolated-node fallback for directed callers
      lab = graft.scale.Silver.scratch(
        fp.attach(
          nodes.join(graft.scale.Pregel.state(next, bc), Seq("node"), "left")
            .select(col("node"),
              coalesce(col("label"), col("node")).as("label"))), "lpa_iter")
      settled = fp.settle(lab, iters - i)
      settled.foreach(f => lab = f)
    }
    lab
  }

  /** q_label_prop: communities of the supplier↔customer co-trading
    * graph after 4 synchronous rounds — (node, community label,
    * community size). */
  def labelPropQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("s"), (-(col("o_custkey") + 1)).as("c"))
      .distinct()
    val edges = pairs.select(col("s").as("src"), col("c").as("dst"))
      .unionAll(pairs.select(col("c").as("src"), col("s").as("dst")))
    val lab = labelPropagation(edges, iters = 4)
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("comm_size"))
    lab.join(sizes, "label")
      .select(col("node").cast("long").as("node"),
        col("label").cast("long").as("label"), col("comm_size"))
      .orderBy("node")
  }
}
