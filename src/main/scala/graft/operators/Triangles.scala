package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed triangle counting over a co-occurrence graph — the
  * graph-shaped sibling of the H2H pair analytics (J5): "which triples of
  * entities all pairwise co-occur". Implemented degree-ordered
  * (Schank–Wagner / Cohen's MapReduce formulation), THE scale-out shape:
  *
  *  1. Orient every undirected edge from its lower endpoint to its higher
  *     endpoint under the total order ≺ = (degree, id). Every triangle
  *     then has exactly ONE "apex" node with two out-edges — it is counted
  *     once, with no post-hoc deduplication.
  *  2. Wedges are pairs of out-edges from one apex; the wedge count is
  *     Σ outdeg(v)², and because high-degree hubs sort HIGH in ≺, their
  *     out-degree is bounded by the graph arboricity — the hub that would
  *     make a naive neighbor join quadratic generates almost no wedges.
  *     (Orienting by raw id instead leaves Σ deg(hub)² wedges — the
  *     difference between O(m^{3/2}) and O(n·Δ²) work.)
  *  3. A wedge (u→v, u→w) closes iff oriented edge v→w exists: one
  *     equi-join against the oriented edge list.
  *
  * Three shuffles total (degree, wedge self-join, close join), all on
  * edge keys — no collect, no per-node state. The q_triangles oracle
  * recomputes per-node triangle counts in DuckDB with the INDEPENDENT
  * id-canonical formulation (a<b<c three-way join, no degrees at all).
  */
object Triangles {

  /** Broadcast-path budget for the estimated out-adjacency table size
    * (~64 MB — comfortably under typical `spark.sql
    * .autoBroadcastJoinThreshold`-style driver/executor memory budgets). */
  private val BroadcastMaxBytes = 64L * 1024 * 1024

  /** The part co-order edge list shared by the triangle-family queries:
    * parts sharing an order form an edge. Fanned by the self-join key
    * BEFORE the explosive join (the ktruss device): the pair fan-out is
    * Σ order-size² rows from a ~6 MB input, so without the explicit
    * width AQE runs it on ~3 tasks (measured 1.3-1.9 s at sf0.1). */
  private def coOrderEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.scale.Par.fan(
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey"))
    li.as("i").join(li.as("j"),
        col("i.l_orderkey") === col("j.l_orderkey") &&
          col("i.l_partkey") < col("j.l_partkey"))
      .select(col("i.l_partkey").as("a"), col("j.l_partkey").as("b"))
  }

  /** Per-node triangle participation counts from an undirected edge list
    * (columns `a`, `b`; distinct, a ≠ b, each edge once in either
    * direction). Returns (node, tri_cnt), only nodes in ≥1 triangle.
    *
    * `normalized = true` asserts the input is ALREADY canonical (a < b,
    * distinct) AND materialized — callers that built the edge frame via
    * `Silver.scratch` skip the redundant second normalize+materialize
    * pass this method would otherwise pay (one exchange + one silver
    * write saved; clusteringQuery/localClusteringQuery use it). */
  def nodeTriangleCounts(edges: DataFrame,
                         normalized: Boolean = false): DataFrame = {
    // The dedup'd edge list feeds THREE plan branches (degrees, oriented
    // edges, closing join) and the oriented list two more — Spark shares
    // no subtrees, so without materialization the upstream edge
    // derivation would re-execute once per branch (measured 4x on
    // q_triangles).
    val und = if (normalized) edges.select(col("a").as("x"), col("b").as("y"))
      else graft.scale.Silver.scratch(
        edges.select(least(col("a"), col("b")).as("x"),
          greatest(col("a"), col("b")).as("y")).distinct(),
        "tri_edges")
    // degrees materialized once (they feed both orientation joins and
    // the wedge-mass aggregate — the aggregation used to re-run per
    // consumer)
    val deg = graft.scale.Silver.scratch(
      und.select(col("x").as("v")).unionAll(und.select(col("y").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg")),
      "tri_deg")
    // Orient x—y from the (deg, id)-smaller endpoint to the larger.
    val withDeg = und
      .join(deg.withColumnRenamed("v", "x").withColumnRenamed("deg", "dx"), Seq("x"))
      .join(deg.withColumnRenamed("v", "y").withColumnRenamed("deg", "dy"), Seq("y"))
    val xOrd = struct(col("dx").as("d"), col("x").as("n"))
    val yOrd = struct(col("dy").as("d"), col("y").as("n"))
    val out = graft.scale.Silver.scratch(withDeg.select(
      when(xOrd < yOrd, col("x")).otherwise(col("y")).as("src"),
      when(xOrd < yOrd, col("y")).otherwise(col("x")).as("dst")),
      "tri_oriented")
    // Close wedges via out-adjacency intersection: each oriented edge
    // (u,v) contributes the triangles {u,v,w} for w ∈ N⁺(u) ∩ N⁺(v) —
    // each triangle counted exactly once at its source edge (w ∈ N⁺(v)
    // means the v→w closing edge exists; the other two rotations fail
    // the membership test). This ONE logical formulation never
    // materializes the Σ outdeg² wedge set as rows: the intersection
    // payload rides in per-node arrays (same bytes, ~avg-outdeg× fewer
    // rows, one less shuffle than a wedge self-join + closing equi-join;
    // measured 2.5× faster at the 11 M-edge scale point). Array sizes
    // are bounded by the ≺-orientation: max outdeg ≤ O(√m) (arboricity),
    // so no row ever carries a hub's full neighborhood.
    //
    // The only physical choice left is HOW the adjacency table joins:
    // broadcast when its estimated bytes (m ids × 16 B — sum() over zero
    // rows is NULL, hence the guard; an empty graph must yield an empty
    // result, not an NPE) fit a driver-safe cap, else two keyed shuffle
    // joins. The gate is sized in BYTES, not edge count: 10 M edges of
    // long ids is ~160 MB before serialization overhead — past the point
    // where shipping it to every executor beats a keyed shuffle.
    val m = Option(deg.agg(sum(col("deg"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) / 2
    val adjBytesEst = m * 16L
    val adj = out.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val a1 = adj.select(col("src").as("u1"), col("nbrs").as("nu"))
    val a2 = adj.select(col("src").as("u2"), col("nbrs").as("nv"))
    val (l, r) =
      if (adjBytesEst <= BroadcastMaxBytes) (broadcast(a1), broadcast(a2))
      else (a1, a2)
    val tris = out.join(l, col("src") === col("u1"))
      .join(r, col("dst") === col("u2"))
      .select(col("src").as("n1"), col("dst").as("n2"),
        explode(array_intersect(col("nu"), col("nv"))).as("n3"))
    tris.select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  /** q_triangles: parts that co-occur in the same order form an edge;
    * per-part triangle counts over that graph. */
  def triangleQuery(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    nodeTriangleCounts(edges).orderBy("node")
  }

  /** Local clustering coefficient per node (q_local_clustering): for
    * every part with degree ≥ 2 in the co-order graph, its closed-wedge
    * fraction lcc = tri/​(d(d−1)/2) — the per-node refinement of
    * [[clusteringQuery]]'s one global number, and the standard "is this
    * node a clique member or a hub bridge" feature. Triangle counts come
    * from the same degree-ordered counter (arboricity-bounded, never the
    * naive wedge join); nodes outside every triangle left-join to 0. The
    * output is dimension-sized (≤ |parts| rows). */
  def localClusteringQuery(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    val und = graft.scale.Silver.scratch(
      edges.select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y")).distinct(),
      "lcc_edges")
    val deg = und.select(col("x").as("v")).unionAll(und.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val tri = nodeTriangleCounts(und.select(col("x").as("a"), col("y").as("b")), normalized = true)
      .withColumnRenamed("node", "v")
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("v"), "left")
      .na.fill(0L, Seq("tri_cnt"))
      .select(col("v").as("node"), col("deg"),
        expr("deg * (deg - 1) div 2").as("wedges_v"), col("tri_cnt"))
      .withColumn("lcc",
        col("tri_cnt").cast("double") / col("wedges_v").cast("double"))
      .orderBy("node")
  }

  /** Global clustering coefficient (q_clustering): C = 3·T / W — the
    * one-number "how cliquish is this graph" summary (T = triangles,
    * W = wedges = Σ d(d−1)/2). Triangle mass reuses the degree-ordered
    * counter above (Σ per-node counts = 3T); wedges are one aggregate
    * over the degree table. All counts exact longs; `global_coef` is the
    * single IEEE division. Output also carries n_nodes/n_edges — the
    * graph's one-row fact sheet. */
  def clusteringQuery(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    val und = graft.scale.Silver.scratch(
      edges.select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y")).distinct(),
      "clust_edges")
    val deg = und.select(col("x").as("v")).unionAll(und.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val degStats = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("d")).as("sd"),
        sum(col("d") * (col("d") - 1)).as("sw"))
      .select(col("n_nodes"), expr("sd div 2").as("n_edges"),
        expr("sw div 2").as("wedges"))
    val triTotal = nodeTriangleCounts(und.select(col("x").as("a"), col("y").as("b")), normalized = true)
      .agg(coalesce(sum(col("tri_cnt")), lit(0L)).as("tri3")) // = 3 · T
    degStats.crossJoin(triTotal)
      .withColumn("triangles", expr("tri3 div 3"))
      .withColumn("global_coef",
        col("tri3").cast("double") / col("wedges"))
      .select("n_nodes", "n_edges", "wedges", "triangles", "global_coef")
  }

  /** Degree assortativity (q_assortativity): Pearson correlation of the
    * endpoint degrees over the symmetrized edge list — positive: hubs
    * link to hubs (social nets), negative: hubs link to leaves
    * (hub-and-spoke supply/infrastructure). One degree aggregate, two
    * edge-keyed degree joins, then [[Regression.groupedOls]]'s exact
    * decimal moments on a constant key — corr IS the assortativity.
    * Degrees are small integers so the decimal moments never approach
    * their bounds. */
  def assortativityQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val pairs = graft.scale.Silver.scratch(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("x"), (-(col("o_custkey") + 1)).as("y"))
        .distinct(),
      "assort_edges")
    val sym = pairs.unionAll(pairs.select(col("y").as("x"), col("x").as("y")))
    // degrees materialized once (they fed two join branches — the
    // aggregation used to run per consumer)
    val deg = graft.scale.Silver.scratch(
      sym.groupBy(col("x").as("v")).agg(count(lit(1)).as("d")), "assort_deg")
    val scored = sym
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
      .select(lit("all").as("g"), col("dx"), col("dy"))
    Regression.groupedOls(scored, Seq("g"), col("dx"), col("dy"))
      .select("g", "n", "slope", "intercept", "corr")
  }

  /** Newman modularity of the nation partition (q_modularity): is the
    * supplier co-order graph actually organized along nations? Q =
    * Σ_c (e_c/m − (a_c/2m)²), kept exact by clearing denominators: the
    * per-community numerator 4m·e_c − a_c² and the global numerator
    * Σ_c(4m·e_c − a_c²) are exact decimal(38,0); Q and each
    * community's contribution divide ONCE by 4m². Edges are supplier
    * pairs sharing an order (order-keyed self-join — Σ order-size²,
    * never suppliers²); degrees/communities are dimension-sized
    * aggregates with the nation dim broadcast. */
  def modularityQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val so = graft.scale.Par.fan(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("s"))
        .distinct(),
      col("o")) // fan by the self-join key (coOrderEdges device)
    val edges = graft.scale.Silver.scratch(
      so.as("a").join(so.as("b"),
          col("a.o") === col("b.o") && col("a.s") < col("b.s"))
        .select(col("a.s").as("x"), col("b.s").as("y"))
        .distinct(),
      "modularity_edges") // feeds m, degrees, and internal-edge counts
    val nations = broadcast(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey")))
    val m = edges.agg(count(lit(1)).as("m"))
    val deg = edges.select(col("x").as("v"))
      .unionAll(edges.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val aC = deg.join(nations, col("v") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("d")).as("a_c"))
    val eC = edges
      .join(nations.as("nx"), col("x") === col("nx.s_suppkey"))
      .join(nations.as("ny"), col("y") === col("ny.s_suppkey"))
      .filter(col("nx.s_nationkey") === col("ny.s_nationkey"))
      .groupBy(col("nx.s_nationkey").as("nk"))
      .agg(count(lit(1)).as("e_in"))
    val per = aC.join(eC, Seq("nk"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(m)
      .withColumn("num",
        lit(4).cast(d38) * col("m").cast(d38) * col("e_in").cast(d38) -
          col("a_c").cast(d38) * col("a_c").cast(d38))
    val q = per.agg(sum(col("num")).as("qnum"))
      .crossJoin(m)
      .select((col("qnum").cast("double") /
        (lit(4).cast(d38) * col("m").cast(d38) * col("m").cast(d38))
          .cast("double")).as("modularity"))
    per
      .join(broadcast(Tables.nation(spark, dir)),
        col("nk") === col("n_nationkey"))
      .crossJoin(q)
      .select(col("n_name").as("nation_name"), col("n_suppliers"),
        col("e_in"), col("a_c"),
        (col("num").cast("double") /
          (lit(4).cast(d38) * col("m").cast(d38) * col("m").cast(d38))
            .cast("double")).as("contribution"),
        col("modularity"))
      .orderBy("nation_name")
  }
}
