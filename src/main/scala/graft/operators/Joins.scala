package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-shaped operators beyond plain equi-joins (SURVEY.md §2.4).
  *
  *  - symmetric-pair normalization (J5 — head-to-head self-join semantics,
  *    reference src/analytics/engine.py:193-229): instead of the reference's
  *    O(matches²) per-row scan, normalize the unordered pair to
  *    (least, greatest) and aggregate — one shuffle, no self-join.
  *  - semi/anti joins (J6 get-or-create flows, src/database/services/
  *    bundesliga.py:18-39): existence checks without materializing the
  *    right side's columns; Spark plans them as broadcast/shuffled
  *    hash-join LeftSemi/LeftAnti with no row multiplication.
  */
object Joins {

  /** Normalized unordered-pair key: (least(a,b), greatest(a,b)).
    * H2H "team A vs team B regardless of venue" becomes a plain groupBy. */
  def symmetricPair(a: Column, b: Column): (Column, Column) =
    (least(a, b), greatest(a, b))

  /** Rows of `left` with at least one match in `right` (EXISTS). */
  def semi(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_semi")

  /** Rows of `left` with no match in `right` (NOT EXISTS) — the "create"
    * side of get-or-create dimension resolution. */
  def anti(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_anti")

  /** Sorted-neighborhood entity-resolution blocking (q_sorted_neighborhood)
    * — the THIRD blocking family next to token blocking
    * (EntityResolution's approx prefilter) and LSH banding: sort all
    * records by a blocking key and compare each record only to its `w`
    * successors in sort order. Candidates are exactly n·w — linear, skew-
    * immune (a hot token floods token blocking; sort order cannot
    * concentrate), and complementary in recall (catches near-dups whose
    * variant token would miss the token block but which sort adjacently).
    *
    * The global sort position comes from
    * [[Ranking.distributedGlobalRank]] (range exchange + offset
    * broadcast — no single-partition window), and the neighbor pairing is
    * an EQUI-join on rank+offset (offsets exploded 1..w), not a range
    * self-join — so the whole thing is shuffle-bounded by n·w rows.
    * Survivors are scored with plain Levenshtein (engine-portable for the
    * ASCII keys used here) and cut at `maxDist`. */
  def sortedNeighborhood(records: DataFrame, id: Column, name: Column,
                         w: Int = 2, maxDist: Int = 2): DataFrame = {
    // w=0 would NOT mean "no pairs": sequence(rnk+1, rnk+0) defaults to
    // step -1 (descending), emitting [rnk+1, rnk] — a bogus self-pair
    // (dist 0, always kept) plus w=1 behavior. Reject instead.
    require(w >= 1, s"sortedNeighborhood window must be >= 1 (got $w)")
    val ranked = Ranking.distributedGlobalRank(
        records.select(id.as("id"), name.as("name")),
        Seq(col("name").asc, col("id").asc), rankCol = "rnk", nCol = "__n")
      .select("id", "name", "rnk")
    val probes = ranked
      .select(col("id").as("id1"), col("name").as("name1"),
        explode(sequence(col("rnk") + 1, col("rnk") + w)).as("rnk"))
    probes.join(
        ranked.select(col("id").as("id2"), col("name").as("name2"), col("rnk")),
        Seq("rnk"))
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("id1", "id2", "name1", "name2", "dist")
      .orderBy("id1", "id2")
  }

  /** q_sorted_neighborhood over customer names. */
  def sortedNeighborhoodQuery(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    sortedNeighborhood(graft.sources.Tables.customer(spark, dir),
      col("c_custkey"), col("c_name"))

  /** Bipartite projection (q_bipartite): project the customer↔supplier
    * purchase graph onto suppliers — edge weight = number of customers
    * the pair shares ("co-shopped suppliers", the retail flavor of
    * co-citation / co-view graphs). Top-50 heaviest pairs.
    *
    * The self-join is keyed on the customer, so its fan-out is
    * Σ_c d(c)² where d(c) = a customer's DISTINCT suppliers — bounded by
    * per-customer basket size, never corpus-quadratic (the same bound
    * family as [[symmetricPair]]'s H2H rewrite and the shingle blocks).
    * The projected pair list shuffles on the (s1, s2) key; the final
    * top-k is TakeOrderedAndProject. */
  def bipartiteProjectionQuery(spark: org.apache.spark.sql.SparkSession,
                               dir: String, k: Int = 50): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    // one row per (customer, supplier) — the bipartite edge list; feeds
    // both sides of the projection self-join.
    val cs = graft.scale.Silver.scratch(
      graft.scale.Par.fan(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("s")),
        col("cust")).distinct(), // fan by the self-join key: the per-customer pair explosion must run at compute width (ktruss device)
      "bip_edges")
    cs.as("a").join(cs.as("b"),
        col("a.cust") === col("b.cust") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("shared_customers"))
      .orderBy(col("shared_customers").desc, col("s1").asc, col("s2").asc)
      .limit(k)
  }

  /** Neighbor-set similarity (q_graph_jaccard): Jaccard of two suppliers'
    * CUSTOMER sets — |A∩B| from the same customer-keyed projection join
    * as [[bipartiteProjectionQuery]], |A|,|B| from per-supplier degrees
    * joined on each side. The "structurally equivalent nodes" query
    * (interchangeable suppliers, substitute products) that raw shared
    * counts get wrong: a hub shares customers with everyone, Jaccard
    * normalizes that away. Pairs are thresholded by an exact integer
    * cross-multiply (shared·4 ≥ union·1, i.e. J ≥ 0.25) before the one
    * IEEE division; top-k by (jaccard, pair) via TakeOrderedAndProject. */
  def graphJaccardQuery(spark: org.apache.spark.sql.SparkSession,
                        dir: String, k: Int = 50): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val cs = graft.scale.Silver.scratch(
      graft.scale.Par.fan(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_suppkey").as("s")),
        col("cust")).distinct(), // fan by the self-join key (see bipartiteProjectionQuery)
      "gj_edges")
    // degrees are SUPPLIER-sized while `shared` is pair-sized: joined
    // lazily the planner SMJ'd both degree joins, re-exchanging the pair
    // frame twice (hash(s1) then hash(s2)). Materialized, the degree
    // table broadcasts (guide §3.1) and the pair frame never exchanges
    // after its groupBy.
    val deg = graft.scale.Silver.scratch(
      cs.groupBy(col("s")).agg(count(lit(1)).as("d")), "gj_deg")
    val shared = cs.as("a").join(cs.as("b"),
        col("a.cust") === col("b.cust") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(deg.select(col("s").as("s1"), col("d").as("d1")), "s1")
      .join(deg.select(col("s").as("s2"), col("d").as("d2")), "s2")
      .withColumn("uni", col("d1") + col("d2") - col("shared"))
      .filter(col("shared") * 4 >= col("uni"))
      .withColumn("jaccard", col("shared").cast("double") / col("uni"))
      .select("s1", "s2", "shared", "d1", "d2", "jaccard")
      .orderBy(col("jaccard").desc, col("s1").asc, col("s2").asc)
      .limit(k)
  }
}
