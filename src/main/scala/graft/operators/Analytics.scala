package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Gold-layer analytics queries (SURVEY.md §2.5–2.7) re-expressed over the
  * driver corpus (TESTDATA.md): customer≈player, nation≈team,
  * orders/lineitem≈match facts, events≈live stream.
  *
  * Numeric-determinism convention for oracle-checked outputs: monetary sums
  * go through `decimal(18,2)`/`decimal(18,4)` (exact, order-independent) and
  * are cast to double at the end; derived ratios are single IEEE double
  * operations over those exact values, so Spark and the DuckDB oracle agree
  * bitwise. Counts/ranks are cast to long to match DuckDB's BIGINT.
  *
  * Every query ends in a deterministic total order (unique tiebreak) so
  * top-k results are stable across engines.
  */
object Analytics {

  /** Benford first-digit probabilities log10(1 + 1/d), d = 1..9, as
    * shortest-round-trip doubles — the IDENTICAL literal strings appear
    * in the q_benford_gof oracle SQL, so both parsers round them to the
    * same double. Exposed private[graft] so ThirdSourceSpec can check
    * each value against an independent Math.log10 (the shared-formula
    * third-source defense). */
  private[graft] val BenfordP: Seq[(String, Double)] = Seq(
    ("1", 0.3010299956639812), ("2", 0.17609125905568124),
    ("3", 0.12493873660829992), ("4", 0.09691001300805642),
    ("5", 0.07918124604762482), ("6", 0.06694678963061322),
    ("7", 0.05799194697768673), ("8", 0.05115252244738129),
    ("9", 0.04575749056067514))

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def dec4(c: Column): Column = c.cast("decimal(18,4)")

  /** Flagship — "top performers" (reference src/analytics/engine.py:336-352):
    * fact ⋈ dim ⋈ dim → activity floor → derived ratio → ordered top-k.
    * J1 + P2 + A3 + W1 in one plan.
    *
    * Scale: orders⋈customer shuffles on the key; nation is broadcast (25
    * rows — dims stay broadcast at any SF). Top-k is TakeOrderedAndProject.
    */
  def topSpenders(spark: SparkSession, dir: String, minOrders: Int = 5, k: Int = 20): DataFrame = {
    val orders   = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)

    val joined = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))

    val agg = joined
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation_name"))
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_spend"))
      .filter(col("order_cnt") >= minOrders)
      .withColumn("avg_spend", col("total_spend") / col("order_cnt"))
      .select("c_custkey", "c_name", "nation_name", "order_cnt", "total_spend", "avg_spend")

    Ranking.topK(agg, k, col("total_spend").desc, col("c_custkey").asc)
  }

  /** P1–P6/P9/F13: pushed-down range+equality filters, pruned projection,
    * derived revenue, CASE classification. The whole filter reaches the
    * parquet scan (PushedFilters) and only 6 columns are read. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(lit("1998-01-01").cast("timestamp"),
                                        lit("2000-12-31").cast("timestamp"))
        && col("l_returnflag") === "N" && col("l_quantity") > 10)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec4(col("l_discount"))))
          .cast("double").as("revenue"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        when(col("l_quantity") < 20, "small")
          .when(col("l_quantity") < 35, "medium")
          .otherwise("large").as("size_class"))
      .orderBy("l_orderkey", "l_linenumber")

  /** A12/A1 — TPC-H-Q1-style grouped aggregation with exact decimal sums.
    * Catalyst plans partial (map-side) + final agg; one shuffle on the
    * 2-column group key. */
  def aggPricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec4(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("cnt"))
      .withColumn("avg_qty", col("sum_qty") / col("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** W1 grouped top-k: top 3 orders per priority class. One shuffle on the
    * partition key; rank filter applied before any further join. */
  def topOrdersPerPriority(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("o_orderpriority", "rk")
  }

  /** W2+A4 — "team form over last N matches" (reference engine.py:137-191,
    * a per-team Python row-loop): last-5 orders per customer via ranked
    * window, then aggregate. Set-based: one shuffle, no driver loop. */
  def recentForm(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("recent_cnt"),
        sum(dec2(col("o_totalprice"))).cast("double").as("recent_spend"))
      .withColumn("recent_avg", col("recent_spend") / col("recent_cnt"))
      .orderBy("o_custkey")
  }

  /** A4/§2.11 — "form string" (reference WWDLL reading, SURVEY §2.11 UDAF
    * note): last-5 status letters per customer, most recent first, via
    * collect_list + array_sort — no custom Aggregator needed. */
  def formString(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .withColumn("code", substring(col("o_orderstatus"), 1, 1))
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("recent_cnt"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col("rn"), col("code")))),
          s => s.getField("code"))).as("form"))
      .orderBy("o_custkey")
  }

  /** W5 — standings: rank entities within a group by aggregate metric
    * (reference standing_row.position, schema.sql:759-776). */
  def nationRevenueStandings(spark: SparkSession, dir: String): DataFrame = {
    val revenue = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
    revenue
      .withColumn("position",
        rank().over(Window.partitionBy(col("region_name"))
          .orderBy(col("revenue").desc, col("nation_name").asc)).cast("long"))
      .orderBy("region_name", "position", "nation_name")
  }

  /** W3 — percentile rank vs peer group (reference reports.py:84).
    * A global percent_rank needs a total order over all rows; the naive
    * `Window.orderBy` funnels everything through ONE reducer, so this
    * uses [[Ranking.distributedPercentRank]] — range-sort + per-partition
    * offsets, bitwise-equal result, no single-partition stage. Input is
    * pre-aggregated to one row per customer first. */
  def spendPercentile(spark: SparkSession, dir: String): DataFrame = {
    val perCustomer = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).cast("double").as("total_spend"))
    Ranking.distributedPercentRank(perCustomer,
        Seq(col("total_spend"), col("o_custkey")), outCol = "spend_pct_rank")
      .orderBy("o_custkey")
  }

  /** J5+A5 — head-to-head via symmetric pair key: trade volume between
    * nation pairs regardless of direction. Replaces the reference's
    * O(n²) self-join loop (engine.py:193-229) with a groupBy on
    * (least, greatest). */
  def nationPairTrade(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val cNat = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val sNat = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val joined = li
      .join(cNat, li("l_orderkey") === cNat("o_orderkey"))
      .join(broadcast(sNat), li("l_suppkey") === sNat("s_suppkey"))
    val (lo, hi) = Joins.symmetricPair(col("c_nationkey"), col("s_nationkey"))
    val agg = joined
      .groupBy(lo.as("nation_lo"), hi.as("nation_hi"))
      .agg(
        count(lit(1)).as("trade_cnt"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("trade_value"))
    Ranking.topK(agg, k, col("trade_value").desc, col("nation_lo").asc, col("nation_hi").asc)
  }

  /** J6 "create" side — entities with no qualifying facts (left anti join). */
  def customersWithoutUrgentOrders(spark: SparkSession, dir: String): DataFrame =
    Joins.anti(
      Tables.customer(spark, dir),
      Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey"),
      col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")

  /** Semi join — entities with at least one qualifying fact (EXISTS). */
  def customersWithUrgentOrders(spark: SparkSession, dir: String): DataFrame =
    Joins.semi(
      Tables.customer(spark, dir),
      Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey"),
      col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** U2 — distinct union of key sets from two sides (reference
    * engine.py:143: home ∪ away team ids). */
  def activeNations(spark: SparkSession, dir: String): DataFrame = {
    val fromCust = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val fromSupp = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    fromCust.union(fromSupp).distinct()
      .join(broadcast(Tables.nation(spark, dir)), col("nationkey") === col("n_nationkey"))
      .select(col("nationkey"), col("n_name"))
      .orderBy("nationkey")
  }

  /** U3 — deterministic first-wins dedup: keep min(linenumber) row per
    * (orderkey, partkey). The reference's seen-set first-wins
    * (playwright_utils.py:400-427) made deterministic for distribution. */
  def dedupLineitems(spark: SparkSession, dir: String): DataFrame = {
    // linenumber alone ties (the corpus has duplicate (orderkey, partkey,
    // linenumber) rows) — extend the order to a total one.
    // First-wins dedup as a min_by AGGREGATE, not a ranked window: the
    // window form shuffles and sorts the entire fact table to discard all
    // but one row per key; the aggregate partially combines map-side, so
    // only one candidate row per key per input partition reaches the
    // exchange — the shape that survives a 100 TB dedup.
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(min_by(
        struct(col("l_linenumber"), col("l_quantity")),
        struct(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))).as("first"))
      .select(col("l_orderkey"), col("l_partkey"),
        col("first.l_linenumber").as("l_linenumber"),
        col("first.l_quantity").as("l_quantity"))
      .orderBy("l_orderkey", "l_partkey")
  }

  /** Rows-frame running total per key (SURVEY §2.6 frame-spec note).
    * Decimal accumulation keeps every prefix sum exact. */
  def runningSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** A7 — histogram bucketing (reference pd.cut age bins,
    * reports.py:397-404) as a CASE ladder + count. */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("price_bucket",
        when(col("o_totalprice") < 1000, "p0_under_1k")
          .when(col("o_totalprice") < 5000, "p1_1k_5k")
          .when(col("o_totalprice") < 20000, "p2_5k_20k")
          .otherwise("p3_over_20k"))
      .groupBy("price_bucket")
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("o_totalprice"))).cast("double").as("bucket_value"))
      .orderBy("price_bucket")

  /** A1/A2/A10 — global rollup: counts, exact sums, ratio, exact distinct. */
  def globalStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("row_cnt"),
        countDistinct(col("l_orderkey")).as("order_cnt"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
      .withColumn("avg_qty", col("sum_qty") / col("row_cnt"))
      .withColumn("lines_per_order", col("row_cnt").cast("double") / col("order_cnt"))

  /** W4 — per-entity trend over seasons (reference reports.py:73-76:
    * improving/declining slope + consistency): least-squares slope of
    * order value over order year and the sample stddev, computed from
    * exact decimal/integer sums so both engines agree bitwise. One
    * aggregation pass — no per-entity loop. */
  def customerTrend(spark: SparkSession, dir: String): DataFrame = {
    val y = dec2(col("o_totalprice"))
    val x = year(col("o_orderdate")).cast("long")
    val agg = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"),
        sum(x * x).as("sxx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(y * y).cast("double").as("syy"))
      .filter(col("n") >= 5)
    val denom = col("n") * col("sxx") - col("sx") * col("sx")
    agg
      .withColumn("trend_slope",
        when(denom =!= 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) / denom.cast("double")))
      .withColumn("consistency_sd",
        sqrt((col("n") * col("syy") - col("sy") * col("sy")) /
          (col("n") * (col("n") - 1)).cast("double")))
      .select("o_custkey", "n", "trend_slope", "consistency_sd")
      .orderBy("o_custkey")
  }

  /** Multi-level rollup (beyond the reference's flat GROUP BYs — subtotal
    * + grand-total rows in one pass via partial-agg reuse). */
  def pricingRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over two dimensions — all 2^2 grouping sets in one pass
    * (generalizes the reference's flat GROUP BYs + rollup). */
  def pricingCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Arbitrary GROUPING SETS (the non-hierarchical generalization of
    * [[pricingRollup]]/[[pricingCube]]): two independent one-column
    * summaries in ONE pass over the facts — Catalyst expands each row
    * into its grouping sets before the single shuffle, where running the
    * two GROUP BYs separately would scan the table twice. */
  def statusPrioritySets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** A8 — argmax of group means (reference
    * `groupby("position").mean().idxmax()`, reports.py:406-413):
    * best segment by average balance, deterministic tiebreak. */
  def bestSegment(spark: SparkSession, dir: String): DataFrame = {
    val perSeg = Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("c_acctbal"))).cast("double").as("bal_sum"))
      .withColumn("avg_bal", col("bal_sum") / col("cnt"))
    Ranking.topK(perSeg, 1, col("avg_bal").desc, col("segment").asc)
      .select("segment", "cnt", "avg_bal")
  }

  /** F14/§2.12 — league-summary shape: per-region entity counts, activity,
    * percentage rates (exact count ratios, cross-engine stable).
    *
    * Scale shape: NO distinct aggregate touches the fact stream. Two
    * `countDistinct`s in one groupBy would make Catalyst Expand every
    * order row ×3 before the shuffle — tripling the shuffle write of the
    * biggest join in the suite at 100 TB. Instead the fact aggregation is
    * plain (count/sum, map-side combining), and both distinct counts come
    * from `orders.select(o_custkey).distinct()` — a custkey-cardinality
    * partial-combining aggregate — joined through the broadcast dims.
    * That slim set has one row per active customer, so `count(*)` IS the
    * distinct customer count and the single `countDistinct(n_nationkey)`
    * plans as a two-stage aggregate (one distinct set → no Expand). The
    * final stitch is a 5-row join on region_name. */
  def regionSummary(spark: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(Tables.nation(spark, dir))
    val region = broadcast(Tables.region(spark, dir))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")

    val orderAgg = Tables.orders(spark, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"))
      .agg(
        count(lit(1)).as("order_cnt"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("urgent_cnt"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_value"))

    val activeCust = Tables.orders(spark, dir).select(col("o_custkey")).distinct()
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"))
      .agg(
        countDistinct(col("n_nationkey")).as("nation_cnt"),
        count(lit(1)).as("customer_cnt"))

    orderAgg.join(activeCust, Seq("region_name"))
      .select(col("region_name"), col("nation_cnt"), col("customer_cnt"),
        col("order_cnt"), col("urgent_cnt"), col("total_value"))
      .withColumn("urgent_pct",
        col("urgent_cnt").cast("double") / col("order_cnt") * 100)
      .withColumn("avg_order_value", col("total_value") / col("order_cnt"))
      .orderBy("region_name")
  }

  /** A8 — exact per-group median (reference `groupby(...).median()`):
    * Spark's exact `percentile` (not percentile_approx — approx sketches
    * are engine-specific and can't oracle-match). */
  def segmentMedian(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("cnt"),
        expr("percentile(c_acctbal, 0.5)").as("median_bal"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .orderBy("segment")

  /** J8 oracle-checkable core — blocked fuzzy best-match: for every
    * supplier, the most similar customer name within its nation block by
    * the codegen Levenshtein ratio (`Normalize.fuzzyRatioApprox`), argmax
    * via ranked window. The exact-UDF version lives in
    * [[EntityResolution.resolve]]; this is its cross-engine-verifiable
    * skeleton (blocking bounds the pair space — no cross join). */
  def fuzzyBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_nationkey")
    val pairs = s.join(c, col("s_nationkey") === col("c_nationkey"))
      .withColumn("ratio",
        graft.functions.Normalize.fuzzyRatioApprox(col("s_name"), col("c_name")))
    // argmax as max_by, not a ranked window: the aggregate partially
    // combines map-side, so one row per supplier reaches the shuffle
    // instead of every scored pair (~600× less at this block size).
    // Tiebreak = highest ratio then LOWEST custkey: maximize
    // (ratio, -custkey).
    pairs
      .groupBy(col("s_suppkey"))
      .agg(max_by(struct(col("c_custkey"), col("ratio")),
        struct(col("ratio"), -col("c_custkey"))).as("best"))
      .select(col("s_suppkey"), col("best.c_custkey").as("c_custkey"),
        col("best.ratio").as("ratio"))
      .orderBy("s_suppkey")
  }

  /** F2/F21-style parsing surface over an oracle-checkable column:
    * regexp id extraction + case-normalized projection. */
  def parseCustomerIds(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "#([0-9]+)", 1).cast("long").as("parsed_id"),
        lower(col("c_mktsegment")).as("segment_lc"))
      .orderBy("c_custkey")

  /** Pivot / crosstab — long→wide reshaping (the reference's report tables
    * lay out one column per status/market, e.g. the odds markets of
    * betexplorer_odds_scraper.py:16-96 and the per-position distributions
    * of reports.py:393-404). Spark's `pivot` with an EXPLICIT value list
    * compiles to one pass of conditional aggregates — same single-shuffle
    * cost as a flat groupBy, no second pass to discover pivot values (an
    * unlisted `pivot(col)` runs a distinct-collect job first; never do
    * that at 100 TB). */
  def statusPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec2(col("o_totalprice"))).cast("double"))
      .select(col("priority"), col("F").as("f_spend"),
        col("O").as("o_spend"), col("P").as("p_spend"))
      .orderBy("priority")

  /** Rank-based deciles of customer spend: every customer assigned a
    * 1..10 decile by total-spend rank, then per-decile stats. The rank is
    * [[Ranking.distributedGlobalRank]] — a range-sort plus a broadcast of
    * per-partition counts — so unlike `ntile().over(Window.orderBy(...))`
    * there is NO single-partition window stage (the same scale fix as
    * q_pct_rank). Decile = ((rank-1)*10) div n + 1 (equal-width by rank;
    * documented oracle-identical formula rather than NTILE's
    * remainder-to-front bucket sizing). */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("spend_dec"))
    Ranking.distributedGlobalRank(per,
        Seq(col("spend_dec").asc, col("o_custkey").asc), rankCol = "rn", nCol = "n")
      .withColumn("decile", expr("((rn - 1) * 10) div n + 1"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("spend_dec")).cast("double").as("min_spend"),
        max(col("spend_dec")).cast("double").as("max_spend"),
        sum(col("spend_dec")).cast("double").as("decile_spend"))
      .orderBy("decile")
  }

  /** RANGE-frame trailing window (value-based frame, not row-based —
    * complements the rows-frame [[runningSpend]]): per order, the same
    * customer's spend over the preceding `days` days, EXCLUDING the
    * order's own day. A value frame is insensitive to peer-row order, so
    * same-day orders need no tiebreak to be deterministic. */
  def trailingSpend(spark: SparkSession, dir: String, days: Int = 30): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"),
      datediff(col("o_orderdate"), epoch).cast("long").as("d"),
      dec2(col("o_totalprice")).as("sp"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-days, -1)
    o.select(col("o_custkey"), col("o_orderkey"), col("d"),
        sum(col("sp")).over(w).cast("double").as("trailing_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Ratio-to-report without a window: each nation's share of its
    * region's revenue. The share denominator is a second aggregation of
    * the ALREADY-AGGREGATED frame (|nations| rows) broadcast back — a
    * `sum().over(partitionBy(region))` window would re-shuffle the
    * nation rows instead; on a pre-aggregated frame either is cheap, but
    * the aggregate+broadcast form is the one that still holds when the
    * report has millions of group rows. Share = one IEEE division of two
    * exact-decimal-cast doubles. */
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    // Both the totals re-aggregation and the final join consume this
    // frame — materialize the |nations|-row aggregate once, or the
    // fact-table join underneath it executes twice.
    val nationRev = graft.scale.Silver.materialize(Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec")),
      "share_nation_rev")
    val regionTot = nationRev.groupBy("region_name")
      .agg(sum(col("rev_dec")).as("tot_dec"))
    nationRev.join(broadcast(regionTot), "region_name")
      .select(col("region_name"), col("nation_name"),
        col("rev_dec").cast("double").as("revenue"),
        (col("rev_dec").cast("double") / col("tot_dec").cast("double"))
          .as("region_share"))
      .orderBy("region_name", "nation_name")
  }

  /** Robust (median/MAD) outlier screen — the heavy-tail-safe companion
    * of [[segmentOutliers]]: flag customers whose balance deviates more
    * than `k`× the median absolute deviation from their segment median.
    * Two exact-percentile aggregations (group-keyed, partial-combining)
    * with |segments|-row broadcasts back; deviations and the robust z
    * are single IEEE ops over values both engines share exactly. */
  def madOutliers(spark: SparkSession, dir: String, k: Double = 3.0): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_acctbal"))
    val med = c.groupBy("segment")
      .agg(expr("percentile(c_acctbal, 0.5)").as("med"))
    // dev feeds both the MAD aggregation and the final filter —
    // materialize the slim deviation frame once so the customer⋈median
    // join doesn't execute twice.
    val dev = graft.scale.Silver.materialize(
      c.join(broadcast(med), "segment")
        .withColumn("dev", abs(col("c_acctbal") - col("med"))),
      "mad_dev")
    val mad = dev.groupBy("segment")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "segment")
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col("c_custkey"), col("segment"), col("c_acctbal"),
        (col("dev") / col("mad")).as("robust_z"))
      .orderBy("c_custkey")
  }

  /** A12 incremental gold maintenance, end-to-end: the customer spend
    * gold table built from pre-split history, then advanced by ONE delta
    * batch via [[Merge.additiveUpsert]] — and the result must equal a
    * full recompute over everything (which is exactly what the oracle
    * computes). Exact decimal accumulators make the equality bitwise. */
  def incrementalGold(spark: SparkSession, dir: String,
                      splitDate: String = "1999-01-01"): DataFrame = {
    val o = Tables.orders(spark, dir)
    def gold(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_cnt"),
        sum(dec2(col("o_totalprice"))).as("spend_dec"))
    val current = gold(o.filter(col("o_orderdate") < lit(splitDate)))
    val delta = gold(o.filter(col("o_orderdate") >= lit(splitDate)))
    Merge.additiveUpsert(current, delta,
        Seq("o_custkey"), Seq("order_cnt", "spend_dec"))
      .select(col("o_custkey"), col("order_cnt"),
        col("spend_dec").cast("double").as("total_spend"))
      .orderBy("o_custkey")
  }

  /** Per-group z-score outliers (data-quality screening — the statistical
    * cousin of the reference's pydantic range checks, models.py:519-532):
    * customers whose balance deviates ≥ `zThresh` standard deviations from
    * their segment mean. Mean/stddev come from one aggregation pass of
    * EXACT decimal sums (n, Σx, Σx²) — no second scan, no stddev_samp
    * (whose merge order is engine-specific); the double math is the same
    * single expression in both engines, so z is bitwise-reproducible.
    * Stats frame is |segments| rows → broadcast back, no second shuffle
    * of the data. */
  def segmentOutliers(spark: SparkSession, dir: String,
                      zThresh: Double = 2.0): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"), col("c_acctbal"))
    val stats = c.groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec2(col("c_acctbal"))).cast("double").as("s"),
        sum(dec2(col("c_acctbal")) * dec2(col("c_acctbal"))).cast("double").as("ss"))
      .withColumn("mean", col("s") / col("n"))
      .withColumn("sd",
        sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)))
      .select("segment", "mean", "sd")
    c.join(broadcast(stats), "segment")
      .withColumn("z", (col("c_acctbal") - col("mean")) / col("sd"))
      .filter(abs(col("z")) >= zThresh)
      .select("c_custkey", "segment", "c_acctbal", "z")
      .orderBy("c_custkey")
  }

  /** Week-over-week growth (q_wow): the period-over-period delta report
    * every BI layer ships — weekly revenue per order priority paired with
    * the previous week by an EQUI-join on (priority, week+1), exactly the
    * [[Regression.autocorrQuery]] lag-pairing shape (no window, the
    * weekly series is co-partitioned with itself). Missing weeks yield no
    * row — a stated gap policy, not an implicit zero. Cents are exact
    * longs; `pct` is the single IEEE division. */
  def weekOverWeek(spark: SparkSession, dir: String): DataFrame = {
    val weekly = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("prio"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 604800000")
            .as("week"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("prio", "week")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "wow_weekly") // both sides of the lag join
    weekly
      .join(weekly.select(col("prio"), (col("week") - 1).as("week"),
          col("v").as("v_next")),
        Seq("prio", "week"))
      .select(col("prio"), (col("week") + 1).as("week"),
        col("v").as("v_prev"), col("v_next").as("v_cur"),
        (col("v_next") - col("v")).as("delta"),
        ((col("v_next") - col("v")).cast("double") / col("v")).as("pct"))
      .orderBy("prio", "week")
  }

  /** Shared basket-pair pipeline behind [[basketLift]] and
    * [[itemRecommendations]]: the distinct (order, part) edge frame —
    * materialized once under `scratchName`, since it feeds the pair
    * join, the per-part counts, AND the order count — and from it the
    * one-row order total `n`, the per-part order counts `pc`, and the
    * undirected co-purchase pair counts `pairs` thresholded at
    * `minCnt`. The self-join is keyed on the ORDER, so candidate
    * volume is Σ basket² (basket size is physically bounded), never
    * parts². */
  private def basketPairs(spark: SparkSession, dir: String, minCnt: Long,
      scratchName: String): (DataFrame, DataFrame, DataFrame) = {
    val op = graft.scale.Silver.scratch(
      graft.scale.Par.fan(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct(),
        col("o")), // fan by the self-join key (Σ basket² explosion —
                   // the ktruss device)
      scratchName)
    val n = op.agg(countDistinct(col("o")).as("n_orders"))
    val pc = op.groupBy(col("p")).agg(count(lit(1)).as("c"))
    val pairs = op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCnt)
    (n, pc, pairs)
  }

  /** Market-basket lift (q_basket_lift): part pairs that co-occur in
    * orders far beyond what their individual popularity predicts —
    * lift = c_ab·N / (c_a·c_b) from exact longs, the basket-mining twin
    * of [[graft.scale.Search.pmiCollocations]] (same rational, log-free
    * scoring; same bounded-fan-out discipline: the self-join is keyed on
    * the ORDER, so candidate volume is Σ basket² — basket size is
    * physically bounded — never parts²). Pair counts shuffle on the
    * (p1, p2) key; per-part order counts join token-style on each side;
    * N rides a one-row broadcast; top-k via TakeOrderedAndProject. */
  def basketLift(spark: SparkSession, dir: String,
                 minCnt: Long = 3L, k: Int = 50): DataFrame = {
    val (n, pcRaw, pairs) = basketPairs(spark, dir, minCnt, "basket_edges")
    // per-part counts materialized once (they fed two join branches —
    // re-aggregated per consumer before)
    val pc = graft.scale.Silver.scratch(pcRaw, "basket_pc")
    pairs
      .join(pc.select(col("p").as("p1"), col("c").as("c1")), "p1")
      .join(pc.select(col("p").as("p2"), col("c").as("c2")), "p2")
      .crossJoin(broadcast(n))
      .withColumn("lift",
        (col("c_ab") * col("n_orders")).cast("double") /
          (col("c1") * col("c2")).cast("double"))
      .select("p1", "p2", "c_ab", "c1", "c2", "lift")
      .orderBy(col("lift").desc, col("p1").asc, col("p2").asc)
      .limit(k)
  }

  /** Price indices between corpus halves (q_price_index): Laspeyres,
    * Paasche, and Fisher indices of part prices — "did prices rise,
    * holding the basket fixed?", the economics-desk aggregate over the
    * same half-split as [[rankMovers]]. Portability device: each
    * (part, half) unit price is `(cents·1000) div qty` — an integer
    * milli-cents-per-unit with engine-identical truncation — so both
    * index numerators/denominators are exact decimal(38,0) Σ price·qty
    * products and each index is ONE terminal division (Fisher adds the
    * IEEE-portable sqrt). Only parts traded in BOTH halves enter (the
    * matched-basket rule). One fact pass to the (part, half) aggregate;
    * everything after is part-dimension-sized. */
  def priceIndices(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
          .as("day"),
        col("l_quantity").cast("long").as("q"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
    val bounds = li.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val perHalf = li.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") * 2 <= col("d0") + col("d1"), lit(0L)).otherwise(1L))
      .groupBy("p", "half")
      .agg(sum(col("q")).as("qty"), sum(col("cents")).as("cents"))
      .withColumn("price_milli", expr("(cents * 1000) div qty"))
    val both = perHalf.filter(col("half") === 0L)
      .select(col("p"), col("qty").as("q0"), col("price_milli").as("p0"))
      .join(perHalf.filter(col("half") === 1L)
        .select(col("p"), col("qty").as("q1"), col("price_milli").as("p1")),
        "p")
    both.agg(
        count(lit(1)).as("n_parts"),
        sum(col("p1").cast(d38) * col("q0").cast(d38)).as("l_num"),
        sum(col("p0").cast(d38) * col("q0").cast(d38)).as("l_den"),
        sum(col("p1").cast(d38) * col("q1").cast(d38)).as("p_num"),
        sum(col("p0").cast(d38) * col("q1").cast(d38)).as("p_den"))
      .withColumn("laspeyres",
        col("l_num").cast("double") / col("l_den").cast("double"))
      .withColumn("paasche",
        col("p_num").cast("double") / col("p_den").cast("double"))
      .select(col("n_parts"), col("laspeyres"), col("paasche"),
        sqrt(col("laspeyres") * col("paasche")).as("fisher"))
  }

  /** Frequent 3-itemsets (q_basket3): the top part TRIPLES by basket
    * support — one Apriori level past [[basketLift]]'s pairs, for the
    * bundle-design question pairs can't answer. Same bounded-fan-out
    * discipline: both self-joins are keyed on the ORDER with p1<p2<p3,
    * so candidate volume is Σ basket³ over physically bounded baskets
    * (never parts³); support counts shuffle on the triple key and the
    * top-k is TakeOrderedAndProject under the unique
    * (cnt DESC, p1, p2, p3) order. */
  def tripleItemsets(spark: SparkSession, dir: String,
                     minCnt: Long = 2L, k: Int = 20): DataFrame = {
    val op = graft.scale.Silver.scratch(
      graft.scale.Par.fan(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct(),
        col("o")), // fan by the self-join key (Σ basket³ — ktruss device)
      "triple_edges") // feeds all three join branches
    // over the broadcast threshold at sf0.1, but sort-merging the edges
    // measured 1.2× slower than broadcasting them
    val opB = graft.scale.Pregel.state(op, graft.scale.Pregel.broadcastState(
      spark, graft.scale.Silver.rows(op)))
    op.as("a")
      .join(opB.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .join(opB.as("c"), col("b.o") === col("c.o") && col("b.p") < col("c.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"), col("c.p").as("p3"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCnt)
      .orderBy(col("cnt").desc, col("p1").asc, col("p2").asc, col("p3").asc)
      .limit(k)
  }

  /** Brand margin report (q_brand_margin): per part brand, gross
    * revenue, the discount given away, net revenue, and the effective
    * discount rate — exact decimal(18,4) accumulation for the
    * discount-weighted products (the [[aggPricingSummary]] convention),
    * cents as longs, one fact⋈dim join with the part side reduced to
    * (partkey, brand) before the join. */
  def brandMargin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        dec2(col("l_extendedprice")).as("gross"),
        (dec2(col("l_extendedprice")) * dec4(col("l_discount")))
          .as("disc"))
    li.join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      // micro-dollar units (×10⁶): the discount product carries scale 6,
      // so ×100 would leave a fraction whose long-cast ROUNDS in DuckDB
      // but TRUNCATES in Spark — ×10⁶ is integer-valued on both sides.
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("gross")) * 1000000).cast("long").as("gross_micro"),
        (sum(col("disc")) * 1000000).cast("long").as("disc_micro"))
      .withColumn("net_micro", col("gross_micro") - col("disc_micro"))
      .withColumn("discount_rate",
        col("disc_micro").cast("double") / col("gross_micro").cast("double"))
      .orderBy("brand")
  }

  /** Single-source risk audit (q_single_source): how many parts depend
    * on exactly one supplier (and the full supplier-count distribution)
    * — the supply-chain fragility report. Two-level aggregate: distinct
    * (part, supplier) pairs collapse map-side, then per-part supplier
    * counts, then the histogram over THAT dimension-sized frame. */
  def singleSourceRisk(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .groupBy("l_partkey").agg(count(lit(1)).as("n_suppliers"))
    val tot = perPart.agg(count(lit(1)).as("n_parts"))
    perPart.groupBy("n_suppliers")
      .agg(count(lit(1)).as("n_parts_bucket"))
      .crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_parts_bucket").cast("double") / col("n_parts").cast("double"))
      .withColumn("at_risk", col("n_suppliers") === 1L)
      .select("n_suppliers", "n_parts_bucket", "share", "at_risk")
      .orderBy("n_suppliers")
  }

  /** Item-item recommendations (q_recs): for every part, the top-3
    * co-purchased parts by directional confidence conf(a→b) =
    * c_ab / c_a — [[basketLift]]'s pair frame turned into the
    * recommendation lists a "customers also bought" surface serves. The
    * per-source ranking never orders by the float confidence: within a
    * source part c_src is constant, so (c_ab DESC, rec ASC) is the same
    * order in exact integers. One order-keyed self-join (basket-bounded),
    * one per-source top-k window over the pair aggregate. */
  def itemRecommendations(spark: SparkSession, dir: String,
                          minCnt: Long = 2L, k: Int = 3): DataFrame = {
    val (n, pcRaw, pairs) = basketPairs(spark, dir, minCnt, "rec_edges")
    // r15: top-k per source via the native partial top-k operator — the
    // ranked-window form shipped EVERY directed pair row to its source's
    // reducer and then discarded all but k (the q_topk_native argument,
    // here on a real consumer); the per-part counts join AFTER the top-k
    // filter (k·|parts| rows, not 2·|pairs|). rk is recomputed by the
    // same (c_ab DESC, rec ASC) unique order over the k-row groups —
    // identical rows, identical ranks.
    val pc = graft.scale.Silver.scratch(pcRaw, "rec_pc")
    val directed = pairs
      .select(col("p1").as("src"), col("p2").as("rec"), col("c_ab"))
      .unionAll(pairs
        .select(col("p2").as("src"), col("p1").as("rec"), col("c_ab")))
    val top = graft.plans.TopKPerKey(directed, k, Seq(col("src")),
        Seq(col("c_ab").desc, col("rec").asc))
      .join(pc.select(col("p").as("src"), col("c").as("c_src")), "src")
      .join(pc.select(col("p").as("rec"), col("c").as("c_rec")), "rec")
      .crossJoin(broadcast(n))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("c_ab").desc, col("rec").asc)
    top
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("src"), col("rk"), col("rec"), col("c_ab"),
        (col("c_ab").cast("double") / col("c_src").cast("double")).as("conf"),
        ((col("c_ab") * col("n_orders")).cast("double") /
          (col("c_src") * col("c_rec")).cast("double")).as("lift"))
      .orderBy("src", "rk")
  }

  /** Rank movers between corpus halves (q_movers): each nation's revenue
    * rank in the first vs second half of the order history and the rank
    * movement — the "who's rising" leaderboard delta. Halves split at
    * the midpoint of the corpus day range (broadcast min/max — no data-
    * dependent config). Ranks are computed by a counting self-join over
    * the 25-row nation aggregate (rank = 1 + #strictly-better rows under
    * the unique (cents DESC, name ASC) order) — dimension-sized
    * arithmetic, rather than any window machinery, reaches the same
    * unique total order. */
  def rankMovers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000").as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val halves = graft.scale.Silver.scratch(
      o.crossJoin(broadcast(bounds))
        .withColumn("half",
          when(col("day") * 2 <= col("d0") + col("d1"), lit("h1"))
            .otherwise(lit("h2")))
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation_name"), col("half"))
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "movers_halves") // 50 rows; feeds both half frames and both rank joins
    def ranked(h: String) = {
      val x = halves.filter(col("half") === h)
        .select(col("nation_name"), col("v"))
      x.as("a").join(x.as("b"),
          col("b.v") > col("a.v") ||
            (col("b.v") === col("a.v") && col("b.nation_name") < col("a.nation_name")),
          "left")
        .groupBy(col("a.nation_name").as("nation_name"), col("a.v").as("v"))
        .agg((count(col("b.nation_name")) + 1).as("rnk"))
    }
    ranked("h1").select(col("nation_name"), col("v").as("v_h1"), col("rnk").as("rank_h1"))
      .join(ranked("h2").select(col("nation_name"), col("v").as("v_h2"),
        col("rnk").as("rank_h2")), "nation_name")
      .withColumn("rank_delta", col("rank_h1") - col("rank_h2"))
      .select("nation_name", "v_h1", "v_h2", "rank_h1", "rank_h2", "rank_delta")
      .orderBy("nation_name")
  }

  /** Market concentration (q_hhi): Herfindahl–Hirschman index of each
    * nation's supplier revenue — HHI = Σ vᵢ² / (Σ vᵢ)², the antitrust /
    * vendor-risk concentration number (1 = monopoly, 1/n = perfectly
    * even). Both sums accumulate exactly in decimal(38,0) over squared
    * cents (cents² exceeds Long — this is precisely the overflow class
    * [[Regression.groupedOls]]'s decimal discipline exists for); the two
    * double casts and one division are the only IEEE steps, and the
    * DuckDB side routes its HUGEINT→DOUBLE casts through VARCHAR (the
    * q_trend pitfall). One supplier rollup + one nation rollup +
    * broadcast nation dim. */
  def revenueHhi(spark: SparkSession, dir: String): DataFrame = {
    val bySupp = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("decimal(38,0)").as("v"))
    bySupp
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("v")).cast("long").as("total_cents"),
        sum(col("v") * col("v")).as("num"),
        (sum(col("v")) * sum(col("v"))).as("den"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation_name"), col("n_suppliers"),
        col("total_cents"),
        (col("num").cast("double") / col("den").cast("double")).as("hhi"))
      .orderBy("nation_name")
  }

  /** Gini coefficient of customer spend (q_gini): the inequality number
    * next to [[revenueHhi]]'s concentration number, computed from the
    * closed positional form over ascending-sorted values:
    * G = (2·Σ i·vᵢ − (n+1)·Σv) / (n·Σv). Positions come from
    * [[Ranking.distributedGlobalRank]] under the unique (spend, custkey)
    * order; i·vᵢ products exceed Long at scale, so the sums accumulate
    * in decimal(38,0) (HUGEINT in the oracle) and the single division is
    * the only IEEE op. */
  /** Per-segment Gini coefficients (q_gini_segments): [[spendGini]]'s
    * inequality number computed within each market segment — "is spend
    * concentration a BUILDING thing or everywhere?". With only ~5
    * segments a segment-partitioned window would hold ~n_customers/5
    * rows per partition — a corpus-proportional single-task sort — so
    * positions instead come from ONE [[Ranking.distributedGlobalRank]]
    * pass over the composite (segment, v, custkey) order: segments are
    * contiguous in that order, so the within-segment position is the
    * global rank minus the segment's broadcast 5-row min-rank offset.
    * The rank-weighted sums stay in decimal(38,0) and each segment's
    * Gini is its single division. */
  def giniBySegment(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val spend = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val ranked = Ranking.distributedGlobalRank(spend,
      Seq(col("segment").asc, col("v").asc, col("o_custkey").asc),
      rankCol = "__g", nCol = "__n")
    val offsets = ranked.groupBy(col("segment").as("__seg"))
      .agg(min(col("__g")).as("__g0"))
    ranked
      .join(broadcast(offsets), col("segment") === col("__seg"))
      .withColumn("i", col("__g") - col("__g0") + 1L)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("v").cast(d38)).as("sv"),
        sum(col("i").cast(d38) * col("v").cast(d38)).as("siv"))
      .select(col("segment"), col("n_customers"),
        col("sv").cast("long").as("total_cents"),
        ((lit(2).cast(d38) * col("siv") -
            (col("n_customers") + 1).cast(d38) * col("sv")).cast("double") /
          (col("n_customers").cast(d38) * col("sv")).cast("double")).as("gini"))
      .orderBy("segment")
  }

  /** Lorenz curve (q_lorenz): the 10-point curve behind [[spendGini]]'s
    * single number — per spend decile (customers ranked ascending by
    * exact cents under the unique (v, custkey) order), the decile's
    * customers, its cents, and the cumulative spend share vs the
    * cumulative population share ("the bottom 60% of customers hold X%
    * of spend"). Decile assignment is ((rank−1)·10) div n off the
    * distributed global rank; cumulative sums run over the 10-row
    * decile frame; every share is a ratio of exact longs. */
  def lorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val ranked = Ranking.distributedGlobalRank(spend,
      Seq(col("v").asc, col("o_custkey").asc), rankCol = "r", nCol = "__n")
    val byDecile = ranked
      .withColumn("decile", expr("((r - 1) * 10) div __n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("v")).as("decile_cents"))
    val tot = byDecile.agg(sum(col("n_customers")).as("tot_n"),
      sum(col("decile_cents")).as("tot_cents"))
    Ranking.distributedCumSum(byDecile, Seq(col("decile").asc),
        Seq("n_customers", "decile_cents"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        col("cum_decile_cents").as("cum_cents"),
        (col("cum_decile_cents").cast("double") /
          col("tot_cents").cast("double")).as("cum_share"),
        (col("cum_n_customers").cast("double") /
          col("tot_n").cast("double")).as("pop_share"))
      .orderBy("decile")
  }

  def spendGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val ranked = Ranking.distributedGlobalRank(spend,
      Seq(col("v").asc, col("o_custkey").asc), rankCol = "i", nCol = "__n")
    val d38 = "decimal(38,0)"
    ranked.agg(
        count(lit(1)).as("n_customers"),
        sum(col("v").cast(d38)).as("sv"),
        sum(col("i").cast(d38) * col("v").cast(d38)).as("siv"))
      .select(col("n_customers"),
        col("sv").cast("long").as("total_cents"),
        ((lit(2).cast(d38) * col("siv") -
            (col("n_customers") + 1).cast(d38) * col("sv")).cast("double") /
          (col("n_customers").cast(d38) * col("sv")).cast("double")).as("gini"))
  }

  /** Box-plot statistics with Tukey fences (q_boxplot): per market
    * segment, exact interpolated quartiles, IQR, the 1.5·IQR fences, and
    * the count of customers outside them — the distribution summary a
    * dashboard draws as a box plot, including the outlier tally that
    * motivates the whiskers. Quartile thresholds broadcast back over the
    * fact stream (the [[EventOps.rfmSegments]] coding discipline);
    * fences are plain double arithmetic identical in both engines. */
  def segmentBoxplot(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"), col("c_acctbal"))
    val stats = c.groupBy("segment")
      .agg(count(lit(1)).as("n"),
        expr("percentile(c_acctbal, 0.25)").as("p25"),
        expr("percentile(c_acctbal, 0.75)").as("p75"))
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("lo_fence", col("p25") - lit(1.5) * col("iqr"))
      .withColumn("hi_fence", col("p75") + lit(1.5) * col("iqr"))
    c.join(broadcast(stats), "segment")
      .groupBy("segment")
      .agg(first(col("n")).as("n"), first(col("p25")).as("p25"),
        first(col("p75")).as("p75"), first(col("iqr")).as("iqr"),
        first(col("lo_fence")).as("lo_fence"),
        first(col("hi_fence")).as("hi_fence"),
        sum(when(col("c_acctbal") < col("lo_fence") ||
          col("c_acctbal") > col("hi_fence"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("segment")
  }

  /** Benford first-digit profile (q_benford): distribution of the
    * leading digit of order totals — the fraud-screening staple
    * (fabricated figures drift from Benford's log curve). The digit is
    * taken from the DECIMAL STRING of the floored integer total —
    * double→string formatting differs across engines, integer→string
    * cannot. `share` is the single IEEE division of exact longs. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).as("digit"))
      .filter(col("digit") =!= "0")
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val total = digits.agg(sum(col("cnt")).as("total"))
    digits.crossJoin(broadcast(total))
      .withColumn("share", col("cnt").cast("double") / col("total"))
      .select("digit", "cnt", "share")
      .orderBy("digit")
  }

  /** Benford goodness-of-fit (q_benford_gof): [[benfordDigits]]'s digit
    * profile turned into the fraud-screen test statistic — per digit,
    * the observed count against the Benford expectation e_d = N·log10(1
    * + 1/d) and the χ² cell term. log10 is NOT engine-portable, so the
    * nine Benford probabilities are written as double LITERALS (both
    * engines parse decimal literals to the identical double — the same
    * device as q_error_bound's z, with the DuckDB DECIMAL-literal trap
    * avoided by 17-significant-digit mantissas); everything after them
    * is the fixed (o−e)²/e tree over exact counts. The digit spine is a
    * literal 9-row frame, so digits the corpus never produces still get
    * their full-expectation χ² contribution. */
  def benfordGof(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val benford = Analytics.BenfordP.toSeq.toDF("digit", "p")
    val digits = Tables.orders(spark, dir)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).as("digit"))
      .filter(col("digit") =!= "0")
      .groupBy("digit").agg(count(lit(1)).as("obs"))
    val total = digits.agg(sum(col("obs")).as("total"))
    broadcast(benford)
      .join(digits, Seq("digit"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(total))
      .withColumn("expect", col("total").cast("double") * col("p"))
      .withColumn("chi2_term",
        (col("obs").cast("double") - col("expect")) *
        (col("obs").cast("double") - col("expect")) / col("expect"))
      .select("digit", "obs", "p", "expect", "chi2_term")
      .orderBy("digit")
  }

  /** Pareto concentration curve (q_pareto): what share of total revenue
    * the top 1% / 5% / 20% of customers carry — the "80/20" read on the
    * same ranked-spend table as [[spendGini]]. Cutoff sizes are exact
    * integer arithmetic (⌈p·n/100⌉); coverage at each cutoff is one
    * conditional aggregate (the [[graft.scale.Search.coverageCurve]]
    * pattern pointed at revenue); shares are single IEEE divisions. */
  def paretoCurve(spark: SparkSession, dir: String,
                  pcts: Seq[Int] = Seq(1, 5, 20)): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val ranked = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(spend,
        Seq(col("v").desc, col("o_custkey").asc), rankCol = "i", nCol = "__n"),
      "pareto_ranked") // feeds the totals row and the cutoff sums
    val totals = ranked.agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    val cuts = spark.createDataFrame(pcts.map(p => Tuple1(p.toLong)))
      .toDF("pct")
    ranked.crossJoin(broadcast(totals)).crossJoin(broadcast(cuts))
      .withColumn("k", expr("(pct * n + 99) div 100")) // ⌈p·n/100⌉ exact
      .groupBy("pct")
      .agg(first(col("k")).as("top_k"),
        sum(when(col("i") <= col("k"), col("v")).otherwise(0L)).as("top_cents"),
        first(col("total")).as("total"))
      .withColumn("share", col("top_cents").cast("double") / col("total"))
      .select("pct", "top_k", "top_cents", "share")
      .orderBy("pct")
  }

  /** Per-group exact mode (q_mode): each nation's most common order
    * priority — argmax by (count DESC, value ASC) via the min-struct
    * idiom on (−cnt, value): a two-level keyed aggregate, partial-
    * combining at every step, never a ranked window over the fact
    * stream. `share` is the single IEEE division. */
  def modalPriority(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy("nation_name")
      .agg(min(struct((-col("cnt")).as("neg"), col("prio"))).as("w"),
        sum(col("cnt")).as("n_orders"))
      .select(col("nation_name"), col("w.prio").as("mode_priority"),
        (-col("w.neg")).as("mode_cnt"), col("n_orders"),
        ((-col("w.neg")).cast("double") / col("n_orders")).as("share"))
      .orderBy("nation_name")
  }

  /** Duplicate-order audit (q_double_charge): order groups with the
    * SAME customer, day, and exact total — the billing-dedup check
    * (retried submissions, double charges). One map-side-combining
    * aggregate on the (customer, day, cents) key; only groups with > 1
    * order surface. The synthetic corpus has no natural duplicates, so
    * (as q_exact_dups does) every 97th order is planted as a re-keyed
    * resubmission — both engines see the same planted stream, and the
    * audit's firing path is what gets oracle-checked. */
  def doubleCharge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val resubmitted = o.filter(pmod(col("o_orderkey"), lit(97)) === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
    o.unionByName(resubmitted)
      .groupBy(col("o_custkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("first_order"))
      .filter(col("n_orders") > 1)
      .orderBy("o_custkey", "day", "cents")
  }

  /** ABC inventory analysis (q_abc): parts classed by cumulative revenue
    * share — A while cumulative ≤ 80% of total, B to 95%, C after — the
    * [[paretoCurve]] turned into the classification ops teams actually
    * act on. Rank and cumulative revenue come from ONE
    * [[Ranking.distributedCumSum]] pass over the per-part aggregate
    * (revenue desc, partkey tiebreak); class boundaries compare
    * 100·cum against 80·total / 95·total in decimal(38,0) — no float
    * touches the classification. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val cum = Ranking.distributedCumSum(rev,
      Seq(col("v").desc, col("l_partkey").asc), Seq("v"))
    val tot = rev.agg(sum(col("v")).as("total"))
    cum.crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum_v").cast(d38) * 100 <= col("total").cast(d38) * 80, "A")
          .when(col("cum_v").cast(d38) * 100 <= col("total").cast(d38) * 95, "B")
          .otherwise(lit("C")))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("v")).as("rev_cents"),
        first(col("total")).as("total"))
      .withColumn("rev_share",
        col("rev_cents").cast("double") / col("total").cast("double"))
      .select("cls", "n_parts", "rev_cents", "rev_share")
      .orderBy("cls")
  }

  /** Herfindahl–Hirschman supplier-concentration index per region
    * (q_hhi): HHI = Σᵢ shareᵢ² of supplier revenue within each region —
    * the antitrust-style concentration readout next to
    * [[singleSourceRisk]]'s count histogram (that flags parts with few
    * suppliers; this flags REGIONS where revenue concentrates in few).
    *
    * Exactness: supplier revenues are exact cent sums; HHI is written
    * numerator-over-denominator — Σrev² and (Σrev)² as exact
    * decimal(38,0) — so the only IEEE work is one division of two
    * correctly-rounded casts (the q_trend VARCHAR device oracle-side
    * for the >2⁵³ squares). top_share = max revenue over total, same
    * shape. Scale: one fact shuffle to (region, supplier) grain —
    * dims broadcast — then a |regions|-row rollup. */
  def hhiQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val nation = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey")))
    val region = broadcast(Tables.region(spark, dir)
      .select(col("r_regionkey"), col("r_name")))
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("v"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("l_suppkey"))
      .agg(sum(col("v")).as("rev"))
    rev.groupBy("region")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev").cast(d38)).as("tot"),
        sum(col("rev").cast(d38) * col("rev").cast(d38)).as("sumsq"),
        max(col("rev")).as("max_rev"))
      .select(col("region"), col("n_suppliers"),
        (col("sumsq").cast("double") /
          (col("tot") * col("tot")).cast("double")).as("hhi"),
        (col("max_rev").cast("double") / col("tot").cast("double"))
          .as("top_share"))
      .orderBy("region")
  }

  /** Per-brand era frame shared by [[elasticityQuery]] and [[pvmQuery]]:
    * units and revenue cents per (brand, era) with era split at the
    * pinned corpus midpoint 1998-01-01 — one fact-side aggregate after
    * the brand dimension join (lineitem pre-projected; part broadcast-
    * joined on partkey). Wide row per brand via conditional sums, so
    * both downstream trees are per-row fixed arithmetic. */
  private def brandEraFrame(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        (col("l_shipdate") < lit("1998-01-01").cast("timestamp")).as("era1"),
        col("l_quantity").cast("long").as("q"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("s"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        sum(when(col("era1"), col("q")).otherwise(0L)).as("q1"),
        sum(when(col("era1"), col("s")).otherwise(0L)).as("s1"),
        sum(when(!col("era1"), col("q")).otherwise(0L)).as("q2"),
        sum(when(!col("era1"), col("s")).otherwise(0L)).as("s2"))
      .filter(col("q1") > 0L && col("q2") > 0L)
  }

  /** Arc price elasticity of demand per brand (q_elasticity):
    * ((q₂−q₁)/(q₂+q₁)) / ((P₂−P₁)/(P₂+P₁)) with P = revenue/units —
    * the midpoint-formula elasticity between the two corpus eras, the
    * pricing read behind every "can we raise prices?" call. The unit
    * prices are rationals; their shared q₁q₂ denominators CANCEL, so
    * the whole statistic is the integer fraction
    * ((q₂−q₁)(s₂q₁+s₁q₂)) / ((q₂+q₁)(s₂q₁−s₁q₂)) — exact
    * decimal(38,0) products, ONE terminal division per brand. */
  def elasticityQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    brandEraFrame(spark, dir)
      .select(col("brand"), col("q1"), col("q2"),
        (((col("q2") - col("q1")).cast(d38) *
            (col("s2").cast(d38) * col("q1").cast(d38) +
              col("s1").cast(d38) * col("q2").cast(d38)))
          .cast("string").cast("double") /
          ((col("q2") + col("q1")).cast(d38) *
            (col("s2").cast(d38) * col("q1").cast(d38) -
              col("s1").cast(d38) * col("q2").cast(d38)))
          .cast("string").cast("double")).as("elasticity"))
      .orderBy("brand")
  }

  /** ABC × XYZ inventory policy matrix (q_abc_xyz): cross the revenue
    * concentration classes ([[abcAnalysis]]'s 80/95 cumulative-share
    * cuts) with the demand-variability classes ([[xyzQuery]]'s exact
    * CV thresholds) into the 9-cell planning grid — the standard
    * stocking-policy map (AX = automate, CZ = make-to-order). Both
    * classifications are exact (integer cumulative-share compares;
    * integer CV compares); the grid is one join + count. */
  def abcXyzQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = graft.scale.Silver.scratch(
      Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("l_quantity").cast("long").as("q"),
          expr("unix_millis(cast(l_shipdate as timestamp)) div 604800000")
            .as("week")),
      "abcxyz_li") // feeds both classification passes
    // materialized: rev feeds the cumulative pass AND the one-row totals
    // — unscratched, the part-revenue aggregation re-executed once per
    // consumer (three scans of the li checkpoint; profile job 23/29/30)
    val rev = graft.scale.Silver.scratch(
      li.groupBy(col("l_partkey")).agg(sum(col("cents")).as("v")),
      "abcxyz_rev")
    val cum = Ranking.distributedCumSum(rev,
      Seq(col("v").desc, col("l_partkey").asc), Seq("v"))
    // one pass for both one-row totals (was two separate aggregations)
    val tot = rev.agg(sum(col("v")).as("total"),
      count(lit(1)).as("n_parts_total"))
    val abc = cum.crossJoin(broadcast(tot))
      .select(col("l_partkey"),
        when(col("cum_v").cast(d38) * 100 <= col("total").cast(d38) * 80, "A")
          .when(col("cum_v").cast(d38) * 100 <= col("total").cast(d38) * 95,
            "B")
          .otherwise(lit("C")).as("abc"))
    val xyz = li.groupBy(col("l_partkey"), col("week"))
      .agg(sum(col("q")).as("q"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      .withColumn("varnum", col("n") * col("sqq") - col("sq") * col("sq"))
      .select(col("l_partkey"),
        when(lit(4L) * col("varnum") <= col("sq") * col("sq"), "X")
          .when(col("varnum") <= col("sq") * col("sq"), "Y")
          .otherwise("Z").as("xyz"))
    abc.join(xyz, Seq("l_partkey"))
      .groupBy("abc", "xyz").agg(count(lit(1)).as("n_parts"))
      .crossJoin(broadcast(tot.select(col("n_parts_total"))))
      .select(col("abc"), col("xyz"), col("n_parts"),
        (col("n_parts").cast("double") / col("n_parts_total").cast("double"))
          .as("part_share"))
      .orderBy("abc", "xyz")
  }

  /** Customer spend-class migration matrix (q_segment_migration):
    * classify every customer LOW/HIGH per era (above/below the era's
    * exact lower-median spend among active customers; absent = NONE)
    * and count the 3×3 era-over-era transitions — the lifecycle flow
    * chart behind retention dashboards ("are HIGHs churning? are news
    * arriving LOW and staying LOW?"), the matrix q_rfm's static
    * snapshot can't show. Both class anchors are exact rank-selected
    * medians ([[graft.operators.Ranking.distributedGlobalRank]]); the
    * matrix is one full-outer join + count. */
  def segmentMigrationQuery(spark: SparkSession, dir: String): DataFrame = {
    val cents = (c: Column) => (c.cast("decimal(18,2)") * 100).cast("long")
    def eraSpend(era1: Boolean): DataFrame = {
      val f = if (era1) col("o_orderdate") < lit("1998-01-01").cast("timestamp")
        else col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
      Tables.orders(spark, dir).filter(f)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("y"))
    }
    def classed(df: DataFrame, tag: String): DataFrame = {
      val s = graft.scale.Silver.scratch(df, s"mig_$tag")
      val med = Ranking.distributedGlobalRank(s, Seq(col("y").asc),
          rankCol = "r", nCol = "nn", numParts = 8)
        .filter(col("r") === expr("(nn + 1) div 2"))
        .select(col("y").as("m"))
      s.crossJoin(broadcast(med))
        .select(col("o_custkey"),
          when(col("y") > col("m"), "HIGH").otherwise("LOW").as(s"cls_$tag"))
    }
    classed(eraSpend(era1 = true), "e1")
      .join(classed(eraSpend(era1 = false), "e2"), Seq("o_custkey"), "full")
      .groupBy(coalesce(col("cls_e1"), lit("NONE")).as("from_class"),
        coalesce(col("cls_e2"), lit("NONE")).as("to_class"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("from_class", "to_class")
  }

  /** Net revenue retention across the corpus midpoint (q_nrr): second-
    * era revenue from FIRST-era customers over first-era revenue — the
    * SaaS headline metric separating growth from acquisition, with the
    * new-customer revenue reported beside it (NRR > 1 means the
    * existing base expands on its own). Exact cent sums off one
    * conditional aggregate per era + one join; two terminal
    * divisions. */
  def nrrQuery(spark: SparkSession, dir: String): DataFrame = {
    val cents = (c: Column) => (c.cast("decimal(18,2)") * 100).cast("long")
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("o_orderdate") < lit("1998-01-01").cast("timestamp"),
          cents(col("o_totalprice"))).otherwise(0L)).as("rev1"),
        sum(when(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"),
          cents(col("o_totalprice"))).otherwise(0L)).as("rev2"))
    per.agg(
        sum(col("rev1")).as("base_rev"),
        sum(when(col("rev1") > 0L, col("rev2")).otherwise(0L))
          .as("retained_rev"),
        sum(when(col("rev1") === 0L, col("rev2")).otherwise(0L))
          .as("new_rev"),
        sum(when(col("rev1") > 0L && col("rev2") > 0L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("rev1") > 0L, 1L).otherwise(0L)).as("n_base"))
      .select(col("base_rev"), col("retained_rev"), col("new_rev"),
        col("n_base"), col("n_retained"),
        (col("retained_rev").cast("double") / col("base_rev").cast("double"))
          .as("nrr"),
        (col("n_retained").cast("double") / col("n_base").cast("double"))
          .as("logo_retention"))
  }

  /** XYZ demand-variability classification (q_xyz): every part lands in
    * X (steady, CV ≤ 0.5), Y (variable, CV ≤ 1) or Z (erratic) by the
    * coefficient of variation of its weekly shipped quantity — the
    * inventory-planning partner of ABC value analysis (q_abc): X parts
    * forecast well, Z parts need buffer stock. The CV threshold
    * compares EXACTLY in integers: CV² = (n·Σq²−(Σq)²)/(Σq)², so
    * X ⇔ 4·(n·Σq²−(Σq)²) ≤ (Σq)² — no float ever enters the
    * classification. Two map-side-combining aggregates; output is the
    * 3-row class table. CV is over a part's ACTIVE weeks (zero-demand
    * weeks are not observed rows — documented denominator). */
  def xyzQuery(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 604800000")
          .as("week"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val per = weekly.groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      .withColumn("varnum", col("n") * col("sqq") - col("sq") * col("sq"))
      .withColumn("cls",
        when(lit(4L) * col("varnum") <= col("sq") * col("sq"), "X")
          .when(col("varnum") <= col("sq") * col("sq"), "Y")
          .otherwise("Z"))
    val tot = per.agg(count(lit(1)).as("n_parts_total"))
    per.groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("sq")).as("total_units"),
        sum(col("n")).as("total_weeks"))
      .crossJoin(broadcast(tot))
      .select(col("cls"), col("n_parts"), col("total_units"),
        col("total_weeks"),
        (col("n_parts").cast("double") / col("n_parts_total").cast("double"))
          .as("part_share"))
      .orderBy("cls")
  }

  /** Safety stock per part (q_safety_stock): z·σ_daily·√L with pinned
    * z = 1.645 (95% service) and L = 7-day lead time — the textbook
    * buffer formula over each part's observed daily-demand variance,
    * reported for the 20 highest-buffer parts ("where is volatility
    * most expensive?"). σ comes from the cleared-denominator exact
    * variance ((n·Σq²−(Σq)²)/(n(n−1)), VARCHAR-routed); z and √7 are
    * fixed literals/correctly-rounded ops, so the ranking doubles are
    * engine-identical and the top-20 selection is stable. */
  /** z_{0.95} rounded to 3 decimals — the 95%-service-level quantile in
    * the safety-stock formula, shared verbatim with the oracle SQL.
    * Third-sourced in ThirdSourceSpec against Acklam's inverse normal. */
  private[graft] val Z95_3dp = 1.645

  def safetyStockQuery(spark: SparkSession, dir: String,
                       topK: Int = 20): DataFrame = {
    val d38 = "decimal(38,0)"
    val dailyD = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
          .as("day"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    dailyD.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_days"), sum(col("q")).as("sq"),
        sum(col("q").cast(d38) * col("q").cast(d38)).as("sqq"))
      .filter(col("n_days") >= 2L)
      .withColumn("sigma",
        sqrt((col("n_days").cast(d38) * col("sqq") -
            col("sq").cast(d38) * col("sq").cast(d38))
          .cast("string").cast("double") /
          (col("n_days") * (col("n_days") - 1L)).cast("double")))
      .select(col("l_partkey").as("p_partkey"), col("n_days"),
        (col("sq").cast("double") / col("n_days").cast("double"))
          .as("mean_daily_units"),
        (lit(Z95_3dp) * col("sigma") * sqrt(lit(7.0))).as("safety_stock"))
      .orderBy(col("safety_stock").desc, col("p_partkey").asc)
      .limit(topK)
  }

  /** Price-volume-mix revenue bridge per brand (q_pvm): decompose each
    * brand's era-over-era revenue change into volume effect
    * (q₂−q₁)·P₁ and price effect q₂·(P₂−P₁) — the FP&A waterfall that
    * explains WHY revenue moved (the two effects sum exactly to Δrev
    * per brand). P₁ = s₁/q₁ enters as the cleared fraction
    * ((q₂−q₁)·s₁)/q₁ — exact product, one division; the price effect
    * closes the bridge as Δrev − volume, keeping additivity EXACT in
    * the emitted doubles. */
  def pvmQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val vol = ((col("q2") - col("q1")).cast(d38) * col("s1").cast(d38))
      .cast("string").cast("double") / col("q1").cast("double")
    brandEraFrame(spark, dir)
      .select(col("brand"), col("s1").as("rev1_cents"),
        col("s2").as("rev2_cents"),
        (col("s2") - col("s1")).as("delta_cents"),
        vol.as("volume_effect"),
        ((col("s2") - col("s1")).cast("double") - vol).as("price_effect"))
      .orderBy("brand")
  }
}
