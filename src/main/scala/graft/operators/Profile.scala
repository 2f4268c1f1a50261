package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Column-level data profiling (q_profile) — the Deequ/Great-Expectations
  * "dataset statistics" pass every ingestion pipeline runs before trusting
  * a new drop: per column, row count, null count, exact distinct count,
  * and min/max. The reference eyeballs exactly these via ad-hoc DESCRIBE
  * queries during scraper debugging; here it is one distributed job whose
  * output is itself a queryable table.
  *
  * Values are profiled through a canonical VARCHAR cast so one result
  * schema covers heterogenous column types (min/max are therefore
  * LEXICOGRAPHIC on the string form — documented in the output, exact
  * across engines for the integer/string columns profiled here; doubles
  * are deliberately excluded since float→string formatting differs by
  * engine).
  *
  * Scale shape: ONE scan of the table fans each row into |cols| slim
  * (col_name, val) rows, then a two-level aggregation: level 1 groups by
  * (col_name, val) — map-side combining collapses repeated values before
  * the shuffle, and the exact distinct count comes without an Expand
  * plan (the no-Expand rule the rest of the engine follows); level 2
  * rolls up per column. Shuffle cardinality is Σ per-column distinct
  * values, not rows×cols.
  */
object Profile {

  /** Profile `cols` of `df`: (col_name, n_rows, n_nulls, n_distinct,
    * min_val, max_val), one row per profiled column. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols
      .map(c => s"'$c', cast(`$c` as string)")
      .mkString(", ")
    val unpivoted = df.select(
      expr(s"stack(${cols.size}, $stackArgs) as (col_name, val)"))
    val perValue = unpivoted
      .groupBy("col_name", "val")
      .agg(count(lit(1)).as("cnt"))
    perValue
      .groupBy("col_name")
      .agg(
        sum(col("cnt")).as("n_rows"),
        sum(when(col("val").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
        count(col("val")).as("n_distinct"), // count(col) skips the null group
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .orderBy("col_name")
  }

  /** q_profile: profile lineitem's integer + string columns. */
  def lineitemProfile(spark: SparkSession, dir: String): DataFrame =
    columnProfile(
      Tables.lineitem(spark, dir),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus"))

  /** k-anonymity audit (q_k_anon): how re-identifiable is the customer
    * table under the (market segment, nation) quasi-identifier — group
    * sizes below k put their members at risk. The privacy gate a dataset
    * publisher runs before sharing; one map-side-combining aggregate
    * builds the QI groups, a second (groups-bounded) aggregate rolls up
    * the risk numbers. */
  def kAnonymity(spark: SparkSession, dir: String, k: Long = 5L): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"))
      .agg(lit(k).as("k"),
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("cnt")).as("min_group"))
      .withColumn("risk_share",
        col("n_rows_at_risk").cast("double") / col("n_rows").cast("double"))

  /** Referential-integrity audit (q_fk_audit): one row per foreign-key
    * edge of the warehouse schema with child cardinality, orphan count,
    * and orphan rate — the FK half of the reference's constraint layer
    * (database/schema.sql REFERENCES clauses) as a queryable report
    * instead of per-row rejections ([[Validate]] covers those).
    *
    * Each edge is one left join on the parent's key projection: n_child
    * and n_orphans come from the SAME pass (count + null-count), so an
    * edge costs one join, not a count plus an anti-join. Dimension
    * parents (nation, region) broadcast; fact-sized parents take the
    * unavoidable key shuffle. The 7 one-row aggregates union at the end —
    * each keeps its own plan, so AQE sizes each join independently. */
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String,
             broadcastParent: Boolean = false): DataFrame = {
      val p0 = parent.select(col(parentKey).as("__pk"))
      val p = if (broadcastParent) broadcast(p0) else p0
      child.select(col(childKey).as("__ck"))
        .join(p, col("__ck") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk"), col("n_child"), col("n_orphans"),
          (col("n_orphans").cast("double") / col("n_child").cast("double"))
            .as("orphan_rate"))
    }
    val li = Tables.lineitem(spark, dir)
    Seq(
      edge("lineitem.l_orderkey->orders.o_orderkey",
        li, "l_orderkey", Tables.orders(spark, dir), "o_orderkey"),
      edge("lineitem.l_partkey->part.p_partkey",
        li, "l_partkey", Tables.part(spark, dir), "p_partkey"),
      edge("lineitem.l_suppkey->supplier.s_suppkey",
        li, "l_suppkey", Tables.supplier(spark, dir), "s_suppkey"),
      edge("orders.o_custkey->customer.c_custkey",
        Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      edge("customer.c_nationkey->nation.n_nationkey",
        Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey", broadcastParent = true),
      edge("supplier.s_nationkey->nation.n_nationkey",
        Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey", broadcastParent = true),
      edge("nation.n_regionkey->region.r_regionkey",
        Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey", broadcastParent = true)
    ).reduce(_ unionByName _).orderBy("fk")
  }

  /** Join-cardinality estimation witness (q_join_size): the planner
    * statistic Σ_k c_k² (per-key count histogram product) PREDICTS a
    * self-join's output size without running it; the query then RUNS the
    * join on a bounded key subset and witnesses estimate ≡ execution —
    * the sanity check behind every similarity-join blow-up guard in this
    * repo (`Dedup.MaxShingleDf`, the triangle broadcast gate all reason
    * from exactly this Σc² number).
    *
    * Subset = lineitems of parts with p_size = 1 (a stable ~2% slice) so
    * the witnessed join stays bounded at any SF; the FULL-corpus Σc² is
    * still reported (string witness — it exceeds long under 10×
    * inflation) as the pure-estimate column. */
  def joinSizeQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"))
    val full = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), max(col("c")).as("max_key_cnt"),
        sum(col("c").cast(d38) * col("c").cast(d38)).as("est_full"))
    val subKeys = Tables.part(spark, dir)
      .filter(col("p_size") === 1).select(col("p_partkey"))
    val sub = graft.scale.Silver.scratch(
      li.join(broadcast(subKeys), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey")),
      "js_sub") // feeds the estimate and the witnessed join
    val subEst = sub.groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast(d38) * col("c").cast(d38)).as("est_sub"))
    val actual = sub.as("x").join(sub.as("y"),
        col("x.l_partkey") === col("y.l_partkey"))
      .agg(count(lit(1)).as("actual_sub"))
    full.crossJoin(subEst).crossJoin(actual)
      .select(col("n_keys"), col("max_key_cnt"),
        col("est_full").cast("string").as("est_full"),
        col("est_sub").cast("long").as("est_sub"), col("actual_sub"),
        (col("est_sub").cast("long") === col("actual_sub")).as("est_exact"))
  }

  /** l-diversity audit (q_l_diversity): [[kAnonymity]]'s companion —
    * group size alone doesn't protect a quasi-identifier group whose
    * SENSITIVE attribute is homogeneous (everyone in the group shares
    * the same account-balance band, so membership leaks the value).
    * Per (segment, nation) QI group: size k and the number of distinct
    * sensitive bands l; the rollup counts groups and rows failing
    * l ≥ 3. Two map-side-combining aggregates — the first shuffles on
    * (QI, band) so the distinct count needs no Expand, the second is
    * QI-domain-bounded. All integers, one final share division. */
  def lDiversity(spark: SparkSession, dir: String, l: Long = 3L): DataFrame = {
    val perBand = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .cast("double") / lit(200000.0)).cast("long").as("band"))
      .groupBy("c_mktsegment", "c_nationkey", "band")
      .agg(count(lit(1)).as("cnt"))
    perBand.groupBy("c_mktsegment", "c_nationkey")
      .agg(sum(col("cnt")).as("k"), count(lit(1)).as("l"))
      .agg(lit(l).as("l_req"),
        sum(col("k")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("l")).as("min_l"),
        sum(when(col("l") < l, 1L).otherwise(0L)).as("n_weak_groups"),
        sum(when(col("l") < l, col("k")).otherwise(0L)).as("n_rows_at_risk"))
      .withColumn("risk_share",
        col("n_rows_at_risk").cast("double") / col("n_rows").cast("double"))
  }

  /** t-closeness audit (q_t_closeness): the third rung of the privacy
    * ladder — a group can be large (k-anon) and varied (l-diverse) yet
    * still leak if its sensitive DISTRIBUTION deviates from the table's
    * (e.g. a group skewed to the top balance band). Per QI group, the
    * earth-mover's distance between the group's balance-band histogram
    * and the global one over the ORDERED bands:
    * EMD = Σ_b |cum(c_b·M − g_b·N_g)| / (N_g·M·(B−1)).
    *
    * Exactness: the cumulative numerator is integer arithmetic on the
    * dense (QI × band) grid — built by a domain-bounded cross join
    * (|QI groups|·|bands| rows, both dimension-bounded) so absent bands
    * contribute their zeros; ONE division emits the distance. Shape:
    * one fact aggregate to (QI, band), everything after is grid-sized. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val banded = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
        floor((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .cast("double") / lit(200000.0)).cast("long").as("band"))
    val cells = banded.groupBy("seg", "nat", "band")
      .agg(count(lit(1)).as("c"))
    // every frame below is (|QI| × |bands|)-bounded
    val groups = cells.groupBy("seg", "nat").agg(sum(col("c")).as("n_g"))
    val global = cells.groupBy("band").agg(sum(col("c")).as("g"))
    val tot = global.agg(sum(col("g")).as("m"),
      count(lit(1)).as("n_bands"))
    val grid = groups.crossJoin(global)
      .join(cells, Seq("seg", "nat", "band"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(tot)
    val w = Window.partitionBy(col("seg"), col("nat")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_diff",
        sum(col("c").cast(d38) * col("m").cast(d38) -
            col("g").cast(d38) * col("n_g").cast(d38)).over(w))
      .groupBy(col("seg"), col("nat"), col("n_g"), col("m"),
        col("n_bands"))
      .agg(sum(abs(col("cum_diff"))).as("emd_num"))
      .select(col("seg"), col("nat"), col("n_g"),
        (col("emd_num").cast("string").cast("double") /
          (col("n_g").cast(d38) * col("m").cast(d38) *
           (col("n_bands") - 1).cast(d38)).cast("string").cast("double"))
          .as("emd"))
      .orderBy("seg", "nat")
  }

  /** Cross-table data-quality scorecard (q_dq_scorecard): one row per
    * VALUE rule — domain membership, sign/range sanity, temporal
    * ordering — with exact violation counts and rates. The landing-page
    * DQ read that complements [[fkAudit]] (referential rules) and the
    * per-column [[profile]] stats: "which invariants does this corpus
    * break, and how often?" Each rule is one conditional aggregate
    * (comparisons only — no float arithmetic, so the counts are exact
    * under any partitioning); the temporal rule joins the fact pair
    * once. Zero-violation rows are emitted too — a scorecard proves
    * checks RAN, not just that failures exist. */
  def dqScorecard(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    def rule(name: String, df: DataFrame,
             bad: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_total"),
          sum(when(bad, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_total"), col("n_violations"),
          (col("n_violations").cast("double") / col("n_total").cast("double"))
            .as("violation_rate"))
    val shipJoin = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
    Seq(
      rule("lineitem.quantity_positive", li, col("l_quantity") <= 0.0),
      rule("lineitem.discount_in_0_0.5", li,
        col("l_discount") < 0.0 || col("l_discount") > 0.5),
      rule("lineitem.tax_in_0_0.5", li,
        col("l_tax") < 0.0 || col("l_tax") > 0.5),
      rule("lineitem.returnflag_domain", li,
        !col("l_returnflag").isin("A", "N", "R")),
      rule("lineitem.ship_not_before_order", shipJoin,
        col("l_shipdate") < col("o_orderdate")),
      rule("orders.totalprice_positive", o, col("o_totalprice") <= 0.0),
      rule("orders.priority_domain", o,
        !col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")),
      rule("customer.acctbal_not_null", Tables.customer(spark, dir),
        col("c_acctbal").isNull)
    ).reduce(_ unionByName _).orderBy("rule")
  }
}
