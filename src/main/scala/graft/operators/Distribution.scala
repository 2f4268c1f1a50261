package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distribution-comparison statistics — the "are these two populations
  * the same?" toolkit a data platform needs next to its dashboards
  * (reference: the analytics engine's cross-segment comparisons,
  * src/analytics/engine.py performance/market-value breakdowns).
  *
  * Everything here follows the repo's exactness discipline: heavy passes
  * reduce to integer sufficient statistics (cents, counts) with map-side
  * combine; the statistic itself is a fixed tree of single IEEE ops over
  * those exact values, so DuckDB replays it bit-identically.
  */
object Distribution {

  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Pinned z-quantile constants shared verbatim with the oracle SQL
    * (z-quantiles are not portable cross-engine functions). Exposed
    * private[graft] so ThirdSourceSpec can check each against an
    * independent inverse-normal / studentized-range computation. */
  private[graft] val WilsonZ: Double = 1.96      // z_{0.975}, 2 dp
  private[graft] val WilsonZ2: Double = 3.8416   // the decimal square of 1.96
  private[graft] val MdeZSum: Double = 2.8       // z_{0.975} + z_{0.80}, 1 dp
  private[graft] val TukeyQCrit: Double = 3.858  // q(alpha=.05, k=5, df=inf)

  /** Lan–DeMets O'Brien–Fleming spending boundaries for K = 5 equally
    * spaced looks, two-sided alpha = 0.05 — the published group-
    * sequential table (spending alpha*(t) = 4 − 4Φ(z_{alpha/4}/√t)).
    * ThirdSourceSpec re-derives all five from first principles via the
    * Armitage sub-density recursion. */
  private[graft] val ObfBoundaries: Seq[Double] =
    Seq(4.8769, 3.3569, 2.6803, 2.2898, 2.0310)

  /** Two-sample Kolmogorov–Smirnov distance between the order-price
    * distributions of two market segments (q_ks).
    *
    * D = max over thresholds of |F_A(v) − F_B(v)| is computed fully in
    * integers: per distinct cents value the two counts, cumulative counts
    * via [[Ranking.distributedCumSum]] (range exchange + broadcast
    * offsets — never a single-partition window), then
    * D·n_A·n_B = max |ca·n_B − cb·n_A|. The only float op is the final
    * division. `at_cents` is the smallest threshold attaining the max.
    *
    * Scale shape: one fact-side shuffle (groupBy v, map-side combining to
    * ≤ |price domain| rows), then everything runs on the domain-bounded
    * aggregated frame. Products go through decimal(38,0) so cum·n stays
    * exact at any corpus size. */
  def ksTest(spark: SparkSession, dir: String,
             segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(cents(col("o_totalprice")).as("v"),
        when(col("c_mktsegment") === segA, 1L).otherwise(0L).as("ia"),
        when(col("c_mktsegment") === segB, 1L).otherwise(0L).as("ib"))
    val per = o.groupBy("v").agg(sum(col("ia")).as("a"), sum(col("ib")).as("b"))
    // r15: grand totals ride the cumsum's offsets broadcast (totals=true)
    // instead of a separate per.agg that re-executed the orders⋈customer
    // fact subtree a second time (guide §2.4).
    val cum = Ranking.distributedCumSum(per, Seq(col("v").asc), Seq("a", "b"),
      totals = true)
    cum
      .select(col("v"), col("tot_a").as("n_a"), col("tot_b").as("n_b"),
        abs(col("cum_a").cast(d38) * col("tot_b").cast(d38) -
            col("cum_b").cast(d38) * col("tot_a").cast(d38)).as("dn"))
      // argmax with ties to the smallest threshold: min-struct on (−D, v)
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        min(struct((-col("dn")).as("nd"), col("v"))).as("w"))
      .select(col("n_a"), col("n_b"),
        (-col("w.nd")).cast("long").as("d_num"),
        col("w.v").as("at_cents"),
        ((-col("w.nd")).cast("long").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
  }

  /** Chi-square contingency cells for market segment × order priority
    * (q_chi2): per cell the observed count, the independence-model
    * expectation e = rowTot·colTot/N, and the cell's chi-square term
    * (o − e)²/e — the association breakdown behind a "does priority mix
    * differ by segment?" dashboard.
    *
    * One fact shuffle builds the cell counts; row/column totals and N are
    * re-aggregations of the ~|segments|·|priorities| cell frame and come
    * back broadcast. Per-cell term is a fixed op tree over exact integers:
    * e = (rt·ct as exact long) / N, term = (o−e)·(o−e)/e. */
  def chi2Contingency(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy("segment").agg(sum(col("obs")).as("rt"))
    val ct = cells.groupBy("priority").agg(sum(col("obs")).as("ct"))
    val n = cells.agg(sum(col("obs")).as("n"))
    cells.join(broadcast(rt), "segment").join(broadcast(ct), "priority")
      .crossJoin(broadcast(n))
      .withColumn("expect", (col("rt") * col("ct")).cast("double") /
        col("n").cast("double"))
      .withColumn("chi2_term",
        (col("obs").cast("double") - col("expect")) *
        (col("obs").cast("double") - col("expect")) / col("expect"))
      .select("segment", "priority", "obs", "expect", "chi2_term")
      .orderBy("segment", "priority")
  }

  /** Exact discrete percentile bands of order price per market segment
    * (q_percentile_bands): the smallest cents value whose cumulative
    * count reaches ⌈p·n/100⌉ for p ∈ {25, 50, 75, 90} — percentile_disc
    * semantics pinned by explicit integer rank arithmetic so both engines
    * agree by construction (no library interpolation in sight).
    *
    * The fact stream collapses to (segment, cents)→count with map-side
    * combine; the cumulative pass and band selection run on that
    * domain-bounded frame (≤ |segments|·|price domain| rows — the
    * partition-key window is over the aggregate, never the facts). */
  def percentileBands(spark: SparkSession, dir: String,
                      pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        cents(col("o_totalprice")).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("segment")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("cum", sum(col("cnt")).over(w))
    val tot = per.groupBy("segment").agg(sum(col("cnt")).as("n"))
    val joined = cum.join(broadcast(tot), "segment")
    val bandAggs = pcts.map { p =>
      // rank_p = ⌈p·n/100⌉, exact integer div (Column./ would be double)
      min(when(col("cum") >= expr(s"($p * n + 99) div 100"),
        col("v"))).as(s"p${p}_cents")
    }
    joined.groupBy("segment")
      .agg(first(col("n")).as("n"), bandAggs: _*)
      .orderBy("segment")
  }

  /** Winsorized mean per segment (q_winsorized): the robust average
    * after clamping each order's price into the segment's exact
    * [p5, p95] band — the outlier-resistant KPI dashboards should show
    * instead of the raw mean. Thresholds come from the
    * [[percentileBands]] integer-rank machinery (broadcast back, the
    * threshold-coding discipline); clamping is integer min/max, so the
    * winsorized sum is EXACT and both means are single divisions. */
  def winsorizedMean(spark: SparkSession, dir: String,
                     loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), cents(col("o_totalprice")).as("v"))
    val per = graft.scale.Silver.scratch(
      o.groupBy("segment", "v").agg(count(lit(1)).as("cnt")),
      "wins_per") // feeds the threshold pass and the clamped aggregation
    val w = Window.partitionBy(col("segment")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("cum", sum(col("cnt")).over(w))
    val tot = per.groupBy("segment").agg(sum(col("cnt")).as("n"))
    val thresholds = cum.join(broadcast(tot), "segment")
      .groupBy("segment")
      .agg(first(col("n")).as("n"),
        min(when(col("cum") >= expr(s"($loPct * n + 99) div 100"), col("v")))
          .as("lo_cents"),
        min(when(col("cum") >= expr(s"($hiPct * n + 99) div 100"), col("v")))
          .as("hi_cents"))
    per.join(broadcast(thresholds), "segment")
      .withColumn("cl",
        least(greatest(col("v"), col("lo_cents")), col("hi_cents")))
      .groupBy("segment")
      .agg(first(col("n")).as("n"),
        first(col("lo_cents")).as("lo_cents"),
        first(col("hi_cents")).as("hi_cents"),
        sum(col("v") * col("cnt")).as("raw_sum"),
        sum(col("cl") * col("cnt")).as("wins_sum"))
      .withColumn("raw_mean",
        col("raw_sum").cast("double") / col("n").cast("double"))
      .withColumn("wins_mean",
        col("wins_sum").cast("double") / col("n").cast("double"))
      .select("segment", "n", "lo_cents", "hi_cents", "raw_mean", "wins_mean")
      .orderBy("segment")
  }

  /** One-way ANOVA for the weekday effect on order value (q_anova):
    * does day-of-week explain any of the price variance? The
    * sum-of-squares identities keep everything exact until the last few
    * ops: SST·n = n·Σx² − S² and SSB·n = n·Σ_d S_d²/n_d − S² with
    * per-weekday sums as decimal(38,0); because the weekday domain is
    * FIXED (7 values), the Σ_d term is a PIVOTED fixed-order expression
    * tree (s0…s6 conditional aggregates), not an order-dependent float
    * aggregation — the same device that keeps [[chi2Contingency]] and
    * q_benford_gof on the oracle board. η² = SSB/SST and
    * F = (η²/(1−η²))·((n−k)/(k−1)) are single-op chains. Weekday via
    * epoch-day arithmetic (day 0 = Thursday), not calendar functions. */
  def anovaWeekday(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("v"),
        expr("pmod(unix_millis(cast(o_orderdate as timestamp)) div 86400000, 7)")
          .as("dow"))
    val aggs =
      Seq(count(lit(1)).as("n"),
        sum(col("v").cast(d38)).as("s"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("q")) ++
      (0 until 7).flatMap { d =>
        Seq(sum(when(col("dow") === d, 1L).otherwise(0L)).as(s"n$d"),
          sum(when(col("dow") === d, col("v").cast(d38))
            .otherwise(lit(0).cast(d38))).as(s"s$d"))
      }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    // Σ_d S_d²/n_d as a fixed left-assoc 7-term tree of single ops
    val inner = (0 until 7).map { d =>
      (col(s"s$d") * col(s"s$d")).cast("double") / col(s"n$d").cast("double")
    }.reduceLeft(_ + _)
    // n·Σx² and n·Σ_d(S_d²/n_d) round-trip through VARCHAR before the
    // −S² subtraction: bare `a·b − c` is FMA-contractible on the C++
    // oracle engine (q_ndcg/q_polyfit class); exact on rounded doubles.
    wide
      .withColumn("sst_n",
        (nD * (col("q")).cast("double")).cast("string").cast("double") -
          (col("s") * col("s")).cast("double"))
      .withColumn("ssb_n",
        (nD * inner).cast("string").cast("double") -
          (col("s") * col("s")).cast("double"))
      .withColumn("eta_sq", col("ssb_n") / col("sst_n"))
      .withColumn("f_stat",
        col("eta_sq") / (lit(1.0) - col("eta_sq")) *
          ((col("n") - 7L).cast("double") / lit(6.0)))
      .select("n", "eta_sq", "f_stat")
  }

  /** Two-proportion z-test (q_prop_test): do BUILDING and MACHINERY
    * customers return items at the same rate? Counts are exact; p̂s,
    * the pooled proportion, and z are a fixed IEEE tree ending in the
    * correctly-rounded sqrt — the proportions companion of
    * [[mannWhitney]]/[[ksTest]] for the binary-outcome case. */
  def twoProportionTest(spark: SparkSession, dir: String,
                        segA: String = "BUILDING",
                        segB: String = "MACHINERY"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(col("c_mktsegment").as("seg"),
        (col("l_returnflag") === "R").as("ret"))
    val agg = li.agg(
      sum(when(col("seg") === segA, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("seg") === segA && col("ret"), 1L).otherwise(0L)).as("r_a"),
      sum(when(col("seg") === segB, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("seg") === segB && col("ret"), 1L).otherwise(0L)).as("r_b"))
    agg
      .withColumn("p_a", col("r_a").cast("double") / col("n_a").cast("double"))
      .withColumn("p_b", col("r_b").cast("double") / col("n_b").cast("double"))
      .withColumn("p_pool",
        (col("r_a") + col("r_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z",
        (col("p_a") - col("p_b")) /
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double"))))
      .select("n_a", "r_a", "n_b", "r_b", "p_a", "p_b", "p_pool", "z")
  }

  /** Spearman rank correlation (q_spearman): does a customer's account
    * balance predict their total spend? Both variables rank under a
    * UNIQUE total order ((value, custkey) — the tie-broken form whose
    * Σd² is integer-exact; documented: with ties this is Spearman over
    * tie-broken ranks, not midranks), each via one
    * [[Ranking.distributedGlobalRank]] pass over the customer-level
    * aggregate. ρ = 1 − 6Σd²/(n(n²−1)) is a fixed tree over exact
    * decimals — the n(n²−1) denominator exceeds Long by construction, so
    * both engines route it through decimal/HUGEINT. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("spend"))
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal"))
      .join(spend.withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"), "left")
      .na.fill(0L, Seq("spend"))
    val r1 = Ranking.distributedGlobalRank(base,
      Seq(col("bal").asc, col("c_custkey").asc), rankCol = "r_bal")
      .select(col("c_custkey"), col("r_bal"))
    val r2 = Ranking.distributedGlobalRank(base,
      Seq(col("spend").asc, col("c_custkey").asc), rankCol = "r_spend")
      .select(col("c_custkey"), col("r_spend"))
    r1.join(r2, "c_custkey")
      .agg(count(lit(1)).as("n"),
        sum(((col("r_bal") - col("r_spend")) * (col("r_bal") - col("r_spend")))
          .cast(d38)).as("sum_d2"))
      .withColumn("rho",
        lit(1.0) - (lit(6).cast(d38) * col("sum_d2")).cast("double") /
          (col("n").cast(d38) *
            (col("n").cast(d38) * col("n").cast(d38) - lit(1).cast(d38)))
            .cast("double"))
      .select("n", "sum_d2", "rho")
      .withColumn("sum_d2", col("sum_d2").cast("long"))
  }

  /** Mann–Whitney U test with tie correction (q_mannwhitney): the
    * rank-based two-sample companion of [[ksTest]] — "do BUILDING and
    * MACHINERY order prices come from the same distribution?" judged on
    * rank sums rather than CDF distance. Doubled midranks keep every
    * rank integer (2·midrank = 2·cumBefore + t + 1), so
    * 2U = Σa·(2·cum − t + 1) − n_A(n_A+1) is exact decimal arithmetic
    * off ONE [[Ranking.distributedCumSum]] pass; the tie-corrected
    * variance, z, and Cliff's δ are a fixed IEEE tree over those exact
    * values (÷2 and ÷12 are the only divisions before the
    * correctly-rounded sqrt). */
  def mannWhitney(spark: SparkSession, dir: String,
                  segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(cents(col("o_totalprice")).as("v"),
        when(col("c_mktsegment") === segA, 1L).otherwise(0L).as("ia"),
        when(col("c_mktsegment") === segB, 1L).otherwise(0L).as("ib"))
    val per = o.groupBy("v").agg(sum(col("ia")).as("a"), sum(col("ib")).as("b"))
      .withColumn("t", col("a") + col("b"))
    val cum = Ranking.distributedCumSum(per, Seq(col("v").asc), Seq("t"))
    val agg = cum.agg(
      sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
      // 2·Σ_A midrank: per value, a · (2·cumBefore + t + 1) = a·(2cum − t + 1)
      sum(col("a").cast(d38) *
        (lit(2).cast(d38) * col("cum_t").cast(d38) -
          col("t").cast(d38) + lit(1).cast(d38))).as("rank2_a"),
      sum(col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
        col("t").cast(d38)).as("tie_sum"))
    val nA = col("n_a").cast(d38)
    agg
      .withColumn("u2",
        (col("rank2_a") - nA * (nA + lit(1).cast(d38))).cast("long"))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("u", col("u2").cast("double") / lit(2.0))
      .withColumn("cliffs_delta",
        col("u2").cast("double") /
          (col("n_a") * col("n_b")).cast("double") - lit(1.0))
      .withColumn("z", {
        val mean = (col("n_a") * col("n_b")).cast("double") / lit(2.0)
        val tieRatio = col("tie_sum").cast("double") /
          ((col("n") * (col("n") - 1L)).cast("double"))
        val inner = (col("n") + 1L).cast("double") - tieRatio
        val variance = (col("n_a") * col("n_b")).cast("double") * inner / lit(12.0)
        (col("u") - mean) / sqrt(variance)
      })
      .select("n_a", "n_b", "u2", "u", "cliffs_delta", "z")
  }

  /** Quantity-weighted median price per return flag (q_weighted_median):
    * the smallest cents value whose cumulative QUANTITY reaches half the
    * total — the "typical unit's price" rather than the typical line's.
    * Same integer-rank machinery as [[percentileBands]] with a weight
    * column instead of a count: the fact stream collapses to
    * (flag, cents)→Σqty map-side, the cumulative pass runs on that
    * domain-bounded frame, and the selection test 2·cum ≥ total is
    * integer-exact. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("rf"),
        cents(col("l_extendedprice")).as("v"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"))
    val w = Window.partitionBy(col("rf")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("cum_qty", sum(col("qty")).over(w))
    val tot = per.groupBy("rf")
      .agg(sum(col("n")).as("n_rows"), sum(col("qty")).as("total_qty"))
    cum.join(broadcast(tot), "rf")
      .groupBy("rf")
      .agg(first(col("n_rows")).as("n_rows"),
        first(col("total_qty")).as("total_qty"),
        min(when(col("cum_qty") * 2 >= col("total_qty"), col("v")))
          .as("wmedian_cents"))
      .orderBy("rf")
  }

  /** Simpson's-paradox detector (q_simpsons_paradox): does each market
    * segment's average order price move the SAME direction between the
    * corpus's calendar halves as the aggregate does? Every direction
    * test is a cross-multiplied integer comparison (s2·n1 vs s1·n2 in
    * decimal(38,0)) — no division decides anything; the printed averages
    * are display-only single divisions. The aggregate verdict rides
    * along as a broadcast one-row frame. */
  def simpsonsParadox(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        cents(col("o_totalprice")).as("v"))
    val bounds = o.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val tagged = o.crossJoin(broadcast(bounds))
      .withColumn("h2", col("day") > col("mid"))
    val perSeg = tagged.groupBy("segment")
      .agg(sum(when(!col("h2"), col("v")).otherwise(0L)).as("s1"),
        sum(when(!col("h2"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("h2"), col("v")).otherwise(0L)).as("s2"),
        sum(when(col("h2"), 1L).otherwise(0L)).as("n2"))
    val overall = perSeg.agg(
      (sum(col("s2")).cast(d38) * sum(col("n1")).cast(d38) >
        sum(col("s1")).cast(d38) * sum(col("n2")).cast(d38)).as("overall_up"))
    perSeg.crossJoin(broadcast(overall))
      .withColumn("seg_up",
        col("s2").cast(d38) * col("n1").cast(d38) >
          col("s1").cast(d38) * col("n2").cast(d38))
      .select(col("segment"), col("n1"), col("n2"),
        (col("s1").cast("double") / col("n1").cast("double")).as("avg1_cents"),
        (col("s2").cast("double") / col("n2").cast("double")).as("avg2_cents"),
        col("seg_up"), col("overall_up"),
        (col("seg_up") =!= col("overall_up")).as("disagrees"))
      .orderBy("segment")
  }

  /** Distribution drift report (q_psi_drift): decile-bucket comparison
    * of order prices between the corpus's first and second calendar
    * halves — the model-monitoring "did the input distribution move?"
    * query. Bucket edges are the REFERENCE half's exact deciles (the
    * [[percentileBands]] integer-rank machinery over the domain-bounded
    * cents frame); both halves are then CODED against the broadcast
    * 9-threshold row (comparison coding — the fact stream is never
    * ranked). Per bucket: counts, shares, shift, and a chi-square term —
    * the log-free drift statistic (PSI proper needs ln, which is not
    * engine-portable; the χ² form detects the same movement). */
  def distributionDrift(spark: SparkSession, dir: String,
                        buckets: Int = 10): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val o = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        cents(col("o_totalprice")).as("v"))
    val bounds = o.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val tagged = graft.scale.Silver.scratch(
      o.crossJoin(broadcast(bounds))
        .select(col("v"), (col("day") <= col("mid")).as("is_ref")),
      "drift_tagged") // feeds the threshold pass and both codings
    val refPer = tagged.filter(col("is_ref"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    // r15: the reference-half size rides the cumsum's offsets broadcast
    // (totals=true) — no second groupBy pass over the tagged scratch (§2.4).
    val refCum = Ranking.distributedCumSum(refPer, Seq(col("v").asc),
      Seq("cnt"), totals = true)
    val thrAggs = (1 until buckets).map { i =>
      min(when(col("cum_cnt") >=
          expr(s"($i * tot_cnt + ${buckets - 1}) div $buckets"),
        col("v"))).as(s"t$i")
    }
    val thresholds = refCum.agg(thrAggs.head, thrAggs.tail: _*)
    val bucket = (1 until buckets).map { i =>
      when(col("v") > col(s"t$i"), 1).otherwise(0)
    }.reduceLeft(_ + _) + 1
    val counts = tagged.crossJoin(broadcast(thresholds))
      .select(bucket.cast("long").as("bucket"), col("is_ref"))
      .groupBy("bucket")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    val totals = counts.agg(sum(col("n_ref")).as("tot_ref"),
      sum(col("n_cur")).as("tot_cur"))
    val spine = (1 to buckets).map(_.toLong).toDF("bucket")
    spine.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(totals))
      .withColumn("ref_share",
        col("n_ref").cast("double") / col("tot_ref").cast("double"))
      .withColumn("cur_share",
        col("n_cur").cast("double") / col("tot_cur").cast("double"))
      .withColumn("shift", col("cur_share") - col("ref_share"))
      .withColumn("expect",
        (col("tot_cur") * col("n_ref")).cast("double") /
          col("tot_ref").cast("double"))
      .withColumn("chi2_term",
        (col("n_cur").cast("double") - col("expect")) *
        (col("n_cur").cast("double") - col("expect")) / col("expect"))
      .select("bucket", "n_ref", "n_cur", "ref_share", "cur_share",
        "shift", "chi2_term")
      .orderBy("bucket")
  }

  /** Welch's unequal-variance t-test + Cohen's d (q_welch): do BUILDING
    * and MACHINERY order prices differ in MEAN — the parametric
    * companion of [[mannWhitney]]'s rank test and [[ksTest]]'s CDF
    * distance. One fact pass accumulates the exact sufficient
    * statistics per arm (n, Σv, Σv² — cents in decimal(38,0), operands
    * cast BEFORE the square per the [[Regression.groupedOls]] overflow
    * discipline); t, the Welch–Satterthwaite df, and Cohen's d (pooled-
    * variance form) are a fixed IEEE tree over those exact values that
    * DuckDB replays verbatim. Means are reported in dollars (a single
    * ÷100.0 each). */
  def welchTTest(spark: SparkSession, dir: String,
                 segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(cents(col("o_totalprice")).as("v"),
        when(col("c_mktsegment") === segA, 1L).otherwise(0L).as("ia"),
        when(col("c_mktsegment") === segB, 1L).otherwise(0L).as("ib"))
    val agg = o.agg(
      sum(col("ia")).as("n_a"), sum(col("ib")).as("n_b"),
      sum((col("ia") * col("v")).cast(d38)).as("s_a"),
      sum((col("ib") * col("v")).cast(d38)).as("s_b"),
      sum(col("ia").cast(d38) * col("v").cast(d38) * col("v").cast(d38)).as("q_a"),
      sum(col("ib").cast(d38) * col("v").cast(d38) * col("v").cast(d38)).as("q_b"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val ma = col("s_a").cast("double") / naD
    val mb = col("s_b").cast("double") / nbD
    val va = (col("q_a").cast("double") -
      col("s_a").cast("double") * col("s_a").cast("double") / naD) / (naD - lit(1.0))
    val vb = (col("q_b").cast("double") -
      col("s_b").cast("double") * col("s_b").cast("double") / nbD) / (nbD - lit(1.0))
    val sea = va / naD; val seb = vb / nbD
    val t = (ma - mb) / sqrt(sea + seb)
    val dfW = (sea + seb) * (sea + seb) /
      (sea * sea / (naD - lit(1.0)) + seb * seb / (nbD - lit(1.0)))
    val pooled = ((naD - lit(1.0)) * va + (nbD - lit(1.0)) * vb) /
      (naD + nbD - lit(2.0))
    agg.select(col("n_a"), col("n_b"),
      (ma / lit(100.0)).as("mean_a"), (mb / lit(100.0)).as("mean_b"),
      t.as("t_welch"), dfW.as("df_welch"),
      ((ma - mb) / sqrt(pooled)).as("cohens_d"))
  }

  /** Kendall tau-b (q_kendall): rank agreement between a nation's order
    * revenue and its purchasing-customer count, on the 25-row nation
    * aggregate — the concordance companion of [[spearman]] that is
    * robust to the monotone-transform choice. All pair classification
    * is exact integer counting over the dimension-sized self-join
    * (25·24/2 pairs — never the fact stream): concordant, discordant,
    * and the tie totals the tau-b denominator needs. Diffs go through
    * decimal(38,0) (nation revenue cents exceed Long headroom when
    * differenced at 100 TB); tau-b's one sqrt+division is the only IEEE
    * step. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // Materialized once (feeds both sides of the pair join); the
    // broadcast hint pins BroadcastNestedLoopJoin for the
    // inequality-only condition — without it JoinSelection falls
    // through to CartesianProduct (gate-banned) on the 25-row frame.
    val byNation = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast(d38).as("x"),
          countDistinct(col("o_custkey")).as("y")),
      "kendall_nation")
    val p = byNation.as("a")
      .join(broadcast(byNation.as("b")), col("a.nk") < col("b.nk"))
      .select((col("a.x") - col("b.x")).as("dx"),
        (col("a.y").cast(d38) - col("b.y").cast(d38)).as("dy"))
    p.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
          (col("dx") > 0) === (col("dy") > 0), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
          (col("dx") > 0) =!= (col("dy") > 0), 1L).otherwise(0L)).as("discordant"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tied_x"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("tied_y"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("tied_x"), col("tied_y"),
        ((col("concordant") - col("discordant")).cast("double") /
          sqrt((col("n_pairs") - col("tied_x")).cast("double") *
            (col("n_pairs") - col("tied_y")).cast("double"))).as("tau_b"))
  }

  /** Iterative proportional fitting / raking (q_ipf): reweight the
    * (segment × priority) order contingency so BOTH margins hit the
    * uniform target — the survey-statistics bias correction (and the
    * classic IPF algorithm) run on integer micro-unit weights: each
    * half-step rescales by `(w·target) div margin_sum` (truncating
    * division on non-negative operands — engine-identical), so every
    * intermediate table replays bitwise in the unrolled-CTE oracle.
    * All post-aggregation frames are |segments|·|priorities|-sized;
    * the corpus is touched once. */
  def ipfRaking(spark: SparkSession, dir: String, rounds: Int = 6): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = graft.scale.Silver.materialize(
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("c")),
      "ipf_cells") // feeds the total AND round 0
    val n = cells.agg(sum(col("c")).as("n"))
    var w = graft.scale.Silver.scratch(cells.crossJoin(broadcast(n))
      .withColumn("tgt", expr("(n * 1000000) div 5"))
      .select(col("segment"), col("prio"), col("c"), col("tgt"),
        (col("c") * lit(1000000L)).as("w")), "ipf_w")
    for (_ <- 1 to rounds) {
      val rs = w.groupBy("segment").agg(sum(col("w")).as("rs"))
      val wr = w.join(broadcast(rs), "segment")
        .select(col("segment"), col("prio"), col("c"), col("tgt"),
          expr(s"(cast(w as $d38) * cast(tgt as $d38)) div rs").as("w"))
      val cs = wr.groupBy("prio").agg(sum(col("w")).as("cs"))
      w = graft.scale.Silver.scratch(wr.join(broadcast(cs), "prio")
        .select(col("segment"), col("prio"), col("c"), col("tgt"),
          expr(s"(cast(w as $d38) * cast(tgt as $d38)) div cs").as("w")),
        "ipf_w")
    }
    w.select(col("segment"), col("prio"), col("c"),
        col("w").as("w_micro"),
        (col("w").cast("double") / lit(1000000.0)).as("fitted"))
      .orderBy("segment", "prio")
  }

  /** Difference-in-differences (q_did): the 2×2 causal-inference
    * contrast — (treated post − treated pre) − (control post − control
    * pre) over mean order value, with BUILDING as the "treated"
    * segment and the corpus midpoint as the intervention date. All
    * four cell means derive from exact (n, Σcents) sums gathered in
    * ONE fact pass (conditional aggregation — no per-cell scans); the
    * DiD estimate is a fixed four-division tree. The broadcast
    * midpoint comes from the day bounds, never config. */
  def diffInDiff(spark: SparkSession, dir: String,
                 treated: String = "BUILDING",
                 control: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(treated, control))
      .select(cents(col("o_totalprice")).as("v"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        (col("c_mktsegment") === treated).as("is_t"))
    val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val cells = o.crossJoin(broadcast(bounds))
      .withColumn("is_post", col("day") * 2 > col("d0") + col("d1"))
      .agg(
        sum(when(col("is_t") && !col("is_post"), 1L).otherwise(0L)).as("n_tpre"),
        sum(when(col("is_t") && !col("is_post"), col("v")).otherwise(0L)
          .cast(d38)).as("s_tpre"),
        sum(when(col("is_t") && col("is_post"), 1L).otherwise(0L)).as("n_tpost"),
        sum(when(col("is_t") && col("is_post"), col("v")).otherwise(0L)
          .cast(d38)).as("s_tpost"),
        sum(when(!col("is_t") && !col("is_post"), 1L).otherwise(0L)).as("n_cpre"),
        sum(when(!col("is_t") && !col("is_post"), col("v")).otherwise(0L)
          .cast(d38)).as("s_cpre"),
        sum(when(!col("is_t") && col("is_post"), 1L).otherwise(0L)).as("n_cpost"),
        sum(when(!col("is_t") && col("is_post"), col("v")).otherwise(0L)
          .cast(d38)).as("s_cpost"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    cells.select(
      col("n_tpre"), col("n_tpost"), col("n_cpre"), col("n_cpost"),
      mean("s_tpre", "n_tpre").as("mean_t_pre"),
      mean("s_tpost", "n_tpost").as("mean_t_post"),
      mean("s_cpre", "n_cpre").as("mean_c_pre"),
      mean("s_cpost", "n_cpost").as("mean_c_post"),
      ((mean("s_tpost", "n_tpost") - mean("s_tpre", "n_tpre")) -
        (mean("s_cpost", "n_cpost") - mean("s_cpre", "n_cpre"))).as("did_cents"))
  }

  /** 1-D Wasserstein distance (q_wasserstein): the earth-mover's
    * distance between two segments' order-price distributions —
    * ∫|F_A − F_B| dv, the metric that (unlike [[ksTest]]'s sup-norm)
    * weights HOW FAR mass must move, not just the worst gap. Fully
    * exact: per distinct cents value the cross-multiplied CDF gap
    * |cumA·n_B − cumB·n_A| (integers), times the gap to the NEXT
    * distinct value (successor via a rank+1 equi-join on the
    * domain-bounded value frame — no window, no inequality join),
    * summed in decimal(38,0); the single IEEE step divides by
    * n_A·n_B once. */
  def wassersteinDistance(spark: SparkSession, dir: String,
                          segA: String = "BUILDING",
                          segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(cents(col("o_totalprice")).as("v"),
        when(col("c_mktsegment") === segA, 1L).otherwise(0L).as("ia"),
        when(col("c_mktsegment") === segB, 1L).otherwise(0L).as("ib"))
      .groupBy("v").agg(sum(col("ia")).as("a"), sum(col("ib")).as("b"))
    // r14: the rank IS the running count — cum-sum a ones column in the
    // SAME pass instead of a second distributedGlobalRank over the same
    // (v asc) order, which re-paid a full range exchange + sort +
    // materialization of the domain frame (guide §2.4; identical r: both
    // are 1-based inclusive over the unique order).
    // r15: the group totals ride the same pass (totals=true) — the old
    // separate per.agg re-executed the orders⋈customer subtree (§2.4).
    val ranked = Ranking.distributedCumSum(
        per.withColumn("one", lit(1L)), Seq(col("v").asc),
        Seq("a", "b", "one"), totals = true)
      .select(col("cum_one").as("r"), col("v"), col("cum_a"), col("cum_b"),
        col("tot_a").as("na"), col("tot_b").as("nb"))
    ranked
      .join(ranked.select((col("r") - 1L).as("r"), col("v").as("v_next")), "r")
      .select((abs(col("cum_a").cast(d38) * col("nb").cast(d38) -
        col("cum_b").cast(d38) * col("na").cast(d38)) *
        (col("v_next") - col("v")).cast(d38)).as("term"),
        col("na"), col("nb"))
      .groupBy("na", "nb")
      .agg(sum(col("term")).as("num"))
      .select(col("na"), col("nb"),
        (col("num").cast("double") /
          (col("na").cast(d38) * col("nb").cast(d38)).cast("double"))
          .as("emd_cents"))
  }

  /** Deterministic Poisson bootstrap (q_bootstrap): B hash-weighted
    * resamples of the order-price mean — the one-pass bootstrap a
    * cluster actually runs (per-row resample weights are independent
    * Poisson(1) draws, so no resample ever materializes; the classic
    * large-scale CI device). Determinism: the Poisson draw is the
    * 52-bit md5 uniform of (orderkey, b) cut at the literal Poisson(1)
    * CDF thresholds (0.3679/0.7358/0.9197/0.9810 — identical strings
    * both engines), so weights are engine-identical and re-run-stable.
    * Per resample the weighted sum/count are exact longs; each mean is
    * one terminal division. One fact pass with a B-row spine fan-out
    * (constant factor), one B-row shuffle. */
  /** Poisson(1) CDF cut points P(X≤k), k = 0..3, rounded to 4 decimals —
    * pinned literals shared VERBATIM with the oracle SQL (q_bootstrap)
    * so both engines cut the same uniform identically. Third-sourced in
    * ThirdSourceSpec against e⁻¹·Σ(1/k!) partial sums: a mistyped
    * threshold would make the "Poisson(1)" claim silently wrong on both
    * sides (the shared-formula blind spot the third-source sweep
    * exists to close). */
  private[graft] val Poisson1Cdf4dp: Seq[Double] =
    Seq(0.3679, 0.7358, 0.9197, 0.9810)

  def poissonBootstrap(spark: SparkSession, dir: String,
                       b: Int = 32): DataFrame = {
    import spark.implicits._
    val spine = (0 until b).map(_.toLong).toDF("b")
    val u = conv(substring(md5(concat(col("o_orderkey").cast("string"),
      lit("|"), col("b").cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0)
    val Seq(c0, c1, c2, c3) = Poisson1Cdf4dp
    val w = when(u < lit(c0), 0L).when(u < lit(c1), 1L)
      .when(u < lit(c2), 2L).when(u < lit(c3), 3L).otherwise(4L)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"))
      .crossJoin(broadcast(spine))
      .select(col("b"), w.as("w"), col("v"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("v")).as("sum_cents"))
      .withColumn("mean_cents",
        col("sum_cents").cast("double") / col("n_eff").cast("double"))
      .orderBy("b")
  }

  /** Grubbs' outlier statistic per segment (q_grubbs): G = max|x−μ|/s
    * over customer balances — "does any segment hide a single extreme
    * account?" μ and s derive from the exact (n, Σv, Σv²) sufficient
    * statistics; the only per-row float work is |v−μ| (long-exact v
    * cast to double, one subtraction), and max over doubles is
    * accumulation-order-free, so the whole statistic replays
    * bit-identically in DuckDB. The 5-row stats frame broadcasts back
    * over the fact side — no second wide shuffle. */
  def grubbsTest(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val c = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"), cents(col("c_acctbal")).as("v"))
    val stats = c.groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(d38)).as("s"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("q"))
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sd", sqrt(
        (col("q").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0))))
    c.join(broadcast(stats), "segment")
      .groupBy("segment")
      .agg(first(col("n")).as("n"), first(col("mu")).as("mu"),
        first(col("sd")).as("sd"),
        max(abs(col("v").cast("double") - col("mu"))).as("max_dev"))
      .select(col("segment"), col("n"),
        (col("mu") / lit(100.0)).as("mean_bal"),
        (col("sd") / lit(100.0)).as("sd_bal"),
        (col("max_dev") / lit(100.0)).as("max_dev"),
        (col("max_dev") / col("sd")).as("grubbs_g"))
      .orderBy("segment")
  }

  /** Cramér's V association strength between market segment and order
    * priority (q_cramers_v) — the effect-size companion to
    * [[chi2Contingency]]: "the χ² is significant, but is the
    * association MEANINGFUL?"
    *
    * χ² is accumulated through the repo's floor-witness device
    * (q_quant_error precedent): each cell's term is the exact rational
    * (n·obs − rt·ct)²/(n·rt·ct) evaluated as a fixed float tree over
    * exact decimal(38,0) operands, then floored at 1e-9 resolution to a
    * long — the SUM of longs is accumulation-order-free where a float
    * Σ of 25 terms would depend on partition order. V =
    * √(χ²/(n·min(r−1,c−1))) is a terminal fixed chain.
    *
    * Scale shape: ONE map-side-combining fact aggregate to the ≤ r·c
    * cell frame; margins, distinct-level counts and the witness sum all
    * run on that bounded frame (broadcast one-row joins — never a
    * second fact pass). Bound: (n·obs)² must fit decimal(38,0) — exact
    * up to ~3·10⁹ facts, which covers the 100 TB order table; beyond
    * that scale the witness resolution down. */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy("segment").agg(sum(col("obs")).as("rt"))
    val ct = cells.groupBy("priority").agg(sum(col("obs")).as("ct"))
    val n = cells.agg(sum(col("obs")).as("n"))
    val terms = cells.join(broadcast(rt), "segment")
      .join(broadcast(ct), "priority")
      .crossJoin(broadcast(n))
      .withColumn("dev",
        (col("n").cast(d38) * col("obs") - col("rt").cast(d38) * col("ct"))
          .cast("double"))
      .withColumn("den",
        (col("n").cast(d38) * col("rt") * col("ct")).cast("double"))
    val chi2 = terms.agg(
      sum(floor(col("dev") * col("dev") / col("den") * lit(1.0e9))
        .cast("long")).as("chi2_e9"))
    // distinct level counts as two tiny aggregates over the cell frame
    // (a double countDistinct in one agg would plan an Expand).
    val r = cells.select("segment").distinct().agg(count(lit(1)).as("r"))
    val c = cells.select("priority").distinct().agg(count(lit(1)).as("c"))
    n.crossJoin(broadcast(chi2)).crossJoin(broadcast(r))
      .crossJoin(broadcast(c))
      .select(col("n"), col("r"), col("c"), col("chi2_e9"),
        sqrt(col("chi2_e9").cast("double") / lit(1.0e9) /
          (col("n").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))).as("v"))
  }

  /** Minimum detectable effect per market segment (q_mde): the A/B
    * power analysis that belongs NEXT to q_srm and q_welch — before
    * running an experiment on a segment, what's the smallest order-value
    * lift it could resolve at α=0.05, power=0.80 with a 50/50 split?
    * MDE = (z_{α/2}+z_{β})·σ·√(2/n) with the 2.8 constant pinned as an
    * identical literal in both engines (z-quantiles are not portable
    * functions). σ comes from the exact (n, Σv, Σv²) sufficient stats
    * (the Grubbs tree); everything after the one fact aggregate is a
    * fixed chain of single IEEE ops per 5-row segment. */
  def mdeQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        cents(col("o_totalprice")).as("v"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(d38)).as("s"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("q"))
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sd", sqrt(
        (col("q").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0))))
      .withColumn("mde_cents",
        lit(MdeZSum) * col("sd") * sqrt(lit(2.0) / col("n").cast("double")))
      .select(col("segment"), col("n"),
        (col("mu") / lit(100.0)).as("mean_price"),
        (col("sd") / lit(100.0)).as("sd_price"),
        (col("mde_cents") / lit(100.0)).as("mde"),
        (col("mde_cents") / col("mu")).as("mde_rel"))
      .orderBy("segment")
  }

  /** McNemar's test for paired binary outcomes (q_mcnemar): per order,
    * flag A = "any item returned" vs flag B = "any item discounted
    * above 5%" — do the two conditions disagree symmetrically? The statistic
    * (n01−n10)²/(n01+n10) only involves the DISCORDANT counts; all four
    * cells are exact longs from one fact aggregate (per-order flag
    * reduction, map-side combine on the natural l_orderkey clustering),
    * and the statistic is one integer square and one division. NULL
    * when there are no discordant pairs — both engines' CASE guard. */
  def mcnemarTest(spark: SparkSession, dir: String): DataFrame = {
    val flags = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("a"),
        max(when(col("l_discount").cast("decimal(18,6)") >
            lit("0.05").cast("decimal(18,6)"), 1L)
          .otherwise(0L)).as("b"))
    flags.agg(
        sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L))
          .as("n00"),
        sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
          .as("n01"),
        sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
          .as("n11"))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        when(col("n01") + col("n10") > 0L,
          ((col("n01") - col("n10")) * (col("n01") - col("n10")))
            .cast("double") / (col("n01") + col("n10")).cast("double"))
          .as("mcnemar"))
  }

  /** Friedman test across three order-date eras, blocked by nation
    * (q_friedman): the nonparametric repeated-measures ANOVA — did
    * average order value shift across eras CONSISTENTLY across nations?
    * (The rank-based sibling of [[anovaWeekday]]: no normality
    * assumption, blocks absorb nation-level scale.)
    *
    * Per nation the three era means are RANKED WITHOUT EVER FORMING A
    * FLOAT MEAN: era j beats era i iff s_j·n_i > s_i·n_j (cross-
    * multiplied exact decimal sums — the Kendall device), ties broken
    * by era index, so ranks are exact integers under any engine. With
    * k = 3, Q = ΣR_j²/n − 12n — one division over exact integers.
    *
    * Scale shape: ONE conditional pass over the fact join (map-side
    * combining to |nations| rows); everything after runs on the 25-row
    * pivoted frame. */
  def friedmanQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val era = when(col("o_orderdate") < to_date(lit("1997-01-01")), 1L)
      .when(col("o_orderdate") < to_date(lit("1999-01-01")), 2L)
      .otherwise(3L)
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"), era.as("era"),
        cents(col("o_totalprice")).as("v"))
      .groupBy("nation")
      .agg(
        sum(when(col("era") === 1L, col("v")).otherwise(0L)).cast(d38).as("s1"),
        sum(when(col("era") === 1L, 1L).otherwise(0L)).cast(d38).as("n1"),
        sum(when(col("era") === 2L, col("v")).otherwise(0L)).cast(d38).as("s2"),
        sum(when(col("era") === 2L, 1L).otherwise(0L)).cast(d38).as("n2"),
        sum(when(col("era") === 3L, col("v")).otherwise(0L)).cast(d38).as("s3"),
        sum(when(col("era") === 3L, 1L).otherwise(0L)).cast(d38).as("n3"))
      .filter(col("n1") > 0 && col("n2") > 0 && col("n3") > 0)
    // beats(j, i): era j's mean strictly exceeds era i's (exact cross-
    // multiply), or equal means with the smaller era index winning.
    def beats(j: Int, i: Int) = {
      val l = col(s"s$j") * col(s"n$i"); val r = col(s"s$i") * col(s"n$j")
      l > r || (l === r && lit(j) < lit(i))
    }
    def rank(i: Int) = lit(1L) +
      (1 to 3).filter(_ != i)
        .map(j => when(beats(j, i), 1L).otherwise(0L))
        .reduceLeft(_ + _)
    val ranked = per.select(
      rank(1).as("r1"), rank(2).as("r2"), rank(3).as("r3"))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("r1")).as("rank_sum1"),
        sum(col("r2")).as("rank_sum2"),
        sum(col("r3")).as("rank_sum3"))
      .select(col("n"), col("rank_sum1"), col("rank_sum2"), col("rank_sum3"),
        ((col("rank_sum1") * col("rank_sum1") +
          col("rank_sum2") * col("rank_sum2") +
          col("rank_sum3") * col("rank_sum3")).cast("double") /
          col("n").cast("double") -
          (lit(12L) * col("n")).cast("double")).as("q"))
  }

  /** Cochran's Q over three per-order binary treatments (q_cochran_q):
    * "any line returned", "any line discounted above 5%", "any line of
    * quantity ≥ 30" — do the three conditions fire at the same rate?
    * The k-treatment generalization of [[mcnemarTest]] (k = 3 here).
    *
    * Everything reduces to exact integers: column totals C_j, row-sum
    * moments ΣR and ΣR² from ONE per-order flag reduction, and the
    * k = 3 closed form Q = 2·(3·ΣC_j² − T²) / (3·T − ΣR²) — numerator
    * and denominator exact longs, one terminal division (NULL when the
    * denominator is zero: all rows all-equal). */
  def cochranQ(spark: SparkSession, dir: String): DataFrame = {
    val flags = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x1"),
        max(when(col("l_discount").cast("decimal(18,6)") >
            lit("0.05").cast("decimal(18,6)"), 1L).otherwise(0L)).as("x2"),
        max(when(col("l_quantity").cast("decimal(18,2)") >=
            lit("30").cast("decimal(18,2)"), 1L).otherwise(0L)).as("x3"))
    flags.agg(
        sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
        sum(col("x3")).as("c3"),
        sum((col("x1") + col("x2") + col("x3")) *
          (col("x1") + col("x2") + col("x3"))).as("sum_r2"))
      .withColumn("t", col("c1") + col("c2") + col("c3"))
      .select(col("c1"), col("c2"), col("c3"), col("sum_r2"),
        (lit(2L) * (lit(3L) * (col("c1") * col("c1") +
          col("c2") * col("c2") + col("c3") * col("c3")) -
          col("t") * col("t"))).as("q_num"),
        (lit(3L) * col("t") - col("sum_r2")).as("q_den"))
      .withColumn("q",
        when(col("q_den") > 0L,
          col("q_num").cast("double") / col("q_den").cast("double")))
  }

  /** CUPED variance reduction (q_cuped): per customer, X = pre-period
    * spend (orders before 1998-01-01) and Y = post-period spend;
    * θ = cov(X,Y)/var(X) and the achievable metric-variance reduction
    * 1 − var(Y − θX)/var(Y) = ρ² — the pre-experiment covariate
    * adjustment every A/B platform runs to shrink [[mdeQuery]]'s MDE
    * (reduction 0.3 ⇒ 30% fewer samples for the same power).
    *
    * All five moment sums are exact decimal(38,0) from ONE conditional
    * pass; θ and ρ² are fixed trees over their correctly-rounded double
    * casts (the n·Σxy − ΣxΣy cleared-denominator forms — never a float
    * mean in sight; squaring happens in IEEE because the exact squares
    * would exceed decimal(38)). */
  def cupedQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("o_orderdate") < to_date(lit("1998-01-01")),
          cents(col("o_totalprice"))).otherwise(0L)).as("x"),
        sum(when(col("o_orderdate") >= to_date(lit("1998-01-01")),
          cents(col("o_totalprice"))).otherwise(0L)).as("y"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
      sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
      sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
    m.select(col("n"),
        (col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
          .cast("double").as("cov_num"),
        (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast("double").as("varx_num"),
        (col("n").cast(d38) * col("syy") - col("sy") * col("sy"))
          .cast("double").as("vary_num"))
      .select(col("n"),
        (col("cov_num") / col("varx_num")).as("theta"),
        (col("cov_num") * col("cov_num") /
          (col("varx_num") * col("vary_num"))).as("reduction"))
  }

  /** Total-variation drift between the order-priority mixes of the two
    * order-date eras (q_tv_drift): TV(P,Q) = ½ Σ|p_i − q_i|, computed
    * EXACTLY through cleared denominators — per priority the witness
    * |a_i·B − b_i·A| (exact longs), so 2·A·B·TV is an exact integer and
    * the distance is ONE division. The exact companion of the
    * PSI/χ² drift family for categorical mixes (PSI needs logs; TV
    * doesn't). */
  def tvDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        sum(when(col("o_orderdate") < to_date(lit("1998-01-01")), 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("o_orderdate") >= to_date(lit("1998-01-01")), 1L)
          .otherwise(0L)).as("b"))
    val tot = cells.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    cells.crossJoin(broadcast(tot))
      .select(col("priority"), col("a"), col("b"),
        abs(col("a").cast(d38) * col("tb").cast(d38) -
          col("b").cast(d38) * col("ta").cast(d38)).as("w"),
        col("ta"), col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_cells"), sum(col("w")).as("tv_witness"))
      .select(col("n_cells"), col("ta"), col("tb"),
        col("tv_witness").cast("string").as("tv_witness"),
        (col("tv_witness").cast("double") /
          (lit(2).cast(d38) * col("ta").cast(d38) * col("tb").cast(d38))
            .cast("double")).as("tv"))
  }

  /** Benjamini–Hochberg FDR control over the per-brand return-rate tests
    * (q_bh_fdr): 25 simultaneous "does this brand's return rate differ
    * from the rest?" 2×2 χ² statistics, converted to a monotone p-proxy
    * and step-up adjusted — the multiple-testing discipline every
    * scanning dashboard needs (test 25 brands at α = .1 uncorrected and
    * ~2-3 false alarms are expected by construction).
    *
    * χ² = N·(ad − bc)²/(r₁·r₀·c₁·c₀) is exact decimal(38,0) integer
    * arithmetic over counts from ONE map-side-combining pass (a/b =
    * brand returned/kept, c/d = rest), emitted through the string-routed
    * decimal→double cast (the q_trend device). The p-proxy 1/(1 + χ²)
    * preserves the p-value ORDER exactly (χ² is monotone in evidence),
    * which is all BH consumes; padj = suffix-min of p·m/i runs over the
    * BRAND-DIMENSION frame (25 rows — windows here are dimension-bounded,
    * never corpus-proportional). Rejections at q = 0.10 are flagged. */
  /** Cochran–Armitage trend test (q_ca_trend): is the return rate
    * MONOTONE in order priority? The χ²-family test that uses the
    * ordinal structure ('1-URGENT' … '5-LOW' scored by their leading
    * digit) instead of treating priority as nominal — one degree of
    * freedom aimed exactly at the trend alternative, which the plain
    * q_chi2 contingency test dilutes over 4 df.
    *
    * Everything reduces to five exact sums in ONE map-side pass
    * (N, A = positives, Σs, Σs², Σs·y — the score s is a data-derived
    * small integer, so no pivot is needed); the cleared-denominator
    * statistic z² = N·(N·Σsy − A·Σs)² / (A·(N−A)·(N·Σs² − (Σs)²)) is
    * exact decimal(38,0) until the single string-routed division. */
  def caTrendQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("s"))
    rows.agg(count(lit(1)).as("n"), sum(col("y")).as("a"),
        sum(col("s")).as("sn"),
        sum(col("s") * col("s")).as("s2n"),
        sum(col("s") * col("y")).as("sa"))
      .select(col("n"), col("a"), col("sn"), col("sa"),
        ((col("n").cast(d38) *
            (col("n").cast(d38) * col("sa").cast(d38) -
             col("a").cast(d38) * col("sn").cast(d38)) *
            (col("n").cast(d38) * col("sa").cast(d38) -
             col("a").cast(d38) * col("sn").cast(d38)))
          .cast("string").cast("double") /
         (col("a").cast(d38) * (col("n") - col("a")).cast(d38) *
            (col("n").cast(d38) * col("s2n").cast(d38) -
             col("sn").cast(d38) * col("sn").cast(d38)))
          .cast("string").cast("double")).as("z2"))
  }

  /** Intraclass correlation of order price within customers (q_icc):
    * how much of price variance is BETWEEN customers vs within one
    * customer's own orders — ICC(1) = (MSB − MSW)/(MSB + (k̄−1)·MSW),
    * the repeatability statistic (high ICC: customers have stable
    * personal price levels; near 0: every order is a fresh draw).
    *
    * The grouping key (customer) is corpus-proportional, so the q_anova
    * pivoted-domain device cannot apply; instead the between-group term
    * uses the INTEGER-DIVISION witness Σ_c (S_c² div n_c) — exact
    * integer arithmetic per group (error < 1 cent² per customer,
    * noise at the 1e-17 relative scale), associative, and therefore
    * bit-stable under any partitioning in both engines. One
    * customer-keyed pass, then one-row arithmetic. */
  def iccQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_c"),
        sum(cents(col("o_totalprice"))).as("s_c"),
        sum(cents(col("o_totalprice")).cast(d38) *
          cents(col("o_totalprice")).cast(d38)).as("q_c"))
      .filter(col("n_c") >= 2) // singleton groups carry no within info
    val agg = per.agg(
      count(lit(1)).as("g"), sum(col("n_c")).as("n"),
      sum(col("n_c") * col("n_c")).as("nn2"),
      sum(col("s_c").cast(d38)).as("s"), sum(col("q_c")).as("q2"),
      // exact integer witness: S_c^2 div n_c per group, summed
      sum(expr("cast(cast(s_c as decimal(38,0)) * s_c div n_c as decimal(38,0))"))
        .as("bw"))
    val nD = col("n").cast("double")
    val gD = col("g").cast("double")
    // SSB = Σ S_c²/n_c − S²/n ; SSW = ΣQ − Σ S_c²/n_c (exact witness)
    val ssb = col("bw").cast("double") -
      (col("s") * col("s")).cast("double") / nD
    val ssw = col("q2").cast("double") - col("bw").cast("double")
    val msb = ssb / (gD - lit(1.0))
    val msw = ssw / (nD - gD)
    // k0: the unequal-group-size correction of one-way random ICC
    val k0 = (nD - col("nn2").cast("double") / nD) / (gD - lit(1.0))
    agg.select(col("g").as("n_groups"), col("n").as("n_orders"),
      ssb.as("ssb"), ssw.as("ssw"), k0.as("k0"),
      ((msb - msw) / (msb + (k0 - lit(1.0)) * msw)).as("icc"))
  }

  /** Quantile–quantile table between two segments' order prices (q_qq):
    * the decile-by-decile comparison behind a Q-Q plot — if BUILDING and
    * MACHINERY prices differ only in scale, the ratio column is flat;
    * a drifting ratio localizes WHERE the distributions diverge (tails
    * vs body), which a single KS statistic can't say.
    *
    * Deciles are percentile_disc by explicit integer rank arithmetic
    * (the [[percentileBands]] device: smallest value whose cumulative
    * count reaches ⌈p·n/100⌉) over value-domain-bounded per-segment
    * frames; the ratio is the only IEEE op. */
  def qqQuery(spark: SparkSession, dir: String,
              segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val pcts = 10 to 90 by 10
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .groupBy(col("c_mktsegment").as("segment"),
        cents(col("o_totalprice")).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("segment")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("cum", sum(col("cnt")).over(w))
    val tot = per.groupBy("segment").agg(sum(col("cnt")).as("n"))
    // materialized once: the 2-row band frame feeds 9 union branches
    // (2 consumers each) — without the cut the cum window re-executes
    // per branch
    val bands = graft.scale.Silver.scratch(
      cum.join(broadcast(tot), "segment")
        .groupBy("segment")
        .agg(first(col("n")).as("n"),
          pcts.map { p =>
            min(when(col("cum") >= expr(s"($p * n + 99) div 100"), col("v")))
              .as(s"p$p")
          }: _*),
      "qq_bands")
    val a = bands.filter(col("segment") === segA)
    val b = bands.filter(col("segment") === segB)
    pcts.map { p =>
      a.select(lit(p.toLong).as("pct"), col(s"p$p").as("v_a"))
        .crossJoin(broadcast(b.select(col(s"p$p").as("v_b"))))
        .select(col("pct"), col("v_a"), col("v_b"),
          (col("v_a").cast("double") / col("v_b").cast("double")).as("ratio"))
    }.reduce(_ unionAll _).orderBy("pct")
  }

  /** Standardized mean difference of pre-treatment covariates between
    * two segments (q_smd): |SMD| < 0.1 is the standard "groups are
    * comparable" gate before any observational A-vs-B readout — run it
    * on order value, basket size, and urgency share before believing a
    * segment comparison. SMD = (μ_A − μ_B)/√((σ²_A + σ²_B)/2), exact
    * integer moments per covariate per group (one fact pass each
    * grain), a fixed IEEE tree per emitted row. */
  def smdQuery(spark: SparkSession, dir: String,
               segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_items"))
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select((col("c_mktsegment") === segA).as("in_a"),
        cents(col("o_totalprice")).as("price_cents"),
        coalesce(col("n_items"), lit(0L)).as("basket_size"),
        when(col("o_orderpriority").startsWith("1-") ||
          col("o_orderpriority").startsWith("2-"), 1L).otherwise(0L)
          .as("urgent"))
    def covariate(name: String, x: Column): DataFrame = {
      val g = base.select(col("in_a"), x.as("x"))
        .groupBy("in_a")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x").cast(d38) * col("x").cast(d38)).as("ss"))
        .withColumn("mean", col("s").cast("double") / col("n").cast("double"))
        .withColumn("var",
          (col("n").cast(d38) * col("ss") -
            col("s").cast(d38) * col("s").cast(d38)).cast("double") /
            (col("n") * (col("n") - 1L)).cast("double"))
      val a = g.filter(col("in_a")).select(col("n").as("n_a"),
        col("mean").as("mean_a"), col("var").as("var_a"))
      val b = g.filter(!col("in_a")).select(col("n").as("n_b"),
        col("mean").as("mean_b"), col("var").as("var_b"))
      a.crossJoin(broadcast(b))
        .select(lit(name).as("covariate"), col("n_a"), col("n_b"),
          col("mean_a"), col("mean_b"),
          ((col("mean_a") - col("mean_b")) /
            sqrt((col("var_a") + col("var_b")) / lit(2.0))).as("smd"))
    }
    covariate("price_cents", col("price_cents"))
      .unionAll(covariate("basket_size", col("basket_size")))
      .unionAll(covariate("urgent", col("urgent")))
      .orderBy("covariate")
  }

  /** Wilson 95% confidence interval per brand return rate (q_wilson):
    * the ranking-safe proportion interval (unlike the Wald interval it
    * never leaves [0,1] and behaves at small n) — what a dashboard
    * should draw instead of bare rates when brands have very different
    * volumes. z = 1.96 is a pinned literal (the NDCG-constants device);
    * counts are exact from one map-side pass; the bounds are a fixed
    * IEEE tree ending in the correctly-rounded sqrt. center ±
    * half-width over denom with p̂ = k/n, z² precomputed as 3.8416. */
  def wilsonQuery(spark: SparkSession, dir: String): DataFrame = {
    val z2 = lit(WilsonZ2) // 1.96^2, pinned literal in both engines
    val cells = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val half = lit(WilsonZ) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    cells.select(col("brand"), col("k"), col("n"), p.as("rate"),
        ((center - half) / denom).as("lo"),
        ((center + half) / denom).as("hi"))
      .orderBy("brand")
  }

  /** Leave-one-source-out influence table (q_jackknife): for each
    * document source, the corpus mean length WITHOUT that source and
    * its delta against the full-corpus mean — the jackknife influence
    * diagnostic that names which ingest feed is dragging a corpus
    * metric (the per-source view behind any "why did mean quality
    * move?" investigation).
    *
    * One map-side pass to per-source exact (n, Σ); the complement sums
    * are broadcast-total minus own — every emitted mean is ONE division
    * of exact longs, the delta one further subtraction. */
  def jackknifeQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("s"))
    val tot = per.agg(sum(col("n_docs")).as("tn"), sum(col("s")).as("ts"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("s").cast("double") / col("n_docs").cast("double"))
          .as("own_mean"),
        ((col("ts") - col("s")).cast("double") /
          (col("tn") - col("n_docs")).cast("double")).as("loo_mean"),
        (col("ts").cast("double") / col("tn").cast("double")).as("full_mean"),
        (((col("ts") - col("s")).cast("double") /
          (col("tn") - col("n_docs")).cast("double")) -
          col("ts").cast("double") / col("tn").cast("double")).as("influence"))
      .orderBy("source")
  }

  /** Exact permutation test for a two-group mean difference
    * (q_perm_test): is the BUILDING vs MACHINERY order-price gap larger
    * than chance relabeling would produce? The nonparametric inference
    * every A/B readout should get when normality is in doubt — made
    * 100 TB-shaped by two tricks:
    *
    *  1. Permutations are DETERMINISTIC md5 coin flips (perm k assigns a
    *     row to group A iff the first hex nibble of md5("k|orderkey") is
    *     0-7) — no RNG state, engine-portable, and all K relabelings
    *     accumulate in ONE fact pass as pivoted conditional sums (the
    *     q_anova fixed-domain device, K = 32 wide).
    *  2. The mean-difference comparison is EXACT integer arithmetic:
    *     |mean_A − mean_B| = |S_A·n − n_A·S| / (n_A·n_B) for every
    *     relabeling, so "perm stat ≥ observed stat" is the cross-
    *     multiplied decimal comparison a_k·b₀ ≥ a₀·b_k — no float
    *     decides a vote. p = (1 + #votes)/(K + 1), the standard
    *     add-one-permutation estimate (the identity relabeling counts). */
  def permTestQuery(spark: SparkSession, dir: String,
                    segA: String = "BUILDING", segB: String = "MACHINERY",
                    perms: Int = 32): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"),
        (col("c_mktsegment") === segA).as("in_a"))
    val aggs =
      Seq(count(lit(1)).as("n"),
        sum(col("v").cast(d38)).as("s"),
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_obs"),
        sum(when(col("in_a"), col("v").cast(d38)).otherwise(lit(0).cast(d38)))
          .as("s_obs")) ++
      (0 until perms).flatMap { k =>
        val coin = substring(
          md5(concat(lit(s"$k|"), col("o_orderkey").cast("string"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7")
        Seq(sum(when(coin, 1L).otherwise(0L)).as(s"n$k"),
          sum(when(coin, col("v").cast(d38)).otherwise(lit(0).cast(d38)))
            .as(s"s$k"))
      }
    val wide = rows.agg(aggs.head, aggs.tail: _*)
    // a = |S_A·n − n_A·S| (numerator of the mean gap, cleared of its
    // denominator), b = n_A·(n − n_A); vote k: a_k·b0 >= a0·b_k, exact.
    def aOf(sCol: Column, nCol: Column) =
      abs(sCol * col("n").cast(d38) - nCol.cast(d38) * col("s"))
    def bOf(nCol: Column) =
      nCol.cast(d38) * (col("n") - nCol).cast(d38)
    val votes = (0 until perms).map { k =>
      when(aOf(col(s"s$k"), col(s"n$k")) * bOf(col("n_obs")) >=
        aOf(col("s_obs"), col("n_obs")) * bOf(col(s"n$k")), 1L).otherwise(0L)
    }.reduceLeft(_ + _)
    wide
      .withColumn("n_ge", votes)
      .select(col("n"), col("n_obs").as("n_a"),
        (col("n") - col("n_obs")).as("n_b"),
        (aOf(col("s_obs"), col("n_obs")).cast("double") /
          bOf(col("n_obs")).cast("double")).as("obs_gap_cents"),
        lit(perms.toLong).as("n_perms"), col("n_ge"),
        ((col("n_ge") + 1L).cast("double") /
          lit((perms + 1).toDouble)).as("p_value"))
  }

  /** Neyman-optimal stratified sample allocation (q_neyman): how a fixed
    * budget of 1000 sampled orders should split across market segments
    * to minimize the variance of the estimated mean order price —
    * n_h ∝ N_h·σ_h (big AND volatile strata get more), reported against
    * proportional allocation n_h ∝ N_h. The survey-sampling planner for
    * "audit 0.001% of a 100 TB fact table as cheaply as possible".
    *
    * σ_h comes from exact integer moments (Σcents, Σcents² in
    * decimal(38,0)) per segment; the allocation weight is the INTEGER
    * witness w = ⌊N_h·σ_h⌋, so the shares n_h = (budget·w) div Σw are
    * exact integer arithmetic — no cross-engine float summation over
    * strata decides the split. One map-side-combining pass over orders,
    * then segment-dimension arithmetic. */
  def neymanQuery(spark: SparkSession, dir: String,
                  budget: Long = 1000L): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("s"),
        sum(cents(col("o_totalprice")).cast(d38) *
          cents(col("o_totalprice")).cast(d38)).as("ss"))
      .withColumn("sigma",
        sqrt((col("n").cast(d38) * col("ss") -
            col("s").cast(d38) * col("s").cast(d38)).cast("double") /
          (col("n") * (col("n") - 1L)).cast("double")))
      .withColumn("w", floor(col("n").cast("double") * col("sigma"))
        .cast("long"))
    val tot = per.agg(sum(col("w")).as("tw"), sum(col("n")).as("tn"))
    per.crossJoin(broadcast(tot))
      .select(col("segment"), col("n"), col("sigma"),
        col("w"),
        expr(s"($budget * w) div tw").as("n_neyman"),
        expr(s"($budget * n) div tn").as("n_proportional"))
      .orderBy("segment")
  }

  def bhFdrQuery(spark: SparkSession, dir: String,
                 q: Double = 0.10): DataFrame = {
    val ranked = brandPValues(spark, dir)
    ranked.withColumn("padj_raw",
        col("p") * col("m").cast("double") / col("i").cast("double"))
      .withColumn("padj",
        min(col("padj_raw")).over(Window.orderBy(col("i").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("brand"), col("a"), col("b"), col("chi2"), col("p"),
        col("i"), col("padj"), (col("padj") <= q).as("reject"))
      .orderBy("i")
  }

  /** Holm–Bonferroni step-down over the same per-brand p-values
    * (q_holm): the FWER-controlling sibling of [[bhFdrQuery]]'s FDR —
    * reject while p_(i) ≤ α/(m−i+1), reported as the monotone adjusted
    * p = running max of min(1, (m−i+1)·p). Same brand-bounded frame,
    * same exact chi-square inputs; only the step direction differs. */
  def holmQuery(spark: SparkSession, dir: String,
                alpha: Double = 0.05): DataFrame = {
    val ranked = brandPValues(spark, dir)
    ranked.withColumn("padj_raw",
        least(lit(1.0), col("p") * (col("m") - col("i") + 1L).cast("double")))
      .withColumn("padj",
        max(col("padj_raw")).over(Window.orderBy(col("i").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("brand"), col("a"), col("b"), col("chi2"), col("p"),
        col("i"), col("padj"), (col("padj") <= alpha).as("reject"))
      .orderBy("i")
  }

  /** Shared by [[bhFdrQuery]] and [[holmQuery]]: per-brand return-rate
    * 2x2 chi-squares (exact integers until one division), the
    * monotone p surrogate 1/(1+chi2), and the p-ascending rank i over
    * the |brands|-bounded frame. */
  private def brandPValues(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("a"),
        sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("b"))
    val tot = cells.agg(sum(col("a")).as("c1"), sum(col("b")).as("c0"),
      count(lit(1)).as("m"))
    val stats = cells.crossJoin(broadcast(tot))
      .select(col("brand"), col("a"), col("b"), col("m"),
        (col("c1") - col("a")).as("c"), (col("c0") - col("b")).as("d"),
        col("c1"), col("c0"))
      .select(col("brand"), col("a"), col("b"), col("m"),
        // chi2 = N*(ad-bc)^2 / (r1*r0*c1*c0), exact integers until ONE division
        (((col("a") + col("b") + col("c") + col("d")).cast(d38) *
            (col("a").cast(d38) * col("d").cast(d38) -
             col("b").cast(d38) * col("c").cast(d38)) *
            (col("a").cast(d38) * col("d").cast(d38) -
             col("b").cast(d38) * col("c").cast(d38)))
          .cast("string").cast("double") /
         ((col("a") + col("b")).cast(d38) * (col("c") + col("d")).cast(d38) *
           col("c1").cast(d38) * col("c0").cast(d38))
          .cast("string").cast("double")).as("chi2"))
      .withColumn("p", lit(1.0) / (lit(1.0) + col("chi2")))
    // From here every frame is |brands|-sized (25 rows): the rank and
    // step windows in the callers are dimension-bounded by construction.
    stats.withColumn("i",
      row_number().over(Window.orderBy(col("p").asc, col("brand").asc))
        .cast("long"))
  }

  /** Two-sample Cramér–von Mises statistic between the order-price
    * distributions of two market segments (q_cvm) — the whole-curve
    * companion to [[ksTest]]'s max-gap: T sums the SQUARED ECDF gap over
    * every pooled observation, so it flags distributions that differ
    * broadly but never by a large single gap (which KS misses).
    *
    * Exactness: per distinct cents value the two counts, cumulative
    * counts via [[Ranking.distributedCumSum]], then the integer
    * numerator Σ_v (a+b)·(ca·m − cb·n)² in decimal(38,0);
    * T = num / (n·m·(n+m)²) is the single float division. Same scale
    * shape as ksTest: one fact shuffle to the value-domain frame. */
  def cvmTest(spark: SparkSession, dir: String,
              segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(cents(col("o_totalprice")).as("v"),
        when(col("c_mktsegment") === segA, 1L).otherwise(0L).as("ia"),
        when(col("c_mktsegment") === segB, 1L).otherwise(0L).as("ib"))
    val per = o.groupBy("v").agg(sum(col("ia")).as("a"), sum(col("ib")).as("b"))
    // r15: totals ride the cumsum's offsets broadcast — no second
    // execution of the fact join for the group sizes (guide §2.4).
    val cum = Ranking.distributedCumSum(per, Seq(col("v").asc), Seq("a", "b"),
      totals = true)
    cum
      .select(col("tot_a").as("n_a"), col("tot_b").as("n_b"),
        (col("a") + col("b")).cast(d38).as("w"),
        (col("cum_a").cast(d38) * col("tot_b").cast(d38) -
         col("cum_b").cast(d38) * col("tot_a").cast(d38)).as("diff"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("w") * col("diff") * col("diff")).as("tn"))
      .select(col("n_a"), col("n_b"),
        col("tn").cast("string").cast("double").as("t_num"),
        (col("tn").cast("string").cast("double") /
          (col("n_a").cast(d38) * col("n_b").cast(d38) *
           (col("n_a") + col("n_b")).cast(d38) *
           (col("n_a") + col("n_b")).cast(d38))
            .cast("string").cast("double")).as("cvm"))
  }

  /** Paired t statistic (squared) for per-customer spend drift between
    * two adjacent years (q_paired_t): each customer active in BOTH
    * years contributes one difference d = spendA − spendB, removing
    * the huge between-customer variance that drowns an unpaired test.
    * The reference's season-over-season player comparisons are this
    * shape (same entity, two periods).
    *
    * t² = (n−1)·(Σd)² / (n·Σd² − (Σd)²): all sufficient statistics are
    * exact cents integers (Σd² accumulates in decimal(38,0)); the
    * statistic is one VARCHAR-routed division. One customer-keyed
    * shuffle with map-side combine, then one-row arithmetic. */
  def pairedTQuery(spark: SparkSession, dir: String,
                   yearA: Int = 1996, yearB: Int = 1997): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
        cents(col("o_totalprice")).as("v"))
      .filter(col("y").isin(yearA, yearB))
      .groupBy("o_custkey")
      .agg(sum(when(col("y") === yearA, col("v")).otherwise(0L)).as("sa"),
        sum(when(col("y") === yearA, 1L).otherwise(0L)).as("na"),
        sum(when(col("y") === yearB, col("v")).otherwise(0L)).as("sb"),
        sum(when(col("y") === yearB, 1L).otherwise(0L)).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select((col("sa") - col("sb")).as("d"))
    per.agg(count(lit(1)).as("n"), sum(col("d")).as("sum_d"),
        sum(col("d").cast(d38) * col("d").cast(d38)).as("sd2"))
      .select(col("n"), col("sum_d"),
        (((col("n") - 1).cast(d38) *
            col("sum_d").cast(d38) * col("sum_d").cast(d38))
          .cast("string").cast("double") /
         (col("n").cast(d38) * col("sd2") -
            col("sum_d").cast(d38) * col("sum_d").cast(d38))
          .cast("string").cast("double")).as("t2"))
  }

  /** Cochran–Mantel–Haenszel test across year strata (q_cmh): does the
    * BUILDING-vs-MACHINERY return-rate difference hold up once the
    * order YEAR is controlled for, or is it a Simpson's-paradox
    * artifact of year mix? (q_simpson shows the paradox; this is the
    * statistic that adjusts for it.) One 2×2 table per year, CMH
    * χ² = (Σ_k (a_k − E_k))² / Σ_k Var_k plus the Mantel–Haenszel
    * pooled odds ratio.
    *
    * The seven strata are a FIXED calendar domain, so all 28 cell
    * counts ride one conditional-aggregate row (pivoted-domain device)
    * and every Σ_k is a fixed-order expression tree — each stratum term
    * is exact integers until its own single division. Two fact joins
    * (returned-orders semi-aggregate, customer segment), one shuffle. */
  def cmhQuery(spark: SparkSession, dir: String,
               segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val d38 = "decimal(38,0)"
    val years = 1995 to 2001
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey")).distinct()
      .withColumn("__ret", lit(1L))
    val rows = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .join(returned, Seq("o_orderkey"), "left")
      .select(year(col("o_orderdate")).as("y"),
        (col("c_mktsegment") === segA).as("e"),
        coalesce(col("__ret"), lit(0L)).as("o"))
    val cellAggs = years.flatMap { y =>
      Seq(
        sum(when(col("y") === y && col("e") && col("o") === 1L, 1L)
          .otherwise(0L)).as(s"a$y"),
        sum(when(col("y") === y && col("e") && col("o") === 0L, 1L)
          .otherwise(0L)).as(s"b$y"),
        sum(when(col("y") === y && !col("e") && col("o") === 1L, 1L)
          .otherwise(0L)).as(s"c$y"),
        sum(when(col("y") === y && !col("e") && col("o") === 0L, 1L)
          .otherwise(0L)).as(s"d$y"))
    }
    val wide = rows.agg(cellAggs.head, cellAggs.tail: _*)
    def nOf(y: Int) =
      col(s"a$y") + col(s"b$y") + col(s"c$y") + col(s"d$y")
    // Σ_k (a − (a+b)(a+c)/n): each term exact ints until ONE division
    val numTree = years.map { y =>
      col(s"a$y").cast("double") -
        ((col(s"a$y") + col(s"b$y")).cast(d38) *
          (col(s"a$y") + col(s"c$y")).cast(d38))
          .cast("string").cast("double") / nOf(y).cast("double")
    }.reduceLeft(_ + _)
    // Σ_k (a+b)(c+d)(a+c)(b+d)/(n²(n−1))
    val varTree = years.map { y =>
      ((col(s"a$y") + col(s"b$y")).cast(d38) *
        (col(s"c$y") + col(s"d$y")).cast(d38) *
        (col(s"a$y") + col(s"c$y")).cast(d38) *
        (col(s"b$y") + col(s"d$y")).cast(d38))
        .cast("string").cast("double") /
        (nOf(y).cast(d38) * nOf(y).cast(d38) * (nOf(y) - 1L).cast(d38))
          .cast("string").cast("double")
    }.reduceLeft(_ + _)
    val adTree = years.map { y =>
      (col(s"a$y").cast(d38) * col(s"d$y").cast(d38))
        .cast("string").cast("double") / nOf(y).cast("double")
    }.reduceLeft(_ + _)
    val bcTree = years.map { y =>
      (col(s"b$y").cast(d38) * col(s"c$y").cast(d38))
        .cast("string").cast("double") / nOf(y).cast("double")
    }.reduceLeft(_ + _)
    wide.select(lit(years.length.toLong).as("n_strata"),
      (numTree * numTree / varTree).as("cmh"),
      (adTree / bcTree).as("or_mh"))
  }

  /** Empirical tail-dependence of customer spend vs order count
    * (q_tail_dep): λ_U = P(top-decile order count | top-decile spend)
    * and the lower-tail mirror — do the extremes move together even if
    * the bulk correlation is mild? The copula-level read that Pearson
    * (q_regression) and Spearman (q_spearman) both miss, and the risk
    * question behind "are the biggest spenders also the most active?".
    *
    * Both margins are ranked by [[Ranking.distributedGlobalRank]] under
    * unique orders (no single-partition window); decile membership is
    * integer arithmetic on ranks; each λ is one division of exact
    * counts. Shape: one customer-grain aggregate, two rank passes, one
    * key join, a one-row rollup. */
  def tailDepQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("x"),
          count(lit(1)).as("y")),
      "taildep_per") // feeds both rank passes
    val rx = Ranking.distributedGlobalRank(per,
        Seq(col("x").asc, col("o_custkey").asc), rankCol = "rx")
      .select(col("o_custkey"), col("rx"), col("n"))
    val ry = Ranking.distributedGlobalRank(per,
        Seq(col("y").asc, col("o_custkey").asc), rankCol = "ry")
      .select(col("o_custkey").as("ck"), col("ry"))
    rx.join(ry, col("o_custkey") === col("ck"))
      .select(col("n"),
        (col("rx") > expr("(9 * n) div 10")).as("hx"),
        (col("ry") > expr("(9 * n) div 10")).as("hy"),
        (col("rx") <= expr("n div 10")).as("lx"),
        (col("ry") <= expr("n div 10")).as("ly"))
      .groupBy("n")
      .agg(sum(when(col("hx"), 1L).otherwise(0L)).as("n_hi_x"),
        sum(when(col("hx") && col("hy"), 1L).otherwise(0L)).as("both_hi"),
        sum(when(col("lx"), 1L).otherwise(0L)).as("n_lo_x"),
        sum(when(col("lx") && col("ly"), 1L).otherwise(0L)).as("both_lo"))
      .select(col("n"), col("n_hi_x"), col("both_hi"),
        (col("both_hi").cast("double") / col("n_hi_x").cast("double"))
          .as("lambda_u"),
        col("n_lo_x"), col("both_lo"),
        (col("both_lo").cast("double") / col("n_lo_x").cast("double"))
          .as("lambda_l"))
  }

  /** Brown–Forsythe (median-based Levene) test across the five order
    * priorities (q_levene): are the price SPREADS equal, not the means —
    * the homoscedasticity gate before trusting q_anova's pooled
    * variance, robust because deviations are taken from group MEDIANS.
    *
    * Medians are exact: per distinct cents value the five group counts
    * (pivoted-domain), ONE [[Ranking.distributedCumSum]] over the value
    * domain carries all five cumulative counts, and med_g is the
    * smallest v with 2·cum_g ≥ n_g (lower median — integer argmin, no
    * interpolation). The deviations |v − med_g| are exact integers, so
    * the one-way ANOVA on them reuses the cleared-denominator device:
    * W = ((N−k)/(k−1)) · SSB/SSW over VARCHAR-routed exact sums. Two
    * fact shuffles total (value domain, then the deviation aggregate). */
  def leveneQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(cents(col("o_totalprice")).as("v"),
          substring(col("o_orderpriority"), 1, 1).cast("long").as("g")),
      "levene_rows") // feeds the median pass and the deviation pass
    val per = rows.groupBy("v")
      .agg((1L to 5L).map(g =>
        sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c$g")).head,
        (2L to 5L).map(g =>
          sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c$g")): _*)
    // r15: the five group sizes ride the cumsum's offsets broadcast
    // (totals=true) — no second pass over the rows scratch (guide §2.4).
    val cum = Ranking.distributedCumSum(per, Seq(col("v").asc),
      (1L to 5L).map(g => s"c$g"), totals = true)
    val medAggs = (1L to 5L).map(g =>
      min(when(lit(2L) * col(s"cum_c$g") >= col(s"tot_c$g"), col("v")))
        .as(s"med$g"))
    val med = cum.agg(medAggs.head, medAggs.tail: _*)
    val medOf = (2L to 5L).foldLeft(when(col("g") === 1L, col("med1"))) {
      case (acc, g) => acc.when(col("g") === g, col(s"med$g"))
    }
    val z = rows.crossJoin(broadcast(med))
      .select(col("g"), abs(col("v") - medOf).as("z"))
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("z").cast(d38)).as("s"),
      sum(col("z").cast(d38) * col("z").cast(d38)).as("q")) ++
      (1L to 5L).flatMap(g => Seq(
        sum(when(col("g") === g, 1L).otherwise(0L)).as(s"zn$g"),
        sum(when(col("g") === g, col("z").cast(d38))
          .otherwise(lit(0).cast(d38))).as(s"zs$g")))
    val wide = z.agg(aggs.head, aggs.tail: _*).crossJoin(broadcast(med))
    val inner = (1L to 5L).map { g =>
      (col(s"zs$g") * col(s"zs$g")).cast("string").cast("double") /
        col(s"zn$g").cast("double")
    }.reduceLeft(_ + _)
    wide
      .withColumn("ssb",
        inner - (col("s") * col("s")).cast("string").cast("double") /
          col("n").cast("double"))
      .withColumn("ssw", col("q").cast("string").cast("double") - inner)
      .select(col("n") +: (1L to 5L).map(g => col(s"med$g")) :+
        (col("ssb") / lit(4.0) /
          (col("ssw") / (col("n") - 5L).cast("double"))).as("w"): _*)
  }

  /** Tukey–Kramer post-hoc pairwise comparison of the five priority
    * means (q_tukey): AFTER q_anova says "some priority differs", this
    * says WHICH pairs do — all ten mean differences against the
    * studentized-range honest-significant-difference threshold
    * (q_crit(α=.05, k=5, df→∞) = 3.858 pinned as a literal — the
    * Benford/NDCG constants device; critical values are table lookups,
    * not portable math).
    *
    * Exactness: per-group (n_g, S_g) are exact; each mean difference is
    * ONE division of the cross-multiplied exact integers; MSW sums the
    * per-group within-SS terms (n_g·Q_g − S_g²)/n_g — each exact until
    * its own single division — in a FIXED pivoted-column tree (never an
    * aggregate over doubles); the SE is a fixed tree ending in the
    * correctly-rounded sqrt. One fact shuffle to the 5-row group frame,
    * self-joined into the 10 dimension-bounded pairs. */
  def tukeyQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val qCrit = TukeyQCrit
    val o = Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("v"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("g"))
    val groups = graft.scale.Silver.scratch(
      o.groupBy("g")
        .agg(count(lit(1)).as("ng"), sum(col("v").cast(d38)).as("sg"),
          sum(col("v").cast(d38) * col("v").cast(d38)).as("qg")),
      "tukey_groups") // feeds the wide MSW row and both pair sides
    val wideAggs = (1L to 5L).flatMap(g => Seq(
      sum(when(col("g") === g, col("ng")).otherwise(0L)).as(s"n$g"),
      max(when(col("g") === g, col("sg"))).as(s"s$g"),
      max(when(col("g") === g, col("qg"))).as(s"q$g")))
    val wide = groups.agg(wideAggs.head, wideAggs.tail: _*)
    // Σ_g (n_g·Q_g − S_g²)/n_g as a fixed left-assoc 5-term tree
    val sswTree = (1L to 5L).map { g =>
      (col(s"n$g").cast(d38) * col(s"q$g") - col(s"s$g") * col(s"s$g"))
        .cast("string").cast("double") / col(s"n$g").cast("double")
    }.reduceLeft(_ + _)
    val msw = wide
      .select(((1L to 5L).map(g => col(s"n$g")).reduce(_ + _)).as("n"),
        sswTree.as("ssw"))
      .select((col("ssw") / (col("n") - 5L).cast("double")).as("msw"))
    val a = groups.select(col("g").as("g1"), col("ng").as("n1"),
      col("sg").as("s1"))
    val b = groups.select(col("g").as("g2"), col("ng").as("n2"),
      col("sg").as("s2"))
    a.join(b, col("g1") < col("g2")).crossJoin(broadcast(msw))
      .select(col("g1"), col("g2"),
        ((col("s1") * col("n2").cast(d38) - col("s2") * col("n1").cast(d38))
          .cast("string").cast("double") /
         (col("n1").cast(d38) * col("n2").cast(d38))
          .cast("string").cast("double")).as("diff_cents"),
        sqrt(col("msw") / lit(2.0) *
          (lit(1.0) / col("n1").cast("double") +
           lit(1.0) / col("n2").cast("double"))).as("se"))
      .select(col("g1"), col("g2"), col("diff_cents"), col("se"),
        (abs(col("diff_cents")) > lit(qCrit) * col("se")).as("significant"))
      .orderBy("g1", "g2")
  }

  /** Pettitt change-point test on the daily-revenue series (q_pettitt):
    * the rank-based (distribution-free) sibling of
    * [[TimeSeries.changepointQuery]] — K_t = |2·Σ_{i≤t} r_i − t(n+1)|
    * maximized over t finds the shift WITHOUT assuming the level is a
    * mean (robust to the revenue tail). Ranks come from
    * [[Ranking.distributedGlobalRank]] under the unique (value, day)
    * order; the day-ordered prefix sums from [[Ranking
    * .distributedCumSum]]; K_t and its argmax are exact integers. The
    * emitted k_norm = K/(n(n+1)/2) is the single division. */
  def pettittQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("v"))
    val ranked = Ranking.distributedGlobalRank(daily,
      Seq(col("v").asc, col("day").asc))
    val cum = Ranking.distributedCumSum(
      ranked.select(col("day"), col("rank"), col("n"), lit(1L).as("one")),
      Seq(col("day").asc), Seq("rank", "one"))
    cum.filter(col("cum_one") < col("n"))
      .select(col("day"),
        abs(lit(2L).cast(d38) * col("cum_rank").cast(d38) -
          col("cum_one").cast(d38) * (col("n") + 1L).cast(d38)).as("k2"),
        col("n"))
      .orderBy(col("k2").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("split_day"), col("k2").cast("long").as("k_stat"),
        col("n").as("n_days"),
        (col("k2").cast("string").cast("double") /
          (col("n").cast(d38) * (col("n") + 1L).cast(d38))
            .cast("string").cast("double") * lit(2.0)).as("k_norm"))
  }

  /** Kruskal–Wallis H across the five order priorities (q_kruskal):
    * the rank-based one-way ANOVA — "do the five priority classes draw
    * from the same price distribution?" without q_anova's normality
    * assumption, robust to the heavy order-value tail. The k-group
    * generalization of [[mannWhitney]], built from the same doubled-
    * midrank device: per distinct cents value the per-group counts, the
    * global cumulative count via [[Ranking.distributedCumSum]], then
    * 2·midrank = 2·cum − t + 1 keeps every rank-sum an exact integer
    * under ties.
    *
    * H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1), tie-corrected by
    * C = 1 − Σ(t³−t)/(N³−N): the rank sums R_g (as 2R_g), group sizes,
    * and tie counts are exact decimal(38,0); H is a FIXED tree — five
    * VARCHAR-routed divisions summed in written order, two scalar
    * divisions — so the oracle replays it bit-identically. One fact
    * shuffle to the value-domain frame (pivoted-domain device: the five
    * group counts ride as columns, so ranking costs ONE cumsum). */
  def kruskalQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("v"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("g"))
    val per = rows.groupBy("v")
      .agg((count(lit(1))).as("t"),
        (1L to 5L).map(g =>
          sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c$g")): _*)
    val cum = Ranking.distributedCumSum(per, Seq(col("v").asc), Seq("t"))
    val m2 = cum.withColumn("m2",
      lit(2L) * col("cum_t") - col("t") + 1L)
    val aggs = sum(col("t")).as("n") +:
      sum((col("t").cast(d38) * col("t").cast(d38) * col("t").cast(d38) -
        col("t").cast(d38))).as("ties") +:
      (1L to 5L).flatMap(g => Seq(
        sum(col(s"c$g")).as(s"n$g"),
        sum(col("m2").cast(d38) * col(s"c$g").cast(d38)).as(s"r2_$g")))
    val agg = m2.agg(aggs.head, aggs.tail: _*)
    val sumTerm = (1L to 5L).map { g =>
      (col(s"r2_$g") * col(s"r2_$g")).cast("string").cast("double") /
        (lit(4L).cast(d38) * col(s"n$g").cast(d38)).cast("string").cast("double")
    }.reduce(_ + _)
    agg.select(
        col("n"), col("ties").cast("string").cast("double").as("tie_term"),
        (lit(12.0) * sumTerm /
          (col("n").cast(d38) * (col("n") + 1L).cast(d38))
            .cast("string").cast("double") -
          lit(3.0) * (col("n") + 1L).cast("double")).as("h"),
        (lit(1.0) - col("ties").cast("string").cast("double") /
          (col("n").cast(d38) * col("n").cast(d38) * col("n").cast(d38) -
            col("n").cast(d38)).cast("string").cast("double")).as("c_ties"))
      .select(col("n"), col("tie_term"), col("h"), col("c_ties"),
        (col("h") / col("c_ties")).as("h_adj"))
  }

  /** Cronbach's alpha over the five priority revenue streams
    * (q_cronbach): treating each day as a respondent and each
    * priority's daily revenue as an item, α measures whether the five
    * streams move together (internal consistency) — the reliability
    * statistic behind "is total daily revenue a coherent scale or five
    * unrelated series?" (reference: the analytics engine's cross-metric
    * consistency reads).
    *
    * α = k/(k−1) · (1 − Σ_g Var_g / Var_total), computed on the dense
    * day × priority grid (absent cells are true zeros); every variance
    * numerator is the cleared-denominator exact integer n·Σv² − (Σv)²,
    * so α is a fixed tree over VARCHAR-routed exact values with ONE
    * division. One fact shuffle to the calendar-bounded daily grid
    * (pivoted-domain: items ride as columns). */
  def cronbachQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("g"),
        cents(col("o_totalprice")).as("v"))
      .groupBy("day")
      .agg((1L to 5L).map(g =>
        sum(when(col("g") === g, col("v")).otherwise(0L)).as(s"v$g")).head,
        (2L to 5L).map(g =>
          sum(when(col("g") === g, col("v")).otherwise(0L)).as(s"v$g")): _*)
      .withColumn("tot",
        (1L to 5L).map(g => col(s"v$g")).reduce(_ + _))
    val aggs = count(lit(1)).as("n") +:
      sum(col("tot")).as("st") +:
      sum(col("tot").cast(d38) * col("tot").cast(d38)).as("qt") +:
      (1L to 5L).flatMap(g => Seq(
        sum(col(s"v$g")).as(s"s$g"),
        sum(col(s"v$g").cast(d38) * col(s"v$g").cast(d38)).as(s"q$g")))
    val agg = daily.agg(aggs.head, aggs.tail: _*)
    val itemVarNum = (1L to 5L).map { g =>
      (col("n").cast(d38) * col(s"q$g") -
        col(s"s$g").cast(d38) * col(s"s$g").cast(d38))
        .cast("string").cast("double")
    }.reduce(_ + _)
    agg.select(col("n").as("n_days"), lit(5L).as("k"),
        (lit(1.25) * (lit(1.0) - itemVarNum /
          (col("n").cast(d38) * col("qt") -
            col("st").cast(d38) * col("st").cast(d38))
            .cast("string").cast("double"))).as("alpha"))
  }

  /** Multivariate outliers by Mahalanobis distance (q_mahalanobis):
    * orders ranked by how far their (total price, line count) pair sits
    * from the joint distribution — the covariance-aware upgrade of the
    * per-column z-score outliers (q_outliers): a 30-line order at an
    * average total is invisible marginally but extreme jointly.
    *
    * Determinism: moments (n, Σx, Σy, Σx², Σxy, Σy²) are exact integer
    * cents/counts; the cleared-denominator deviations dx = n·x − Σx and
    * scatter terms Sxx = n·Σx² − (Σx)² are exact decimal(38,0) routed to
    * double through VARCHAR; the score Syy·dx² − 2·Sxy·dx·dy + Sxx·dy²
    * (∝ squared Mahalanobis distance — the det(S) normalizer is emitted
    * as one extra division) is a fixed IEEE tree over those doubles, so
    * the top-k ranking replays bit-identically in the oracle.
    *
    * Scale shape: one lineitem shuffle to per-order sufficient stats
    * (materialized once — feeds the one-row moments AND the scoring
    * pass), broadcast moments, TakeOrderedAndProject top-k. */
  def mahalanobisQuery(spark: SparkSession, dir: String,
                       k: Int = 15): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = graft.scale.Silver.scratch(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("x"),
          count(lit(1)).as("y")),
      "mahal_orders") // feeds moments and scoring
    val m = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
      sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
      sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
      .select(col("n"),
        (col("n").cast(d38) * col("sxx") -
          col("sx").cast(d38) * col("sx").cast(d38)).as("cxx"),
        (col("n").cast(d38) * col("sxy") -
          col("sx").cast(d38) * col("sy").cast(d38)).as("cxy"),
        (col("n").cast(d38) * col("syy") -
          col("sy").cast(d38) * col("sy").cast(d38)).as("cyy"),
        col("sx"), col("sy"))
    per.crossJoin(broadcast(m))
      .select(col("l_orderkey"), col("x").as("x_cents"),
        col("y").as("n_lines"),
        (col("n").cast(d38) * col("x").cast(d38) - col("sx").cast(d38))
          .cast("string").cast("double").as("dx"),
        (col("n").cast(d38) * col("y").cast(d38) - col("sy").cast(d38))
          .cast("string").cast("double").as("dy"),
        col("cxx").cast("string").cast("double").as("cxx_d"),
        col("cxy").cast("string").cast("double").as("cxy_d"),
        col("cyy").cast("string").cast("double").as("cyy_d"))
      .select(col("l_orderkey"), col("x_cents"), col("n_lines"),
        (col("cyy_d") * col("dx") * col("dx") -
          lit(2.0) * col("cxy_d") * col("dx") * col("dy") +
          col("cxx_d") * col("dy") * col("dy")).as("score"),
        (col("cxx_d") * col("cyy_d") - col("cxy_d") * col("cxy_d"))
          .as("det"))
      .select(col("l_orderkey"), col("x_cents"), col("n_lines"),
        col("score"), (col("score") / col("det")).as("md2"))
      .orderBy(col("score").desc, col("l_orderkey").asc)
      .limit(k)
  }

  /** Goodman–Kruskal lambda for return flag × ship month (q_gk_lambda):
    * the proportional-reduction-in-error association measure — "how much
    * better do I guess the return flag knowing the ship month (and vice
    * versa) than guessing the modal value blind?" Unlike chi-square it
    * reads directly as a usefulness-of-feature score, and unlike mutual
    * information it needs NO logarithms, so it stays inside the repo's
    * exact-integer discipline (log is not IEEE-portable across engines).
    *
    * λ_{row|col} = (Σ_col max_row c − max_row rowTot) / (n − max_row
    * rowTot), symmetrically for columns. One fact shuffle to the
    * |flags|×|months| cell frame; everything after is cell-bounded. */
  def gkLambdaQuery(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("rf"),
        month(col("l_shipdate")).cast("long").as("mode"))
      .agg(count(lit(1)).as("c"))
    // every frame below is |rf|·|mode|-bounded (~35 rows)
    val byMode = cells.groupBy("mode").agg(max(col("c")).as("mx"))
      .agg(sum(col("mx")).as("sum_max_per_mode"))
    val byRf = cells.groupBy("rf").agg(max(col("c")).as("mx"))
      .agg(sum(col("mx")).as("sum_max_per_rf"))
    val rowTot = cells.groupBy("rf").agg(sum(col("c")).as("t"))
      .agg(max(col("t")).as("max_rf_tot"), sum(col("t")).as("n"))
    val colTot = cells.groupBy("mode").agg(sum(col("c")).as("t"))
      .agg(max(col("t")).as("max_mode_tot"))
    byMode.crossJoin(byRf).crossJoin(rowTot).crossJoin(colTot)
      .select(col("n"), col("sum_max_per_mode"), col("sum_max_per_rf"),
        col("max_rf_tot"), col("max_mode_tot"),
        ((col("sum_max_per_mode") - col("max_rf_tot")).cast("double") /
          (col("n") - col("max_rf_tot")).cast("double")).as("lambda_rf"),
        ((col("sum_max_per_rf") - col("max_mode_tot")).cast("double") /
          (col("n") - col("max_mode_tot")).cast("double")).as("lambda_mode"))
  }

  /** Per-value counts of l_quantity for the returned-vs-kept populations
    * — the shared sufficient frame of [[cliffsDelta]] and
    * [[hodgesLehmann]]. Quantity is a BOUNDED integer domain (≤50
    * distinct values at any corpus size), so every pairwise-comparison
    * statistic collapses to arithmetic over this ≤50-row frame: the
    * corpus is touched by ONE map-side-combining aggregate, and the
    * quadratic pair space is never materialized. */
  private def quantityCountsRN(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .groupBy(col("l_quantity").cast("long").as("q"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cn"))

  /** Cliff's delta between returned and kept line quantities
    * (q_cliffs_delta): δ = (#(x>y) − #(x<y))/(n_x·n_y) — the
    * distribution-free EFFECT SIZE companion to [[mannWhitney]]'s
    * p-value (δ = 2·AUC − 1): a significant U on 60 k rows can be a
    * trivial δ; this reports how big the dominance actually is.
    * Pair counts come from the bounded-domain counts self-join
    * (≤50×50 rows) — exact longs, one terminal division. */
  def cliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.scale.Silver.scratch(
      quantityCountsRN(spark, dir), "cliffs_counts")
    val pairs = counts.as("a").crossJoin(counts.as("b"))
      .select(col("a.q").as("qa"), col("b.q").as("qb"),
        (col("a.cr") * col("b.cn")).as("w"))
    val gtlt = pairs.agg(
      sum(when(col("qa") > col("qb"), col("w")).otherwise(0L)).as("n_gt"),
      sum(when(col("qa") < col("qb"), col("w")).otherwise(0L)).as("n_lt"))
    val ns = counts.agg(sum(col("cr")).as("n_r"), sum(col("cn")).as("n_n"))
    ns.crossJoin(broadcast(gtlt))
      .select(col("n_r"), col("n_n"), col("n_gt"), col("n_lt"),
        ((col("n_gt") - col("n_lt")).cast("double") /
          (col("n_r") * col("n_n")).cast("double")).as("cliffs_delta"))
  }

  /** Hodges–Lehmann shift estimator between the same populations
    * (q_hodges_lehmann): the median of ALL n_x·n_y pairwise differences
    * x−y — the robust "how much bigger are returned quantities?"
    * location shift (the estimator behind the Mann–Whitney CI, immune
    * to the outliers that move a difference of means). The ~10⁹-pair
    * median is EXACT: differences live on the bounded ±49 domain, so
    * per-difference weights come from the counts convolution (≤2500
    * rows) and the median is the cumulative-count selection over ≤99
    * rows — lower/upper medians exact, midpoint the one IEEE op. */
  def hodgesLehmann(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.scale.Silver.scratch(
      quantityCountsRN(spark, dir), "hl_counts")
    val diffs = counts.as("a").crossJoin(counts.as("b"))
      .select((col("a.q") - col("b.q")).as("d"),
        (col("a.cr") * col("b.cn")).as("w"))
      .groupBy("d").agg(sum(col("w")).as("w"))
      .filter(col("w") > 0L)
    // bounded-domain cumulative (≤99 rows) — a corpus-independent window
    val wd = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = diffs.withColumn("cum", sum(col("w")).over(wd))
    val tot = diffs.agg(sum(col("w")).as("t_pairs"))
    val ranked = cum.crossJoin(broadcast(tot))
    val lo = ranked.filter(col("cum") >= expr("(t_pairs + 1) div 2"))
      .agg(min(col("d")).as("hl_lo"))
    val hi = ranked.filter(col("cum") >= expr("t_pairs div 2 + 1"))
      .agg(min(col("d")).as("hl_hi"))
    tot.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("t_pairs"), col("hl_lo"), col("hl_hi"),
        ((col("hl_lo") + col("hl_hi")).cast("double") / lit(2.0))
          .as("hl_shift"))
  }

  /** Stratified treatment-effect table (q_strat_ate): mean order value
    * of urgent vs non-urgent orders WITHIN each market segment — the
    * direct-standardization layer between [[diffInDiff]] and
    * [[cupedQuery]]: if segment mix differs across arms, the pooled
    * contrast is confounded ([[simpsonsParadox]] is the failure mode;
    * this is the fix). One joined aggregate; per-stratum means are the
    * only divisions; no cross-stratum float accumulation — the
    * per-stratum rows ARE the deliverable. */
  def stratAte(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (col("o_orderpriority") === "1-URGENT").as("treated"),
        cents(col("o_totalprice")).as("y"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated"), col("y")).otherwise(0L)).as("sy_t"),
        sum(when(!col("treated"), col("y")).otherwise(0L)).as("sy_c"))
      .select(col("segment"), col("n"), col("n_t"),
        (col("sy_t").cast("double") / col("n_t").cast("double"))
          .as("mean_t_cents"),
        (col("sy_c").cast("double") / (col("n") - col("n_t")).cast("double"))
          .as("mean_c_cents"),
        (col("sy_t").cast("double") / col("n_t").cast("double") -
          col("sy_c").cast("double") / (col("n") - col("n_t")).cast("double"))
          .as("ate_cents"))
      .orderBy("segment")
  }

  /** Fixed-effect meta-analysis of the urgent-priority order-value
    * effect across market segments (q_meta_fixed): per-segment mean
    * difference and variance, inverse-variance weights, the pooled
    * effect, and each segment's Cochran-Q heterogeneity contribution —
    * the "do the strata agree, and what do they say TOGETHER?" synth
    * layer over [[stratAte]]'s raw table (and the continuous-outcome
    * sibling of [[breslowDayQuery]]).
    *
    * Cross-stratum float sums are forbidden, so weights and effects
    * enter the pooled sums as FLOOR-SCALED exact longs
    * (w = ⌊10¹⁵/var⌋, e = ⌊effect⌋ cents): Σw·e and Σw accumulate
    * exactly, and pooled/Q close as per-row fixed trees. Per-segment
    * moments are exact cleared-denominator sums. */
  def metaFixedQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        (col("o_orderpriority") === "1-URGENT").as("z"),
        cents(col("o_totalprice")).as("y"))
    val per = graft.scale.Silver.scratch(
      base.groupBy("segment")
        .agg(sum(when(col("z"), 1L).otherwise(0L)).as("nt"),
          sum(when(col("z"), col("y")).otherwise(0L)).as("st"),
          sum(when(col("z"), col("y").cast(d38) * col("y").cast(d38))
            .otherwise(lit(0).cast(d38))).as("qt"),
          sum(when(!col("z"), 1L).otherwise(0L)).as("nc"),
          sum(when(!col("z"), col("y")).otherwise(0L)).as("sc"),
          sum(when(!col("z"), col("y").cast(d38) * col("y").cast(d38))
            .otherwise(lit(0).cast(d38))).as("qc")),
      "meta_per") // feeds the pooled sums and the per-stratum rows
    def m(s: String, n: String) = col(s).cast("double") / col(n).cast("double")
    def v(q: String, s: String, n: String) =
      (col(n).cast(d38) * col(q) - col(s).cast(d38) * col(s).cast(d38))
        .cast("string").cast("double") /
        (col(n) * (col(n) - 1L)).cast("double") / col(n).cast("double")
    val eff = m("st", "nt") - m("sc", "nc")
    val varE = v("qt", "st", "nt") + v("qc", "sc", "nc")
    val scaled = per
      .withColumn("effect_cents", eff)
      .withColumn("var_effect", varE)
      .withColumn("w_w", floor(lit(1e15) / col("var_effect")).cast("long"))
      .withColumn("e_w", floor(col("effect_cents")).cast("long"))
    val pooled = scaled.agg(sum(col("w_w")).as("sw"),
      sum(col("w_w") * col("e_w")).as("swe"))
      .select((col("swe").cast("double") / col("sw").cast("double"))
        .as("pooled_effect_cents"))
    scaled.crossJoin(broadcast(pooled))
      .select(col("segment"), col("nt").as("n_t"), col("nc").as("n_c"),
        col("effect_cents"), col("var_effect"), col("pooled_effect_cents"),
        (col("w_w").cast("double") / lit(1e15) *
          (col("effect_cents") - col("pooled_effect_cents")) *
          (col("effect_cents") - col("pooled_effect_cents")))
          .as("q_contrib"))
      .orderBy("segment")
  }

  /** Breslow–Day homogeneity of odds ratios (q_breslow_day): does the
    * urgent-priority → returned-line association have the SAME strength
    * in every market segment? The prerequisite check for pooling that
    * [[cmhQuery]] silently assumes (CMH tests the common OR ≠ 1;
    * Breslow–Day tests whether "common" is even legitimate). Emits the
    * per-stratum table: observed a, Mantel–Haenszel-expected ã (the
    * valid root of the OR quadratic), and each stratum's χ²
    * contribution.
    *
    * OR_MH's rational terms floor-scale to exact longs
    * ((10⁶·aᵢdᵢ) div nᵢ — exact sums in any order); everything after
    * is a per-stratum FIXED tree over that one deterministic double
    * and the exact cells (quadratic root via the correctly-rounded
    * sqrt). One conditional aggregate over the joined fact stream;
    * stratum count is dimension-sized. */
  def breslowDayQuery(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
      .withColumn("__pos", lit(1L))
    val base = Tables.orders(spark, dir)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left")
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        (col("o_orderpriority") === "1-URGENT").as("z"),
        (coalesce(col("__pos"), lit(0L)) === 1L).as("y"))
    val cells = graft.scale.Silver.scratch(
      base.groupBy("segment")
        .agg(sum(when(col("z") && col("y"), 1L).otherwise(0L)).as("a"),
          sum(when(col("z") && !col("y"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("z") && col("y"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("z") && !col("y"), 1L).otherwise(0L)).as("d"))
        .withColumn("n", col("a") + col("b") + col("c") + col("d")),
      "bd_cells") // feeds the OR sums and the per-stratum trees
    val or = cells.agg(
        sum(expr("(1000000 * a * d) div n")).as("rw"),
        sum(expr("(1000000 * b * c) div n")).as("sw"))
      .select((col("rw").cast("double") / col("sw").cast("double"))
        .as("or_mh"))
    val m1 = (col("a") + col("b")).cast("double")
    val n1 = (col("a") + col("c")).cast("double")
    val nD = col("n").cast("double")
    val qa = col("or_mh") - lit(1.0)
    // OR·(m1+n1) and the discriminant's two products round-trip through
    // VARCHAR before their +/−: bare `a·b + c` / `a·b − c·d` are
    // FMA-contractible on the C++ oracle engine (q_polyfit class)
    val qb = lit(0.0) -
      ((col("or_mh") * (m1 + n1)).cast("string").cast("double") +
        (nD - m1 - n1))
    val qc = col("or_mh") * m1 * n1
    val eA = (lit(0.0) - qb -
      sqrt((qb * qb).cast("string").cast("double") -
        (lit(4.0) * qa * qc).cast("string").cast("double"))) /
      (lit(2.0) * qa)
    val vInv = lit(1.0) / eA + lit(1.0) / (m1 - eA) +
      lit(1.0) / (n1 - eA) + lit(1.0) / (nD - m1 - n1 + eA)
    cells.crossJoin(broadcast(or))
      .select(col("segment"), col("a"), col("b"), col("c"), col("d"),
        col("or_mh"), eA.as("e_a"),
        ((col("a").cast("double") - eA) * (col("a").cast("double") - eA) *
          vInv).as("bd_chi2"))
      .orderBy("segment")
  }

  /** Goodman–Kruskal γ and Somers' D between order priority (ordinal)
    * and line quantity (q_gk_gamma): concordant-vs-discordant pair
    * association for ORDINAL data, where Pearson assumes intervals and
    * [[spearman]] discards ties ([[Distribution]]'s gk_lambda covers
    * the nominal case). γ = (C−D)/(C+D); Somers' D_yx adds the
    * y-tied pairs to the denominator — the directional version.
    *
    * The ~10⁹ pair space collapses onto the bounded 5×50 contingency
    * grid ([[cliffsDelta]] device): C and D are Σ nᵢⱼ·nᵢ'ⱼ' over the
    * ≤250² strictly-greater cell pairs, Tᵧ comes from per-column
    * squares — all exact longs, two terminal divisions. */
  def gkGammaQuery(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.scale.Silver.scratch(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(substring(col("o_orderpriority"), 1, 1).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
        .agg(count(lit(1)).as("n")),
      "gamma_cells") // feeds C/D pair join and the tie sums
    val pairs = cells.as("p").join(broadcast(cells.as("q")),
      col("p.x") < col("q.x"))
    val cd = pairs.agg(
      sum(when(col("p.y") < col("q.y"), col("p.n") * col("q.n"))
        .otherwise(0L)).as("c"),
      sum(when(col("p.y") > col("q.y"), col("p.n") * col("q.n"))
        .otherwise(0L)).as("d"))
    val ty = cells.groupBy("y")
      .agg(sum(col("n")).as("ty"), sum(col("n") * col("n")).as("tyy"))
      .agg(sum(expr("(ty * ty - tyy) div 2")).as("t_y"))
    cd.crossJoin(broadcast(ty))
      .select(col("c").as("n_concordant"), col("d").as("n_discordant"),
        col("t_y").as("n_tied_y"),
        ((col("c") - col("d")).cast("double") /
          (col("c") + col("d")).cast("double")).as("gamma"),
        ((col("c") - col("d")).cast("double") /
          (col("c") + col("d") + col("t_y")).cast("double")).as("somers_d"))
  }

  /** Process capability of order-line quantity (q_cpk): Cp =
    * (USL−LSL)/6σ and Cpk = min(USL−μ, μ−LSL)/3σ against the domain
    * spec limits [1, 50] — the SPC summary "does the process fit its
    * tolerance band, and is it centered?" (Cp ignores centering; the
    * Cp−Cpk gap IS the off-center diagnosis). Mean and σ come from the
    * exact long power sums ([[jarqueBera]]'s machinery); the capability
    * indices close as fixed trees with the spec limits as pinned
    * literals. */
  def cpkQuery(spark: SparkSession, dir: String,
               lsl: Double = 1.0, usl: Double = 50.0): DataFrame = {
    val sums = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("q"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    // both products of n·Σx² − (Σx)² round-trip through VARCHAR before
    // the subtraction (FMA-contraction barrier, the q_polyfit device)
    val sd = sqrt(((nD * col("s2").cast("double")).cast("string").cast("double") -
      (col("s1").cast("double") * col("s1").cast("double"))
        .cast("string").cast("double")) /
      (nD * (nD - lit(1.0))))
    sums.select(col("n"), mu.as("mean_q"), sd.as("sd_q"),
      ((lit(usl) - lit(lsl)) / (lit(6.0) * sd)).as("cp"),
      (least(lit(usl) - mu, mu - lit(lsl)) / (lit(3.0) * sd)).as("cpk"))
  }

  /** Between-group Gini decomposition over market segments
    * (q_gini_between): G_between = Σᵢⱼ nᵢnⱼ|μᵢ−μⱼ| / (2n²μ) — how much
    * of spend inequality is BETWEEN segments (vs within them)?
    * The decomposition layer under the overall Gini (q_gini): a
    * near-zero between-share means segment membership explains
    * nothing about spend.
    *
    * The rational means clear exactly: nᵢnⱼ|μᵢ−μⱼ| = |sᵢnⱼ − sⱼnᵢ|,
    * so the pair sum over the ≤k² segment grid is an EXACT long/
    * decimal sum and G_between = Σ|sᵢnⱼ−sⱼnᵢ| / (2nS) is ONE
    * division. One fact aggregate; the pair join is dimension-sized. */
  def giniBetweenQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val seg = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("s")),
      "ginib_seg") // feeds totals and both sides of the pair join
    val tot = seg.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
      count(lit(1)).as("n_segments"))
    val pairSum = seg.as("a").crossJoin(broadcast(seg.as("b")))
      .agg(sum(abs(col("a.s").cast(d38) * col("b.n").cast(d38) -
        col("b.s").cast(d38) * col("a.n").cast(d38))).as("psum"))
    tot.crossJoin(broadcast(pairSum))
      .select(col("n_segments"), col("nt").as("n"),
        (col("psum").cast("string").cast("double") /
          (lit(2.0) * col("nt").cast("double") *
            col("st").cast("double"))).as("gini_between"))
  }

  /** One-step Huber M-estimate of customer spend location (q_huber):
    * start at the exact median, clip every observation into
    * [med − 1.5·MAD, med + 1.5·MAD], average the clipped values — the
    * robust "typical customer value" that neither the mean (outlier-
    * dragged) nor the bare median (throws away 98% of the data's
    * information) gives. The classic one-step M-estimator with Huber's
    * ψ; fully deterministic because the anchor quantities are exact
    * integer ORDER STATISTICS, not float iterates.
    *
    * Median and MAD are rank selections via
    * [[graft.operators.Ranking.distributedGlobalRank]] (lower median,
    * rank (n+1) div 2); the clip bounds stay integers (1.5·MAD as
    * (3·MAD) div 2); the clipped sum is an exact long; ONE terminal
    * division. */
  def huberQuery(spark: SparkSession, dir: String): DataFrame = {
    val spend = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("y")),
      "huber_spend") // feeds both rank passes and the clipped mean
    def lowerMedian(df: DataFrame, v: String): DataFrame =
      Ranking.distributedGlobalRank(df, Seq(col(v).asc), rankCol = "r",
          nCol = "nn", numParts = 8)
        .filter(col("r") === expr("(nn + 1) div 2"))
        .select(col(v).as("m"))
    val med = lowerMedian(spend, "y")
    val dev = spend.crossJoin(broadcast(med))
      .select(abs(col("y") - col("m")).as("ad"))
    val mad = lowerMedian(dev, "ad").select(col("m").as("mad"))
    spend.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("y"), col("m"),
        col("mad"), (col("m") - expr("(3 * mad) div 2")).as("lo"),
        (col("m") + expr("(3 * mad) div 2")).as("hi"))
      .select(col("m"), col("mad"),
        greatest(col("lo"), least(col("hi"), col("y"))).as("cy"))
      .groupBy(col("m").as("median_cents"), col("mad").as("mad_cents"))
      .agg(count(lit(1)).as("n"), sum(col("cy")).as("sc"))
      .select(col("n"), col("median_cents"), col("mad_cents"),
        (col("sc").cast("double") / col("n").cast("double"))
          .as("huber_cents"))
  }

  /** Bhattacharyya coefficient and Hellinger distance between the
    * returned and kept quantity distributions (q_hellinger):
    * BC = Σ√(pᵢqᵢ), H = √(1−BC) — the bounded, symmetric
    * distribution-distance next to [[wassersteinDistance]] (mass
    * transport) and [[tvDriftQuery]] (sup-norm): Hellinger is the one
    * with the √ geometry that dominates Bayes error bounds.
    *
    * √(pᵢqᵢ) = √(crᵢ·cnᵢ)/√(n_r·n_n): the per-bin √ images are
    * floor-scaled exact longs (⌊√(cr·cn)·10³⌋ — the [[atkinsonQuery]]
    * device) over the ≤50-value bounded domain, so Σ accumulates
    * exactly; BC and H close as a fixed tree (floor keeps BC ≤ 1, so
    * the √(1−BC) argument never goes negative). */
  def hellingerQuery(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.scale.Silver.scratch(
      quantityCountsRN(spark, dir), "hell_counts")
    val agg = counts.agg(
      sum(col("cr")).as("n_r"), sum(col("cn")).as("n_n"),
      sum(floor(sqrt((col("cr") * col("cn")).cast("double")) * lit(1000.0))
        .cast("long")).as("sb"))
    val bc = col("sb").cast("double") /
      (lit(1000.0) * sqrt(col("n_r").cast("double") * col("n_n").cast("double")))
    agg.select(col("n_r"), col("n_n"), bc.as("bhattacharyya"),
      sqrt(lit(1.0) - bc).as("hellinger"))
  }

  /** Group-sequential monitoring with O'Brien–Fleming boundaries
    * (q_group_sequential): the urgent-vs-other order-value Welch z at
    * five equally spaced calendar looks, each against the published
    * two-sided α=0.05 O'F critical values (4.8769, 3.3569, 2.6803,
    * 2.2898, 2.0310 — pinned literals, the NDCG-table device) — the
    * "peek early without p-hacking" harness every experimentation
    * platform ships, and the SEQUENTIAL layer missing from the one-shot
    * tests ([[welchTTest]], [[mdeQuery]], srm).
    *
    * Look cuts are exact integer day fifths; each look's z is a fixed
    * tree over exact cumulative sums (one slice-grained aggregate,
    * then a 5×5 slice≤look fan-out — dimension-sized). */
  def groupSequentialQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val boundaries = ObfBoundaries
    val day = expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
    val base = Tables.orders(spark, dir)
      .select(day.as("day"),
        (col("o_orderpriority") === "1-URGENT").as("z"),
        cents(col("o_totalprice")).as("v"))
    val span = base.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val slices = base.crossJoin(broadcast(span))
      .withColumn("slice",
        least(lit(5L), expr("((day - d0) * 5) div (d1 - d0 + 1) + 1")))
      .groupBy("slice")
      .agg(sum(when(col("z"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("z"), col("v")).otherwise(0L)).as("st"),
        sum(when(col("z"), col("v").cast(d38) * col("v").cast(d38))
          .otherwise(lit(0).cast(d38))).as("qt"),
        sum(when(!col("z"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("z"), col("v")).otherwise(0L)).as("sc"),
        sum(when(!col("z"), col("v").cast(d38) * col("v").cast(d38))
          .otherwise(lit(0).cast(d38))).as("qc"))
    val looks = spark.range(1, 6).select(col("id").as("look"))
    val cum = graft.scale.Silver.scratch(slices, "gs_slices")
      .join(broadcast(looks), col("slice") <= col("look"))
      .groupBy("look")
      .agg(sum(col("nt")).as("nt"), sum(col("st")).as("st"),
        sum(col("qt")).as("qt"), sum(col("nc")).as("nc"),
        sum(col("sc")).as("sc"), sum(col("qc")).as("qc"))
    val ntD = col("nt").cast("double"); val ncD = col("nc").cast("double")
    val mt = col("st").cast("double") / ntD
    val mc = col("sc").cast("double") / ncD
    val vt = (col("qt").cast("string").cast("double") -
      col("st").cast("double") * col("st").cast("double") / ntD) /
      (ntD - lit(1.0))
    val vc = (col("qc").cast("string").cast("double") -
      col("sc").cast("double") * col("sc").cast("double") / ncD) /
      (ncD - lit(1.0))
    val zStat = (mt - mc) / sqrt(vt / ntD + vc / ncD)
    val bCol = boundaries.zipWithIndex.foldLeft(lit(0.0)) {
      case (acc, (b, i)) => when(col("look") === (i + 1).toLong, b)
        .otherwise(acc)
    }
    cum.select(col("look"), col("nt").as("n_t"), col("nc").as("n_c"),
        zStat.as("z"), bCol.as("of_boundary"),
        (abs(zStat) > bCol).as("crossed"))
      .orderBy("look")
  }

  /** Hoover (Robin Hood) index of customer spend (q_hoover):
    * ½·Σ|yᵢ/S − 1/n| — the share of total spend that would have to move
    * between customers to equalize everyone, the most literally
    * interpretable member of the inequality family (Gini/Lorenz/
    * Atkinson siblings in this repo). Clears to the exact integer sum
    * Σ|n·yᵢ − S| (decimal(38,0)) over ONE aggregate; the ÷(2nS) is the
    * single IEEE step. */
  def hooverQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val spend = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey")).agg(sum(cents(col("o_totalprice"))).as("y")),
      "hoover_spend") // feeds the totals row and the deviation pass
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    spend.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"), max(col("s")).as("s"),
        sum(abs(col("n").cast(d38) * col("y").cast(d38) -
          col("s").cast(d38))).as("dev"))
      .select(col("n"), col("s").as("total_cents"),
        (col("dev").cast("string").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("s").cast("double")))
          .as("hoover"))
  }

  /** Palma ratio of customer spend (q_palma): top-10% share over
    * bottom-40% share — the inequality headline that moves when the
    * tails move (the Gini is most sensitive to the middle, where
    * little usually changes). Tail membership is an exact rank
    * selection under the unique (y, custkey) order
    * ([[graft.operators.Ranking.distributedGlobalRank]]); k₁₀ = ⌈n/10⌉
    * and k₄₀ = (4n) div 10 are exact integer cuts; one division. */
  def palmaQuery(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(sum(cents(col("o_totalprice"))).as("y"))
    val ranked = Ranking.distributedGlobalRank(spend,
      Seq(col("y").asc, col("o_custkey").asc), rankCol = "r", nCol = "nn",
      numParts = 8)
    ranked
      .agg(max(col("nn")).as("n"),
        sum(when(col("r") > col("nn") - expr("(nn + 9) div 10"), col("y"))
          .otherwise(0L)).as("top10_cents"),
        sum(when(col("r") <= expr("(4 * nn) div 10"), col("y"))
          .otherwise(0L)).as("bottom40_cents"))
      .select(col("n"), col("top10_cents"), col("bottom40_cents"),
        (col("top10_cents").cast("double") /
          col("bottom40_cents").cast("double")).as("palma"))
  }

  /** Lorenz asymmetry coefficient of customer spend (q_lorenz_asym):
    * S = F(μ) + L(μ) — where the Lorenz curve is parallel to the line
    * of equality. S < 1 means inequality is driven by many SMALL
    * customers, S > 1 by few LARGE ones — the same Gini can hide
    * either regime; this disambiguates (the shape read the q_gini /
    * q_lorenz pair can't give). F and L use exact integer mean
    * compares (n·y < S — no float mean) off one aggregate; two
    * divisions and one add close the tree. */
  def lorenzAsymQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val spend = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey")).agg(sum(cents(col("o_totalprice"))).as("y")),
      "lasym_spend") // feeds totals and the threshold pass
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    spend.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"), max(col("s")).as("s"),
        sum(when(col("n").cast(d38) * col("y").cast(d38) <
          col("s").cast(d38), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("n").cast(d38) * col("y").cast(d38) <
          col("s").cast(d38), col("y")).otherwise(0L)).as("s_below"))
      .select(col("n"), col("n_below"), col("s_below"),
        (col("n_below").cast("double") / col("n").cast("double") +
          col("s_below").cast("double") / col("s").cast("double"))
          .as("lorenz_asymmetry"))
  }

  /** Atkinson inequality index (ε = 1/2) of customer spend
    * (q_atkinson): 1 − EDE/μ, where EDE = (Σ√yᵢ/n)² is the
    * equally-distributed-equivalent spend — the welfare-weighted
    * inequality read next to the purely ordinal Gini/Lorenz pair
    * (Atkinson says how much TOTAL spend society could give up and be
    * as well off if spend were equal; ε picks the inequality
    * aversion).
    *
    * √y is the one non-arithmetic op and IEEE requires it correctly
    * rounded; its FLOOR-SCALED image sᵢ = ⌊√yᵢ·10³⌋ is an exact long,
    * so Σs accumulates exactly in any order (the float Σ√y would be
    * partitioning-dependent) and EDE/μ close as a fixed tree. ONE
    * map-side-combining pass over the per-customer aggregate. */
  def atkinsonQuery(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val agg = spend.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(floor(sqrt(col("y").cast("double")) * lit(1000.0)).cast("long"))
        .as("sr"))
    val nD = col("n").cast("double")
    val ede = (col("sr").cast("double") / (nD * lit(1000.0))) *
      (col("sr").cast("double") / (nD * lit(1000.0)))
    val mean = col("sy").cast("double") / nD
    agg.select(col("n"), mean.as("mean_cents"), ede.as("ede_cents"),
      (lit(1.0) - ede / mean).as("atkinson"))
  }

  /** Jarque–Bera normality test on order-line quantities
    * (q_jarque_bera): JB = n/6·(S² + (K−3)²/4) from sample skewness
    * S = m₃/(m₂·√m₂) and kurtosis K = m₄/m₂² — the moment-based "is
    * this column Gaussian?" gate run before any z-score/σ-band rule
    * (this repo's [[grubbsTest]], [[TimeSeries.bollingerBands]]) is
    * trusted.
    *
    * Scale shape: ONE map-side-combining aggregate produces the four
    * raw power sums Σq..Σq⁴ as exact longs (quantities are integers
    * 1..50, so Σq⁴ ≤ 6.25e6·rows — linear in the corpus, no overflow
    * cliff at any realistic scale); the central moments and JB are a
    * fixed IEEE tree over those five exact values. m₂^1.5 is written
    * m₂·√m₂ (sqrt is IEEE-correctly-rounded; pow is NOT portable). */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity").cast("long")
    val sums = Tables.lineitem(spark, dir)
      .select(q.as("q"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        sum(col("q") * col("q") * col("q")).as("s3"),
        sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = col("s3").cast("double") / nD -
      lit(3.0) * mu * (col("s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nD -
      lit(4.0) * mu * (col("s3").cast("double") / nD) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / nD) -
      lit(3.0) * mu * mu * mu * mu
    sums
      .withColumn("skewness", m3 / (m2 * sqrt(m2)))
      .withColumn("kurtosis", m4 / (m2 * m2))
      .select(col("n"),
        col("skewness"), col("kurtosis"),
        (col("n").cast("double") / lit(6.0) *
          (col("skewness") * col("skewness") +
            (col("kurtosis") - lit(3.0)) * (col("kurtosis") - lit(3.0)) /
              lit(4.0))).as("jb"))
  }

  /** Empirical-Bayes shrinkage of per-supplier return rates
    * (q_eb_shrinkage): fit a Beta(α,β) prior to the population of
    * supplier return rates by method of moments, then report each
    * supplier's posterior-mean rate (x+α)/(n+α+β) next to the raw x/n —
    * the standard small-sample ranking fix (a 2/3 supplier no longer
    * outranks a 300/1000 one). The league-table device under every
    * "top sellers by rate" report.
    *
    * Exactness: each supplier's rate is witnessed by the exact scaled
    * integer u = (10⁶·x) div n, so the prior's moment sums Σu, Σu² are
    * exact longs and m, v, α, β form one fixed IEEE tree computed ONCE
    * (broadcast single row); each output row adds only per-row fixed
    * arithmetic on its exact (x, n). One map-side-combining aggregate
    * over lineitem; the supplier frame never shuffles wide. */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      .withColumn("u", expr("(1000000 * x) div n"))
    val perM = graft.scale.Silver.scratch(per, "eb_per")
    val mom = perM.agg(count(lit(1)).as("g"),
      sum(col("u")).as("su"), sum(col("u") * col("u")).as("qu"))
    val gD = col("g").cast("double")
    val m = col("su").cast("double") / gD / lit(1e6)
    val v = (gD * col("qu").cast("double") -
      col("su").cast("double") * col("su").cast("double")) /
      (gD * (gD - lit(1.0))) / lit(1e12)
    val prior = mom
      .withColumn("m", m).withColumn("v", v)
      .withColumn("c", col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0))
      .select(col("g").as("n_groups"), col("m"), col("v"),
        (col("m") * col("c")).as("alpha"),
        ((lit(1.0) - col("m")) * col("c")).as("beta"))
    perM.crossJoin(broadcast(prior))
      .select(col("s_suppkey"), col("n"), col("x"),
        col("n_groups"), col("alpha"), col("beta"),
        (col("x").cast("double") / col("n").cast("double")).as("raw_rate"),
        ((col("x").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta")))
          .as("shrunk_rate"))
      .orderBy("s_suppkey")
  }
}
