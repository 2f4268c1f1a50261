package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Time-series operators over the daily/weekly aggregate grids — the
  * rolling-statistics layer of the reference's trend reports
  * (src/analytics/reports.py weekly summaries) extended with the standard
  * monitoring-chart primitives: cumulative adoption, rolling bands, EWMA.
  *
  * Scale shape shared by all three: ONE fact-stream shuffle collapses the
  * input to a calendar-bounded aggregate (days × groups rows — a frame
  * whose size is set by the calendar, not the corpus), and every window
  * after that runs on the aggregate. Rolling sums stay exact (cents in
  * long, squares in decimal(38,0)); the emitted statistic is a fixed tree
  * of single IEEE ops (+ sqrt, which IEEE 754 requires correctly rounded,
  * so it is portable across engines — unlike log/exp, which this repo
  * keeps off the oracle board). */
object TimeSeries {

  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Cumulative distinct customers by first-order day (q_cum_distinct):
    * the adoption curve. Distinct-so-far is NOT computed by re-counting a
    * growing set per day (quadratic) — each customer collapses to their
    * first-order day (one map-side-combining aggregate), daily first-
    * order counts then accumulate via [[Ranking.distributedCumSum]]. */
  def cumulativeDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
        .as("day"))
    val perDay = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
    Ranking.distributedCumSum(perDay, Seq(col("day").asc), Seq("n_new"))
      .select(col("day"), col("n_new"), col("cum_n_new").as("cum_customers"))
      .orderBy("day")
  }

  /** Bollinger bands (q_bollinger): 7-observation rolling mean ± 2σ of
    * daily revenue per order priority, emitted only for full windows.
    * Rolling Σx (long) and Σx² (decimal(38,0)) are exact; variance comes
    * from the integer identity 7·Σx² − (Σx)² before the one cast to
    * double, so the band arithmetic is mean = s/7, var = num/42,
    * sd = sqrt(var), band = mean ± 2·sd — five single IEEE ops. */
  def bollingerBands(spark: SparkSession, dir: String,
                     window: Int = 7): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("prio", "day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val w = Window.partitionBy(col("prio")).orderBy(col("day"))
      .rowsBetween(-(window - 1), 0)
    val nn = window.toLong
    val rolled = daily
      .withColumn("n_w", count(lit(1)).over(w))
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("q", sum(col("v").cast(d38) * col("v").cast(d38)).over(w))
      .filter(col("n_w") === nn)
    rolled
      .withColumn("mean_cents", col("s").cast("double") / lit(nn.toDouble))
      .withColumn("var_num",
        (lit(nn).cast(d38) * col("q") -
          col("s").cast(d38) * col("s").cast(d38)).cast("double"))
      .withColumn("sd_cents",
        sqrt(col("var_num") / lit((nn * (nn - 1)).toDouble)))
      .select(col("prio"), col("day"), col("v").as("day_cents"),
        col("mean_cents"), col("sd_cents"),
        (col("mean_cents") + lit(2.0) * col("sd_cents")).as("upper"),
        (col("mean_cents") - lit(2.0) * col("sd_cents")).as("lower"))
      .orderBy("prio", "day")
  }

  /** EWMA (q_ewma): exponentially weighted daily revenue per priority
    * with decay 1/2 over the last 10 observations. The weighted sum is
    * EXACT integer arithmetic — weight 2^(9−k) for lag k over present
    * observations, normalized by the sum of present weights — so the only
    * IEEE op is the final division. (A true infinite-horizon EWMA is a
    * float recurrence whose value depends on evaluation order; the
    * truncated integer form is what can be oracle-pinned, and at decay
    * 1/2 the dropped tail is < 2⁻¹⁰ of the weight mass.) */
  def ewmaRevenue(spark: SparkSession, dir: String,
                  horizon: Int = 10): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("prio", "day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val w = Window.partitionBy(col("prio")).orderBy(col("day"))
    val lags = (0 until horizon).map { k =>
      (if (k == 0) col("v") else lag(col("v"), k).over(w)).as(s"l$k")
    }
    val withLags = daily.select(col("prio") +: col("day") +: col("v") +: lags: _*)
    val weight: Int => Long = k => 1L << (horizon - 1 - k)
    val num = (0 until horizon).map { k =>
      coalesce(col(s"l$k"), lit(0L)) * lit(weight(k))
    }.reduceLeft(_ + _)
    val den = (0 until horizon).map { k =>
      when(col(s"l$k").isNotNull, lit(weight(k))).otherwise(lit(0L))
    }.reduceLeft(_ + _)
    withLags
      .select(col("prio"), col("day"), col("v").as("day_cents"),
        num.as("ewma_num"), den.as("ewma_den"))
      .withColumn("ewma_cents",
        col("ewma_num").cast("double") / col("ewma_den").cast("double"))
      .orderBy("prio", "day")
  }

  /** CUSUM changepoint (q_cusum): the day where cumulative daily revenue
    * deviates most from the uniform-rate line — argmax over i of
    * |n·cum_i − i·total|, the integer-scaled CUSUM statistic (scaling by
    * n·total keeps every comparison exact; the float mean-shift form
    * would make the argmax order-dependent). Rank i and cumulative both
    * come from ONE [[Ranking.distributedCumSum]] pass (a constant-1
    * column cumsums to the rank). Products go through decimal(38,0).
    * `rel` = S/(n·total) ∈ [0,1] is the single final division. */
  /** Ship-latency distribution per priority (q_ship_latency): days from
    * order placement to each line item's ship date — n, exact mean, an
    * exact median via the cumulative-count selection (the
    * [[graft.operators.Distribution.percentileBands]] machinery over the
    * (priority, days) aggregate — latency domain is calendar-bounded),
    * and max. The SLA question "does priority actually buy speed?". */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("prio"),
        // epoch-day subtraction, not datediff: calendar functions are
        // engine/timezone traps, epoch arithmetic is not (house idiom)
        (expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000") -
          expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
          .as("days"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("prio")).orderBy(col("days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("cum", sum(col("cnt")).over(w))
    val tot = per.groupBy("prio")
      .agg(sum(col("cnt")).as("n"),
        sum(col("days") * col("cnt")).as("day_sum"),
        max(col("days")).as("max_days"))
    cum.join(broadcast(tot), "prio")
      .groupBy("prio")
      .agg(first(col("n")).as("n"),
        first(col("day_sum")).as("day_sum"),
        first(col("max_days")).as("max_days"),
        min(when(col("cum") * 2 >= col("n"), col("days"))).as("median_days"))
      .withColumn("mean_days",
        col("day_sum").cast("double") / col("n").cast("double"))
      .select("prio", "n", "mean_days", "median_days", "max_days")
      .orderBy("prio")
  }

  /** Order-backlog curve (q_backlog): how many orders are open (placed,
    * not yet fully shipped) on each day the count CHANGES — the classic
    * interval-stabbing count as a delta encoding: +1 at placement, −1 at
    * the order's last ship day, cumulative via
    * [[Ranking.distributedCumSum]]. No day ever scans the order set; the
    * curve is exact at every emitted changepoint and constant between
    * them (stated encoding). */
  def backlogCurve(spark: SparkSession, dir: String): DataFrame = {
    val ends = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000"))
        .as("end_day"))
    val spans = Tables.orders(spark, dir)
      .join(ends, col("o_orderkey") === col("l_orderkey"))
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("start_day"), col("end_day"))
    val deltas = spans.select(col("start_day").as("day"), lit(1L).as("d"))
      .unionAll(spans.select(col("end_day").as("day"), lit(-1L).as("d")))
      .groupBy("day").agg(sum(col("d")).as("delta"))
    Ranking.distributedCumSum(deltas, Seq(col("day").asc), Seq("delta"))
      .select(col("day"), col("delta"), col("cum_delta").as("n_open"))
      .orderBy("day")
  }

  /** Wald–Wolfowitz runs test (q_runs): is the daily revenue's up/down
    * sequence random, or momentum/mean-reverting? Day-over-day signs come
    * from a rank self-join (consecutive ranks via
    * [[Ranking.distributedGlobalRank]] — the lag-equi-join idiom, no
    * global window); flat days are excluded per the classic test; runs
    * are sign changes + 1 counted by a second rank pass over the nonzero
    * signs. Counts are exact; E[R], Var[R], z form a fixed IEEE tree
    * (the only non-arithmetic op is the correctly-rounded sqrt). */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    // The daily frame is calendar-bounded (~thousands of rows at any
    // corpus size); 8 range partitions keep the two-pass rank's fixed
    // costs (boundary sampling, offset cross-join) proportionate.
    val ranked = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(daily, Seq(col("day").asc), rankCol = "i",
        numParts = 8),
      "runs_ranked")
    val signs = ranked.as("a")
      .join(ranked.as("b"), col("b.i") === col("a.i") + 1)
      .select(col("b.i").as("i"),
        when(col("b.v") > col("a.v"), 1L)
          .when(col("b.v") < col("a.v"), -1L).otherwise(0L).as("sign"))
    val nz = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(signs.filter(col("sign") =!= 0L),
        Seq(col("i").asc), rankCol = "j", numParts = 8),
      "runs_nz")
    val changes = nz.as("a")
      .join(nz.as("b"), col("b.j") === col("a.j") + 1)
      .agg(sum(when(col("a.sign") =!= col("b.sign"), 1L).otherwise(0L))
        .as("n_changes"))
    val counts = signs.agg(
      sum(when(col("sign") === 1L, 1L).otherwise(0L)).as("n_up"),
      sum(when(col("sign") === -1L, 1L).otherwise(0L)).as("n_down"),
      sum(when(col("sign") === 0L, 1L).otherwise(0L)).as("n_flat"))
    counts.crossJoin(changes)
      .withColumn("n_runs", col("n_changes") + 1L)
      .withColumn("expected_runs",
        lit(1.0) + (lit(2L) * col("n_up") * col("n_down")).cast("double") /
          (col("n_up") + col("n_down")).cast("double"))
      .withColumn("z",
        (col("n_runs").cast("double") - col("expected_runs")) /
          sqrt((lit(2L) * col("n_up") * col("n_down") *
              (lit(2L) * col("n_up") * col("n_down") -
                col("n_up") - col("n_down"))).cast("double") /
            ((col("n_up") + col("n_down")) * (col("n_up") + col("n_down")) *
              (col("n_up") + col("n_down") - 1L)).cast("double")))
      .select("n_up", "n_down", "n_flat", "n_runs", "expected_runs", "z")
  }

  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
      .withColumn("one", lit(1L))
    val cum = Ranking.distributedCumSum(daily, Seq(col("day").asc), Seq("v", "one"))
    val tot = daily.agg(sum(col("v")).as("total_cents"), count(lit(1)).as("n_days"))
    cum.crossJoin(tot)
      .select(col("day"), col("n_days"), col("total_cents"),
        abs(col("cum_v").cast(d38) * col("n_days").cast(d38) -
            col("cum_one").cast(d38) * col("total_cents").cast(d38)).as("s"))
      .agg(first(col("n_days")).as("n_days"),
        first(col("total_cents")).as("total_cents"),
        min(struct((-col("s")).as("ns"), col("day"))).as("w"))
      .select(col("n_days"), col("total_cents"),
        col("w.day").as("at_day"),
        (-col("w.ns")).cast("long").as("s_num"),
        ((-col("w.ns")).cast("long").cast("double") /
          (col("n_days") * col("total_cents")).cast("double")).as("rel"))
  }

  /** SAX symbolization of the daily revenue series (q_sax): Piecewise
    * Aggregate Approximation over `segments` equal calendar windows,
    * z-normalized against the whole series, then mapped onto the
    * standard 4-symbol Gaussian-breakpoint alphabet (±0.6745, 0 — the
    * quartiles of N(0,1)) — the index key time-series stores use for
    * similarity search over long series (Lin et al.'s SAX).
    *
    * Determinism: day → segment is pure integer arithmetic off the
    * broadcast (min, max) day bounds ((day−d0)·w div span — no window,
    * no data-dependent config); each segment's PAA mean and the global
    * μ/σ derive from exact cents sums (Σv, Σv² in decimal(38,0)); the
    * z-score and the three literal-pinned breakpoint comparisons are
    * the only IEEE steps. At 100 TB the daily frame stays
    * calendar-bounded — one fact shuffle, then constant-size work. */
  /** Reorder hazard table (q_hazard): discrete-time survival analysis
    * of "how many weeks until a customer's SECOND order" — per week w,
    * the customers still at risk (no second order yet, still observed),
    * the second orders landing in week w, the right-censored exits
    * (first-order-only customers whose observation window ends at w),
    * and the hazard events/at_risk. The Kaplan–Meier ingredient table,
    * kept exactly integer: event time = (d2−d1) div 7, censor time =
    * (corpus_end − d1) div 7, at_risk(w) = total − cum(w) + cnt(w) off
    * one [[Ranking.distributedCumSum]] pass over the calendar-bounded
    * week histogram. The per-week hazard ratio is the only IEEE op —
    * the cumulative KM product is intentionally NOT emitted (an ordered
    * float product has no engine-portable exact form).
    *
    * Scale shape: two keyed aggregations collapse the order stream to
    * one row per customer, then everything is week-histogram-sized. */
  def reorderHazard(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("ck"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
    val firsts = o.groupBy("ck").agg(min(col("day")).as("d1"))
    val seconds = o.join(firsts, "ck")
      .filter(col("day") > col("d1"))
      .groupBy("ck").agg(min(col("day")).as("d2"))
    val horizon = o.agg(max(col("day")).as("dmax"))
    val perCust = firsts
      .join(seconds, Seq("ck"), "left")
      .crossJoin(horizon)
      .select(
        when(col("d2").isNotNull, expr("(d2 - d1) div 7"))
          .otherwise(expr("(dmax - d1) div 7")).as("w"),
        col("d2").isNotNull.as("is_event"))
    val hist = perCust.groupBy("w")
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("n_censored"))
      .withColumn("cnt", col("n_events") + col("n_censored"))
    val tot = hist.agg(sum(col("cnt")).as("total"))
    Ranking.distributedCumSum(hist, Seq(col("w").asc), Seq("cnt"))
      .crossJoin(tot)
      .withColumn("n_at_risk",
        col("total") - col("cum_cnt") + col("cnt"))
      .select(col("w"), col("n_at_risk"), col("n_events"), col("n_censored"),
        (col("n_events").cast("double") / col("n_at_risk").cast("double"))
          .as("hazard"))
      .orderBy("w")
  }

  /** Seasonal-naive backtest (q_backtest): forecast each day's revenue
    * as the SAME WEEKDAY one week earlier and score the forecast per
    * order priority — MAE and signed bias, the honesty check a
    * forecasting pipeline runs before anything fancier. Absolute and
    * signed errors are exact cent integers summed in longs; the two
    * per-priority means are the only divisions. One fact shuffle to the
    * daily grid, one self-join on (prio, day−7). */
  def seasonalNaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("prio"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
            .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("prio", "day")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "backtest_daily") // both sides of the lag-7 join
    daily
      .join(daily.select(col("prio"), (col("day") + 7).as("day"),
          col("v").as("v_lag7")),
        Seq("prio", "day"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("v") - col("v_lag7"))).as("abs_err_cents"),
        sum(col("v") - col("v_lag7")).as("bias_cents"))
      .withColumn("mae_cents",
        col("abs_err_cents").cast("double") / col("n_days").cast("double"))
      .withColumn("mean_bias_cents",
        col("bias_cents").cast("double") / col("n_days").cast("double"))
      .orderBy("prio")
  }

  /** Additive weekday decomposition (q_decompose): the classical
    * decompose step — centered 7-day moving-average trend, and per
    * weekday the mean detrended residual ("how much does Monday deviate
    * from its surrounding week?") — computed entirely in ×7-scaled
    * integers so nothing accumulates in floats: trend·7 is the exact
    * 7-day rolling SUM, the scaled residual is 7v − S7 (exact long),
    * and each weekday's mean is one terminal division by n·7. The
    * rolling sum comes from a 7-row offset-spine join on the
    * calendar-bounded daily frame (no global window anywhere); weekday
    * is pure integer arithmetic ((day+4) mod 7, 0 = Sunday) so both
    * engines agree without any date-function semantics. */
  def weekdayDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("day")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "decomp_daily") // feeds the offset join on both sides
    val offsets = (-3 to 3).map(_.toLong).toDF("off")
    val s7 = daily.crossJoin(offsets)
      .select((col("day") + col("off")).as("center"), col("v"))
      .groupBy("center")
      .agg(count(lit(1)).as("w_n"), sum(col("v")).as("s7"))
      .filter(col("w_n") === 7L) // full windows only (trims 3 days each end)
    daily.join(s7, col("day") === col("center"))
      .select(graft.functions.EpochCal.dowFromEpochDay(col("day")).as("dow"),
        (col("v") * 7 - col("s7")).as("resid7"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("resid7")).as("sum_resid7"))
      .withColumn("seasonal_cents",
        col("sum_resid7").cast("double") /
          (col("n_days") * 7).cast("double"))
      .orderBy("dow")
  }

  /** z_{0.75} rounded to 4 decimals — the standard-normal quartile
    * cutting the 4-letter SAX alphabet into equiprobable bands (±0.6745
    * and 0). Shared verbatim with the oracle SQL; third-sourced in
    * ThirdSourceSpec against Acklam's inverse normal. */
  private[graft] val Z75_4dp = 0.6745

  def saxSymbols(spark: SparkSession, dir: String,
                 segments: Int = 16): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("day")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "sax_daily") // feeds the stats row AND the segment rollup
    val stats = daily.agg(
      min(col("day")).as("d0"), max(col("day")).as("d1"),
      count(lit(1)).as("n_days"),
      sum(col("v").cast(d38)).as("s"),
      sum(col("v").cast(d38) * col("v").cast(d38)).as("q"))
    val mu = col("s").cast("double") / col("n_days").cast("double")
    val sd = sqrt((col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double") /
        col("n_days").cast("double")) /
      (col("n_days").cast("double") - lit(1.0)))
    val paa = daily.crossJoin(stats)
      .withColumn("seg",
        expr(s"((day - d0) * $segments) div (d1 - d0 + 1)"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n_days_seg"),
        sum(col("v")).as("total_cents"),
        first(mu).as("mu"), first(sd).as("sd"))
      .withColumn("paa",
        col("total_cents").cast("double") / col("n_days_seg").cast("double"))
      .withColumn("z", (col("paa") - col("mu")) / col("sd"))
    paa.select(col("seg"), col("n_days_seg"), col("total_cents"), col("paa"),
        col("z"),
        when(col("z") < lit(-Z75_4dp), lit("a"))
          .when(col("z") < lit(0.0), lit("b"))
          .when(col("z") < lit(Z75_4dp), lit("c"))
          .otherwise(lit("d")).as("symbol"))
      .orderBy("seg")
  }

  /** Mann–Kendall trend test over the weekly revenue series
    * (q_mann_kendall): the NONPARAMETRIC "is there a monotone trend?"
    * companion to the least-squares slope (`q_trend`) and Theil–Sen
    * (`q_theil_sen`) — S = Σ_{i<j} sign(v_j − v_i) counts direction
    * only, so a single outlier week can't buy a trend.
    *
    * The fact stream collapses to the calendar-bounded weekly frame
    * (exact cents sums); the pair frame is weeks²-bounded — the
    * broadcast hint pins BroadcastNestedLoopJoin for the inequality
    * condition (the q_kendall device; never a CartesianProduct). Tie
    * correction Σ t(t−1)(2t+5) comes from one groupBy over the weekly
    * VALUES. Var[S]·18 stays exact integer; z = (S∓1)/√(var) is a
    * fixed tree with one sqrt (correctly rounded, portable). */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val weekly = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(
          expr("unix_millis(cast(o_orderdate as timestamp)) div 604800000")
            .as("week"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("week")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "mk_weekly") // both sides of the pair join + the tie counts
    val s = weekly.as("a")
      .join(broadcast(weekly.as("b")), col("a.week") < col("b.week"))
      .agg(
        sum(when(col("b.v") > col("a.v"), 1L)
          .when(col("b.v") < col("a.v"), -1L).otherwise(0L)).as("s"))
    val ties = weekly.groupBy("v").agg(count(lit(1)).as("t"))
      .agg(coalesce(
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)),
        lit(0L)).as("tie_term"))
    val n = weekly.agg(count(lit(1)).as("n_weeks"))
    n.crossJoin(s).crossJoin(ties)
      .withColumn("var18",
        col("n_weeks") * (col("n_weeks") - 1L) *
          (lit(2L) * col("n_weeks") + 5L) - col("tie_term"))
      .select(col("n_weeks"), col("s"), col("var18"),
        when(col("var18") === 0L, lit(0.0))
          .when(col("s") > 0L, (col("s") - 1L).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)))
          .when(col("s") < 0L, (col("s") + 1L).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)))
          .otherwise(lit(0.0)).as("z"))
  }

  /** Rescaled-range (R/S) table of the daily revenue series
    * (q_hurst_rs): for each window length w ∈ {8,16,32,64} days, the
    * mean R/S over all complete w-day windows — the raw ingredients of
    * the Hurst exponent (persistent series: R/S grows like w^H with
    * H > 0.5; the log-log slope is left to the caller because log is
    * not engine-portable, the classic device of this repo).
    *
    * Exactness: per window, the running deviation is kept as the
    * INTEGER devnᵢ = n·cumᵢ − i·S (cents · window length — zero at
    * i = n by construction, so the 0 anchor is in the max/min set);
    * R = (max devn − min devn)/n and σ = √(var_num/(n(n−1))) are one
    * division (+ one portable sqrt) each, and the cross-engine mean is
    * the Σ⌊(R/σ)·10³⌋ integer witness (the silhouette device). Windows
    * with zero variance are excluded (R/S undefined).
    *
    * Scale shape: the fact stream collapses once to the calendar-
    * bounded daily grid; ranks come from the two-pass distributed rank;
    * the only windows are partitioned by (w-day window id) — ≤ 64 rows
    * per partition at any corpus size. */
  def hurstRsQuery(spark: SparkSession, dir: String,
                   windows: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val ranked = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(daily, Seq(col("day").asc),
        rankCol = "r", nCol = "__n"),
      "hurst_days") // feeds one branch per window length
    val perW = windows.map { w =>
      val byWin = Window.partitionBy(col("win")).orderBy(col("r"))
      val g = ranked.withColumn("win", expr(s"(r - 1) div $w"))
        .withColumn("i", row_number().over(byWin).cast("long"))
        .withColumn("cv", sum(col("v")).over(
          byWin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = g.groupBy("win")
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("s"),
          sum(col("v").cast(d38) * col("v").cast(d38)).as("ss"))
      g.join(tot, "win")
        .filter(col("cnt") === w) // complete windows only
        .withColumn("devn", col("cnt").cast(d38) * col("cv").cast(d38) -
          col("i").cast(d38) * col("s").cast(d38))
        .groupBy("win")
        .agg(max(col("devn")).as("mx"), min(col("devn")).as("mn"),
          first(col("cnt")).as("cnt"), first(col("s")).as("s"),
          first(col("ss")).as("ss"))
        .withColumn("var_num", col("cnt").cast(d38) * col("ss") -
          col("s").cast(d38) * col("s").cast(d38))
        .filter(col("var_num") > 0)
        .withColumn("rng",
          (col("mx") - col("mn")).cast("double") / col("cnt").cast("double"))
        .withColumn("std", sqrt(col("var_num").cast("double") /
          (col("cnt") * (col("cnt") - 1L)).cast("double")))
        .agg(count(lit(1)).as("n_windows"),
          sum(floor((col("rng") / col("std")) * 1000d).cast("long"))
            .as("rs_witness"))
        .select(lit(w.toLong).as("w"), col("n_windows"), col("rs_witness"),
          (col("rs_witness").cast("double") /
            (lit(1000d) * col("n_windows").cast("double"))).as("mean_rs"))
    }
    perW.reduce(_ unionAll _).orderBy("w")
  }

  /** Local peaks of the daily-revenue series (q_peaks): days strictly
    * above the previous day and at least the next, ranked by prominence
    * v − max(neighbors) — the "what days spiked?" annotation a
    * monitoring chart draws, and the trigger list an alerting rule
    * would have fired on. Lag/lead run on the calendar-bounded daily
    * frame (the allowed window family); heights and prominences are
    * exact cents; the top-10 is a deterministic integer ordering. */
  def peaksQuery(spark: SparkSession, dir: String,
                 topK: Int = 10): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("v"))
    // calendar-bounded frame: lag/lead windows allowed
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("next", lead(col("v"), 1).over(w))
      .filter(col("prev").isNotNull && col("next").isNotNull &&
        col("v") > col("prev") && col("v") >= col("next"))
      .select(col("day"), col("v").as("v_cents"),
        (col("v") - greatest(col("prev"), col("next"))).as("prominence"))
      .orderBy(col("prominence").desc, col("day").asc)
      .limit(topK)
  }

  /** Poisson dispersion index of the daily order-arrival counts
    * (q_dispersion): D = variance/mean of per-day order counts — the
    * one-number answer to "do orders arrive like a Poisson process
    * (D≈1) or in bursts (D≫1)?", the arrival-process companion to
    * [[q_burstiness]]-style inter-event reads and the capacity-planning
    * assumption check. χ² = (n−1)·D against n−1 df is the classic test.
    *
    * Counts are integers, so BOTH sufficient statistics are exact:
    * D = (n·Σc² − (Σc)²) / ((n−1)·Σc) is one VARCHAR-routed division
    * and χ² one further multiply. One map-side-combining fact aggregate
    * to the calendar-bounded daily frame, then one-row arithmetic. */
  def dispersionQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sum_c"),
        sum(col("c").cast(d38) * col("c").cast(d38)).as("sum_c2"))
      .select(col("n_days"), col("sum_c"),
        ((col("n_days").cast(d38) * col("sum_c2") -
            col("sum_c").cast(d38) * col("sum_c").cast(d38))
          .cast("string").cast("double") /
         ((col("n_days") - 1L).cast(d38) * col("sum_c").cast(d38))
          .cast("string").cast("double")).as("dispersion"))
      .withColumn("chi2",
        (col("n_days") - 1L).cast("double") * col("dispersion"))
  }

  /** Single change-point detection on the daily-revenue series
    * (q_changepoint): the split day t that maximizes the between-segment
    * sum of squares — binary segmentation's first step, the batch
    * analogue of [[cusumChangepoint]]'s sequential alarm (CUSUM answers
    * "has it drifted as of now?", this answers "where did the level
    * shift?").
    *
    * score(t) ∝ (S_t·N − t·S)² / (t·(N−t)): prefix sums S_t are exact
    * cents via [[Ranking.distributedCumSum]]; the numerator is exact
    * decimal(38,0) routed to double through VARCHAR, the denominator is
    * an exact integer, so score is ONE division and the argmax is a
    * deterministic (score, day) top-1. One fact shuffle to the calendar-
    * bounded daily frame; the argmax is TakeOrderedAndProject. */
  def changepointQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("v"))
      .withColumn("one", lit(1L))
    val cum = Ranking.distributedCumSum(daily, Seq(col("day").asc),
      Seq("v", "one"))
    val tot = daily.agg(sum(col("v")).as("s"), count(lit(1)).as("nd"))
    cum.crossJoin(tot)
      .filter(col("cum_one") < col("nd")) // a split needs a right segment
      .select(col("day"), col("cum_one").as("n_left"),
        (col("nd") - col("cum_one")).as("n_right"), col("nd"),
        col("cum_v"), col("s"),
        (((col("cum_v").cast(d38) * col("nd").cast(d38) -
            col("cum_one").cast(d38) * col("s").cast(d38)) *
          (col("cum_v").cast(d38) * col("nd").cast(d38) -
            col("cum_one").cast(d38) * col("s").cast(d38)))
          .cast("string").cast("double") /
         (col("cum_one").cast(d38) * (col("nd") - col("cum_one")).cast(d38))
          .cast("string").cast("double")).as("score"))
      .orderBy(col("score").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("split_day"), col("n_left"), col("n_right"),
        (col("cum_v").cast("double") / col("n_left").cast("double"))
          .as("mean_left_cents"),
        ((col("s") - col("cum_v")).cast("double") /
          col("n_right").cast("double")).as("mean_right_cents"),
        col("score"))
  }

  /** Maximum drawdown of the mean-adjusted daily-revenue walk
    * (q_drawdown): P_t = Σ_{s≤t}(v_s − v̄) is the classic "cumulative
    * deviation from run-rate" path; the deepest peak-to-trough drop and
    * its dates are the monitoring chart's "worst slump" annotation.
    *
    * All path arithmetic is exact: P_t·N = N·C_t − t·S over cents
    * (decimal(38,0)), the running peak is a cummax on the calendar-
    * bounded daily frame (the allowed window family — its size is set by
    * the date domain, not the corpus), and the drawdown argmax is a
    * deterministic integer comparison. Emitted cents values are single
    * divisions by N. */
  def drawdownQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("v"))
      .withColumn("one", lit(1L))
    val cum = Ranking.distributedCumSum(daily, Seq(col("day").asc),
      Seq("v", "one"))
    val tot = daily.agg(sum(col("v")).as("s"), count(lit(1)).as("nd"))
    val path = cum.crossJoin(tot)
      .select(col("day"),
        (col("cum_v").cast(d38) * col("nd").cast(d38) -
         col("cum_one").cast(d38) * col("s").cast(d38)).as("pn"),
        col("nd"))
    // calendar-bounded frame: cummax + argmax run on |days| rows
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = path
      .withColumn("peak_pn", max(col("pn")).over(w))
      .withColumn("dd_num", col("peak_pn") - col("pn"))
    val worst = dd.orderBy(col("dd_num").desc, col("day").asc).limit(1)
      .select(col("day").as("trough_day"), col("peak_pn"),
        col("dd_num"), col("nd"))
    val pathSlim = path.select(col("day").as("p_day"), col("pn").as("p_pn"))
    worst.join(pathSlim, col("p_pn") === col("peak_pn"))
      .filter(col("p_day") <= col("trough_day"))
      .groupBy(col("trough_day"), col("dd_num"), col("nd"))
      .agg(min(col("p_day")).as("peak_day"))
      .select(col("peak_day"), col("trough_day"),
        col("dd_num").cast("string").cast("double").as("dd_num"),
        (col("dd_num").cast("string").cast("double") /
          col("nd").cast("double")).as("dd_cents"))
  }

  /** Risk-metric row over day-over-day revenue changes
    * (q_risk_metrics): Sharpe (μ/σ), Sortino (μ/downside-σ) and the
    * Kelly fraction (μ/σ²) of the daily delta series — the
    * distribution-shape summary that [[varEs]]'s tail quantiles don't
    * give (a series can have mild VaR but terrible Sortino).
    * Deltas come from the rank-equi-join lag ([[varEs]] spine); the
    * three ratios are fixed trees over the exact sums (n, Σd, Σd²,
    * Σmin(d,0)²) — Σd² through decimal(38,0), downside square sum
    * likewise; population σ (divide by n) keeps the tree shallow. */
  def riskMetrics(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val ranked = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(daily, Seq(col("day").asc), rankCol = "i",
        numParts = 8),
      "risk_ranked")
    val deltas = ranked.as("a")
      .join(ranked.as("b"), col("b.i") === col("a.i") + 1)
      .select((col("b.v") - col("a.v")).as("d"))
    val sums = deltas.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
      sum(col("d").cast(d38) * col("d").cast(d38)).as("sdd"),
      sum(when(col("d") < 0L, col("d").cast(d38) * col("d").cast(d38))
        .otherwise(lit(0).cast(d38))).as("sdn"))
    val nD = col("n").cast("double")
    val mu = col("sd").cast("double") / nD
    val varP = col("sdd").cast("string").cast("double") / nD - mu * mu
    val downDev = sqrt(col("sdn").cast("string").cast("double") / nD)
    sums.select(col("n").as("n_deltas"), mu.as("mean_delta_cents"),
      (mu / sqrt(varP)).as("sharpe"),
      (mu / downDev).as("sortino"),
      (mu / varP).as("kelly"))
  }

  /** Weekday-adjusted revenue anomalies (q_seasonal_anomaly): z-score
    * each day against ITS WEEKDAY's mean and σ and report the top-10
    * |z| — the seasonal-hybrid anomaly read: a quiet Sunday is normal
    * for Sundays, which a global z-score ([[graft.operators
    * .Distribution.grubbsTest]]) gets wrong on any weekly-cyclic
    * series. Per-weekday moments are exact (n-scaled residual
    * r = n_w·v − S_w, cleared variance); each day's z² is a fixed
    * IEEE tree over exact integers, so the top-10 selection (|z| desc,
    * day) is engine-stable. One aggregate + one broadcast-back join. */
  def seasonalAnomaly(spark: SparkSession, dir: String,
                      topK: Int = 10): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("v"))
        .withColumn("weekday", col("day") % 7L),
      "sanom_daily") // feeds the weekday moments and the per-day pass
    val moments = daily.groupBy("weekday")
      .agg(count(lit(1)).as("nw"), sum(col("v")).as("sw"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("qw"))
    val r = col("nw").cast(d38) * col("v").cast(d38) - col("sw").cast(d38)
    val varNum = (col("nw").cast(d38) * col("qw") -
      col("sw").cast(d38) * col("sw").cast(d38)).cast("string").cast("double")
    // z = (v − μ_w)/σ_w = r / √(n_w · varnum/(n_w−1)) with r n_w-scaled
    val z = r.cast("string").cast("double") /
      sqrt(col("nw").cast("double") * varNum /
        (col("nw") - 1L).cast("double"))
    daily.join(broadcast(moments), Seq("weekday"))
      .select(col("day"), col("weekday"), col("v").as("day_cents"),
        z.as("z"))
      .orderBy(abs(col("z")).desc, col("day").asc)
      .limit(topK)
  }

  /** X̄–R control chart over full weeks of daily revenue (q_xbar_r):
    * weekly subgroup means and ranges against the Shewhart limits
    * X̄̄ ± A₂·R̄ and [D₃·R̄, D₄·R̄], with the n=7 chart constants
    * (A₂ = 0.419, D₃ = 0.076, D₄ = 1.924) as pinned literals — the
    * variables-chart companion to [[pChartQuery]]'s attributes chart:
    * the R row catches dispersion blowups the mean row hides. Only
    * complete 7-day weeks qualify (fixed subgroup size is what makes
    * the constants valid). Subgroup sums/ranges are exact longs; the
    * center lines are single divisions of exact totals; every limit
    * is a fixed tree. */
  /** Shewhart x̄–R chart constants for subgroup size n = 7, the classic
    * 3-decimal table entries: A₂ = 3/(d₂√7), D₃ = 1−3d₃/d₂,
    * D₄ = 1+3d₃/d₂, where d₂ = E[range of 7 iid N(0,1)] ≈ 2.7044 and
    * d₃ = sd of that range ≈ 0.8332. Shared verbatim with the oracle
    * SQL; third-sourced in ThirdSourceSpec by numerically integrating
    * the normal-range moments (no chart table consulted). */
  private[graft] val XbarA2n7 = 0.419
  private[graft] val RChartD3n7 = 0.076
  private[graft] val RChartD4n7 = 1.924

  def xbarRQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val weeks = graft.scale.Silver.scratch(
      daily.groupBy(expr("day div 7").as("week"))
        .agg(count(lit(1)).as("n_days"), sum(col("v")).as("s"),
          (max(col("v")) - min(col("v"))).as("r"))
        .filter(col("n_days") === 7L),
      "xbar_weeks") // feeds the center-line totals and the chart rows
    val centers = weeks.agg(count(lit(1)).as("n_weeks"),
      sum(col("s")).as("ss"), sum(col("r")).as("sr"))
    val xbb = col("ss").cast("double") / (col("n_weeks") * 7L).cast("double")
    val rbar = col("sr").cast("double") / col("n_weeks").cast("double")
    weeks.crossJoin(centers)
      .select(col("week"),
        (col("s").cast("double") / lit(7.0)).as("xbar"),
        col("r").cast("double").as("r"),
        xbb.as("x_center"), rbar.as("r_center"),
        (xbb - lit(XbarA2n7) * rbar).as("x_lcl"),
        (xbb + lit(XbarA2n7) * rbar).as("x_ucl"),
        (lit(RChartD3n7) * rbar).as("r_lcl"),
        (lit(RChartD4n7) * rbar).as("r_ucl"))
      .withColumn("out_of_control",
        col("xbar") < col("x_lcl") || col("xbar") > col("x_ucl") ||
          col("r") < col("r_lcl") || col("r") > col("r_ucl"))
      .orderBy("week")
  }

  /** Log-rank test between BUILDING-segment and other customers'
    * lifetimes (q_logrank): does segment membership shift time-to-churn
    * — the hypothesis test on top of [[nelsonAalen]]'s descriptive
    * curve, censoring-correct where a naive mean-lifetime t-test is
    * biased. χ² = U²/V with U = Σ_t (d₁ₜ − dₜ·n₁ₜ/nₜ) and V the
    * hypergeometric variance sum.
    *
    * Both per-time terms are RATIONALS; each floor-scales to an exact
    * long ((10⁶·…) div nₜ for O−E; (10¹²·…) div (nₜ²(nₜ−1)) for V,
    * numerator through decimal(38,0)) so the event-time sums accumulate
    * exactly — no float ever crosses rows. Risk sets come from one
    * two-column [[Ranking.distributedCumSum]] over the duration grid. */
  def logrankQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val day = expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(day).as("first_day"), max(day).as("last_day"))
    val grp = Tables.customer(spark, dir)
      .select(col("c_custkey"), (col("c_mktsegment") === "BUILDING").as("g1"))
    val end = per.agg(max(col("last_day")).as("corpus_end"))
    val life = per.join(grp, col("o_custkey") === col("c_custkey"))
      .crossJoin(end)
      .select((col("last_day") - col("first_day")).as("t"), col("g1"),
        when(col("last_day") < col("corpus_end") - 90L, 1L).otherwise(0L)
          .as("event"))
    val grid = life.groupBy("t")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("cnt1"),
        sum(col("event")).as("d"),
        sum(when(col("g1"), col("event")).otherwise(0L)).as("d1"))
    val tot = grid.agg(sum(col("cnt")).as("n_total"),
      sum(col("cnt1")).as("n1_total"))
    val cum = Ranking.distributedCumSum(grid, Seq(col("t").asc),
      Seq("cnt", "cnt1"))
    val risk = cum.crossJoin(tot)
      .withColumn("n_t", col("n_total") - (col("cum_cnt") - col("cnt")))
      .withColumn("n1_t", col("n1_total") - (col("cum_cnt1") - col("cnt1")))
      .filter(col("d") > 0L)
      .withColumn("oe_w",
        lit(1000000L) * col("d1") - expr("(1000000 * d * n1_t) div n_t"))
      .withColumn("v_w",
        org.apache.spark.sql.functions.expr(
          "cast(cast(1000000000000 as decimal(38,0)) * d * n1_t * " +
            "(n_t - n1_t) * (n_t - d) as decimal(38,0)) div " +
            "(n_t * n_t * (n_t - 1))"))
    val sums = risk.agg(count(lit(1)).as("n_event_times"),
      sum(col("oe_w")).as("u_w"), sum(col("v_w")).as("v_sum"))
    sums.crossJoin(tot)
      .select(col("n_total"), col("n1_total"), col("n_event_times"),
        ((col("u_w").cast("double") / lit(1e6)) *
          (col("u_w").cast("double") / lit(1e6)) /
          (col("v_sum").cast("double") / lit(1e12))).as("chi2_logrank"))
  }

  /** p-chart over weekly return proportions (q_p_chart): each week's
    * returned-lineitem fraction against the Shewhart 3σ binomial
    * control limits p̄ ± 3·√(p̄(1−p̄)/n_w) — the SPC companion to
    * [[cusumChangepoint]] (CUSUM finds one sustained shift; the
    * p-chart flags every individually-out-of-control week). Emits the
    * full chart (every week with its limits and flag) — a chart whose
    * every point is in control is itself the finding.
    *
    * p̄ enters as exact totals (X/N), each week's limit is a fixed IEEE
    * tree over (x_w, n_w, X, N), and the flag compares n_w-scaled
    * values so no division feeds a comparison:
    * |x_w·N − n_w·X| > 3·N·√(n_w·p̄(1−p̄)) is evaluated in doubles from
    * exact integers on both engines identically. */
  def pChartQuery(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.lineitem(spark, dir)
      .groupBy(expr("unix_millis(cast(l_shipdate as timestamp)) div 604800000")
        .as("week"))
      .agg(count(lit(1)).as("n_w"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x_w"))
    val tot = weekly.agg(sum(col("n_w")).as("nn"), sum(col("x_w")).as("xx"))
    val pbar = col("xx").cast("double") / col("nn").cast("double")
    val rate = col("x_w").cast("double") / col("n_w").cast("double")
    val sigma = sqrt(pbar * (lit(1.0) - pbar) / col("n_w").cast("double"))
    weekly.crossJoin(tot)
      .select(col("week"), col("n_w"), col("x_w"), rate.as("p_week"),
        pbar.as("p_bar"),
        (pbar - lit(3.0) * sigma).as("lcl"),
        (pbar + lit(3.0) * sigma).as("ucl"))
      .withColumn("out_of_control",
        col("p_week") < col("lcl") || col("p_week") > col("ucl"))
      .orderBy("week")
  }

  /** Haar wavelet energy ladder of daily revenue (q_haar): unnormalized
    * integer Haar transform — per level, pairs (v₂ₖ, v₂ₖ₊₁) become sum
    * aₖ = v₂ₖ+v₂ₖ₊₁ and detail dₖ = v₂ₖ−v₂ₖ₊₁; detail ENERGY Σd² per
    * level localizes the series' variance by timescale (level 1 ≈
    * 2-day noise, level 5 ≈ monthly swings) — the multiresolution
    * companion to [[spectrumQuery]]'s single frequency bin, and fully
    * exact: sums/details stay longs, energies exact decimal(38,0),
    * one VARCHAR-routed cast per emitted row. Each level is one
    * map-side-combining groupBy on k div 2 over the rank-indexed
    * calendar-bounded frame (odd tails drop — documented truncation). */
  def haarQuery(spark: SparkSession, dir: String,
                levels: Int = 5): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    var cur = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(daily, Seq(col("day").asc), rankCol = "i",
          numParts = 8)
        .select((col("i") - 1L).as("k"), col("v")),
      "haar_l0")
    val out = (1 to levels).map { l =>
      val paired = cur
        .groupBy(expr("k div 2").as("k2"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("k") % 2L === 0L, col("v")).otherwise(0L)).as("ev"),
          sum(when(col("k") % 2L === 1L, col("v")).otherwise(0L)).as("ov"))
        .filter(col("cnt") === 2L)
      val pairedM = graft.scale.Silver.scratch(
        paired, s"haar_l$l") // feeds the energy row and the next level
      cur = pairedM.select(col("k2").as("k"), (col("ev") + col("ov")).as("v"))
      pairedM.agg(count(lit(1)).as("n_pairs"),
          sum((col("ev") - col("ov")).cast(d38) *
            (col("ev") - col("ov")).cast(d38)).as("e"))
        .select(lit(l.toLong).as("level"), col("n_pairs"),
          col("e").cast("string").cast("double").as("detail_energy"))
    }
    out.reduce(_ unionAll _).orderBy("level")
  }

  /** Matrix profile of the daily revenue series (q_matrix_profile):
    * for each 7-day window, the distance to its NEAREST non-trivial
    * neighbor window (exclusion zone |Δt| ≥ m/2) — the STAMP primitive
    * behind modern motif/discord mining: the top-10 HIGHEST profile
    * values reported here are the series' strongest discords (weeks
    * unlike any other week), the complement of [[bollingerBands]]'
    * pointwise outliers.
    *
    * The series is calendar-bounded, so the all-window pair space is
    * |days|² regardless of corpus size — bounded compute at ANY SF.
    * Windows come from rank-equi-joins (consecutive ranks k = 0..6,
    * the [[runsTest]] lag idiom); pair distances are exact
    * decimal(38,0) Σ(Δv)² over the 7 fixed column pairs; per-window
    * min carries a (d², other-day) struct for a deterministic
    * nearest-neighbor tiebreak. */
  def matrixProfile(spark: SparkSession, dir: String,
                    m: Int = 7, topK: Int = 10): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
    val ranked = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(daily, Seq(col("day").asc), rankCol = "i",
        numParts = 8),
      "mp_ranked") // feeds all m window-building joins
    var win = ranked.select(col("i"), col("day"), col("v").as("v0"))
    for (k <- 1 until m)
      win = win.join(ranked.select((col("i") - k).as("i"),
        col("v").as(s"v$k")), Seq("i"))
    val winM = graft.scale.Silver.scratch(win, "mp_windows")
    // The pair join below evaluates |days|² exact-decimal distances from
    // a calendar-sized input; fan the streamed side to compute width or
    // the whole quadratic phase runs in however few partitions AQE left
    // the window frame in (measured: ONE task, 7-27 s — §2.5 input-vs-
    // compute skew).
    val left = graft.scale.Par.fan(winM, col("i"))
      .select(col("i").as("ti") +: col("day").as("day") +:
      (0 until m).map(k => col(s"v$k").as(s"x$k")): _*)
    val right = winM.select(col("i").as("tj") +:
      (0 until m).map(k => col(s"v$k").as(s"y$k")): _*)
    val d2 = (0 until m).map(k =>
      (col(s"x$k") - col(s"y$k")).cast(d38) *
        (col(s"x$k") - col(s"y$k")).cast(d38)).reduceLeft(_ + _)
    val pairs = left.join(broadcast(right),
        abs(col("ti") - col("tj")) >= (m / 2).toLong)
      .select(col("ti"), col("day"), col("tj"), d2.as("d2"))
    pairs.groupBy(col("ti"), col("day"))
      .agg(min(struct(col("d2"), col("tj"))).as("nn"))
      .select(col("day"),
        col("nn.d2").cast("string").cast("double").as("mp_d2"),
        col("nn.tj").as("nn_rank"))
      .orderBy(col("mp_d2").desc, col("day").asc)
      .limit(topK)
  }

  /** Dynamic time warping between the URGENT and LOW weekday revenue
    * profiles (q_dtw): the elastic-alignment distance over the two
    * 7-point shapes — "do the priorities follow the same weekly
    * rhythm, possibly phase-shifted?" — next to the rigid L1 the same
    * row reports (DTW ≤ L1 always; a large gap means the shapes match
    * under shift). Because the profiles are FIXED 7-vectors, the full
    * 7×7 DP unrolls into 49 exact min-plus columns — a closed form
    * both engines replay bit-identically (a data-length DP would not
    * be declarative). Costs, mins and sums are all exact longs; no
    * division anywhere. One conditional aggregate over orders. */
  def dtwQuery(spark: SparkSession, dir: String): DataFrame = {
    val prof = Tables.orders(spark, dir)
      .select((expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        % 7L).as("wd"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .filter(col("prio").isin("1-URGENT", "5-LOW"))
    val aggs = (0 to 6).flatMap { k =>
      Seq(
        (sum(when(col("wd") === k.toLong && col("prio") === "1-URGENT",
          col("p")).otherwise(lit(0).cast("decimal(18,2)"))) * 100)
          .cast("long").as(s"a$k"),
        (sum(when(col("wd") === k.toLong && col("prio") === "5-LOW",
          col("p")).otherwise(lit(0).cast("decimal(18,2)"))) * 100)
          .cast("long").as(s"b$k"))
    }
    var df = prof.agg(aggs.head, aggs.tail: _*)
    for (i <- 0 to 6; j <- 0 to 6) {
      val c = abs(col(s"a$i") - col(s"b$j"))
      val d =
        if (i == 0 && j == 0) c
        else if (i == 0) c + col(s"d0_${j - 1}")
        else if (j == 0) c + col(s"d${i - 1}_0")
        else c + least(col(s"d${i - 1}_$j"), col(s"d${i}_${j - 1}"),
          col(s"d${i - 1}_${j - 1}"))
      df = df.withColumn(s"d${i}_$j", d)
    }
    val l1 = (0 to 6).map(k => abs(col(s"a$k") - col(s"b$k")))
      .reduceLeft(_ + _)
    df.select(col("d6_6").as("dtw_cents"), l1.as("l1_cents"))
  }

  /** One-sweep Tukey median polish of the weekday × priority revenue
    * grid (q_median_polish): cell = median daily revenue per
    * (weekday, priority); subtract row (weekday) medians, then column
    * (priority) medians; report effects + residuals — the ROBUST
    * two-way decomposition ([[weekdayDecomposition]] is the mean
    * version; one outlier day drags its weekday mean, medians shrug).
    * A single sweep (not iterated to convergence) keeps the result a
    * deterministic closed form of the grid.
    *
    * Exactness: cell medians are rank selections (lower median,
    * (n+1) div 2 under the unique (v, day) order) inside 35
    * calendar-bounded partitions; row/column medians are exact
    * element selections from sorted ≤7-element arrays; every value
    * stays a long — no division anywhere. */
  def medianPolish(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
      .withColumn("weekday", col("day") % 7L)
    val w = Window.partitionBy(col("weekday"), col("prio"))
    val cells = daily
      .withColumn("r", row_number().over(
        w.orderBy(col("v").asc, col("day").asc)))
      .withColumn("nn", count(lit(1)).over(w))
      .filter(col("r") === expr("(nn + 1) div 2"))
      .select(col("weekday"), col("prio"), col("v").as("cell_median"))
    val cellsM = graft.scale.Silver.scratch(cells, "polish_cells")
    val rowEff = cellsM.groupBy("weekday")
      .agg(element_at(array_sort(collect_list(col("cell_median"))), 3)
        .as("row_effect"))
    val centered = cellsM.join(broadcast(rowEff), Seq("weekday"))
      .withColumn("c2", col("cell_median") - col("row_effect"))
    val colEff = centered.groupBy("prio")
      .agg(element_at(array_sort(collect_list(col("c2"))), 4)
        .as("col_effect"))
    centered.join(broadcast(colEff), Seq("prio"))
      .select(col("weekday"), col("prio"), col("cell_median"),
        col("row_effect"), col("col_effect"),
        (col("c2") - col("col_effect")).as("residual"))
      .orderBy("weekday", "prio")
  }

  /** Nelson–Aalen cumulative hazard of customer lifetime
    * (q_nelson_aalen): H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over observed churn
    * durations (first→last order span; customers still active in the
    * final 90 corpus days are right-CENSORED — they leave risk sets but
    * never count as deaths). The survival-analysis entry point: unlike
    * the raw churn-rate tables, NA handles censoring correctly, and
    * unlike Kaplan–Meier it is a SUM, not a product — each hazard term
    * floor-scales to the exact long (10⁹·d) div n, so the cumulative
    * sum accumulates exactly in any order (a float KM product would be
    * partition-order-dependent AND not oracle-pinnable).
    *
    * Shape: one per-customer aggregate, one per-duration count grid
    * (calendar-bounded), risk sets and the hazard cumsum via TWO
    * [[Ranking.distributedCumSum]] passes — no corpus-wide window. */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
        .as("first_day"),
        max(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000"))
          .as("last_day"))
    val end = per.agg(max(col("last_day")).as("corpus_end"))
    val life = per.crossJoin(end)
      .select((col("last_day") - col("first_day")).as("t"),
        when(col("last_day") < col("corpus_end") - 90L, 1L).otherwise(0L)
          .as("event"))
    val grid = life.groupBy("t")
      .agg(count(lit(1)).as("cnt"), sum(col("event")).as("d"))
    val tot = grid.agg(sum(col("cnt")).as("n_total"))
    val cum1 = Ranking.distributedCumSum(grid, Seq(col("t").asc), Seq("cnt"))
    val withRisk = graft.scale.Silver.scratch(
      cum1.crossJoin(tot)
        .withColumn("n_risk", col("n_total") - (col("cum_cnt") - col("cnt")))
        .withColumn("h", expr("(1000000000 * d) div n_risk")),
      "na_grid") // feeds the second cumsum and the output filter
    Ranking.distributedCumSum(withRisk, Seq(col("t").asc), Seq("h"))
      .filter(col("d") > 0L)
      .select(col("t"), col("n_risk"), col("d"),
        (col("cum_h").cast("double") / lit(1e9)).as("na_cum_hazard"))
      .orderBy("t")
  }

  /** Weekly-frequency spectral power of daily revenue (q_spectrum):
    * the single-bin DFT at period 7 — what SHARE of the series'
    * variance beats at the weekly cycle? The frequency-domain
    * companion to [[weekdayDecomposition]] (which shows the shape;
    * this scores its strength): share = (|Σr_t·e^{−2πit/7}|²/10¹²) /
    * (n·Σr²), Parseval-normalized to [0,1].
    *
    * Portability: cos/sin are NOT correctly-rounded-guaranteed across
    * engines, so the 7 twiddle factors enter as PINNED floor-scaled
    * integer literals (⌊cos(2πk/7)·10⁶⌋ — the NDCG log₂-table device),
    * residuals are the n-scaled exact r_t = n·v_t − S, and both DFT
    * sums accumulate as exact decimal(38,0) in ANY partition order.
    * Three divisions close the tree. One aggregate over the
    * calendar-bounded daily frame. */
  def spectrumQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cosW = Seq(1000000L, 623489L, -222521L, -900969L, -900969L,
      -222521L, 623489L)
    val sinW = Seq(0L, 781831L, 974927L, 433883L, -433884L, -974928L,
      -781832L)
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val tot = daily.agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    def tw(w: Seq[Long]) = element_at(
      array(w.map(lit): _*), (col("day") % 7).cast("int") + 1).cast(d38)
    val sums = daily.crossJoin(tot)
      .withColumn("r", col("n").cast(d38) * col("v").cast(d38) -
        col("s").cast(d38))
      .agg(max(col("n")).as("n_days"),
        sum(col("r") * tw(cosW)).as("a"),
        sum(col("r") * tw(sinW)).as("b"),
        sum(col("r") * col("r")).as("rr"))
    val aD = col("a").cast("string").cast("double")
    val bD = col("b").cast("string").cast("double")
    sums.select(col("n_days"),
      ((aD * aD + bD * bD) /
        (lit(1e12) * col("n_days").cast("double") *
          col("rr").cast("string").cast("double"))).as("weekly_share"))
  }

  /** Historical VaR and expected shortfall of day-over-day revenue
    * changes (q_var_es): the 5% left-tail cutoff (VaR) and the exact
    * mean of the tail beyond it (ES/CVaR) — the downside-risk pair under
    * [[TimeSeries]]'s drawdown/bollinger monitoring ("how bad is a bad
    * day, and how bad are the bad days on average?").
    *
    * Deltas come from the rank-equi-join lag ([[runsTest]] idiom, no
    * global window); the k-th smallest delta (k = ⌈n/20⌉, exact integer
    * ceil) is selected by a second [[Ranking.distributedGlobalRank]]
    * pass with (delta, day) tiebreak — selection and tail sum are exact
    * longs; the tail mean is the one division. */
  def varEs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val ranked = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(daily, Seq(col("day").asc), rankCol = "i",
        numParts = 8),
      "var_ranked")
    val deltas = ranked.as("a")
      .join(ranked.as("b"), col("b.i") === col("a.i") + 1)
      .select(col("b.day").as("day"), (col("b.v") - col("a.v")).as("delta"))
    val byDelta = graft.scale.Silver.scratch(
      Ranking.distributedGlobalRank(deltas,
        Seq(col("delta").asc, col("day").asc), rankCol = "r", numParts = 8),
      "var_bydelta")
    // r15: the delta count already rides distributedGlobalRank's nCol —
    // the separate count aggregate + crossJoin re-read the scratch for a
    // number every row carries (guide §2.4).
    byDelta
      .withColumn("n_deltas", col("n"))
      .withColumn("k", expr("(n_deltas + 19) div 20"))
      .filter(col("r") <= col("k"))
      .groupBy(col("n_deltas"), col("k"))
      .agg(max(col("delta")).as("var_cents"),
        sum(col("delta")).as("tail_sum"))
      .select(col("n_deltas"), col("k"), col("var_cents"),
        (col("tail_sum").cast("double") / col("k").cast("double"))
          .as("es_cents"))
  }

  /** Durbin–Watson autocorrelation statistic of the daily revenue
    * residual series, per order priority (q_durbin_watson): DW =
    * Σ(e_t − e_{t−1})² / Σe_t² ≈ 2(1 − ρ₁) — the classic "are the
    * residuals serially correlated?" diagnostic under every trend
    * report (reference analogue: src/analytics/reports.py streak/trend
    * summaries assume independent daily noise; DW is the check).
    *
    * Exactness: residuals are mean-centered daily cents; the float mean
    * would poison every term, so e_t is SCALED by n — r_t = n·v_t − S
    * (exact decimal(38,0) from exact long aggregates) — and the n²
    * factors cancel in the ratio, so num and den stay exact integers
    * until the ONE terminal division (decimal→string→double on both
    * engines). Lag-1 runs inside a per-priority window over the
    * calendar-bounded daily frame (5 partitions × |days| rows — the
    * [[ewmaRevenue]] shape, no global window). */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("prio", "day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val tot = daily.groupBy("prio")
      .agg(sum(col("v")).cast(d38).as("s"), count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("prio")).orderBy(col("day"))
    daily.join(broadcast(tot), "prio")
      .withColumn("r", col("nd").cast(d38) * col("v").cast(d38) - col("s"))
      .withColumn("r_prev", lag(col("r"), 1).over(w))
      .groupBy("prio")
      .agg(max(col("nd")).as("n_days"),
        sum(when(col("r_prev").isNotNull,
          (col("r") - col("r_prev")) * (col("r") - col("r_prev")))
          .otherwise(lit(0).cast(d38))).as("num"),
        sum(col("r") * col("r")).as("den"))
      .select(col("prio"), col("n_days"),
        (col("num").cast("string").cast("double") /
          col("den").cast("string").cast("double")).as("dw"))
      .orderBy("prio")
  }

  /** 14-observation RSI of daily revenue per order priority (q_rsi):
    * RSI = 100·ΣG/(ΣG+ΣL) over the trailing 14 day-over-day changes,
    * where G/L are the positive/negative parts of Δv — the standard
    * momentum oscillator (the Cutler simple-average form; Wilder's
    * smoothed form is an infinite float recurrence and NOT oracle-
    * pinnable — same determinism argument as [[ewmaRevenue]]).
    *
    * Deltas, gains, and losses are exact longs; the trailing sums are
    * exact rolling-window longs ([[bollingerBands]] shape: per-priority
    * calendar-bounded frame, full windows only); RSI is the single
    * terminal division. ΣG+ΣL = 0 (14 flat days) would be 0/0 — emitted
    * as the neutral 50 by convention. */
  def rsi(spark: SparkSession, dir: String, period: Int = 14): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("prio", "day")
      .agg((sum(col("p")) * 100).cast("long").as("v"))
    val wl = Window.partitionBy(col("prio")).orderBy(col("day"))
    val wr = Window.partitionBy(col("prio")).orderBy(col("day"))
      .rowsBetween(-(period - 1), 0)
    daily
      .withColumn("delta", col("v") - lag(col("v"), 1).over(wl))
      .filter(col("delta").isNotNull)
      .withColumn("n_w", count(lit(1)).over(wr))
      .withColumn("sum_gain",
        sum(greatest(col("delta"), lit(0L))).over(wr))
      .withColumn("sum_loss",
        sum(greatest(-col("delta"), lit(0L))).over(wr))
      .filter(col("n_w") === period.toLong)
      .select(col("prio"), col("day"), col("v").as("day_cents"),
        col("sum_gain"), col("sum_loss"),
        when(col("sum_gain") + col("sum_loss") === 0L, lit(50.0))
          .otherwise(lit(100.0) * col("sum_gain").cast("double") /
            (col("sum_gain") + col("sum_loss")).cast("double")).as("rsi"))
      .orderBy("prio", "day")
  }
}
