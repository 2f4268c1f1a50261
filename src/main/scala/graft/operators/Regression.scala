package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Grouped ordinary-least-squares / correlation aggregates — the
  * "trend over a stat" analytics the reference computes client-side over
  * ranked query output (`database.py:1253-1306` feeds matplotlib trend
  * fits in the analysis notebooks; here it's one distributed aggregation).
  *
  * Portability design (the reason this is NOT `regr_slope`/`corr`
  * built-ins on either engine): slope, intercept and Pearson r are
  * DERIVED from exact integer moment sums — Σx, Σy, Σxy, Σx², Σy² over
  * integer-scaled inputs accumulate in decimal(38,0) (no rounding, no
  * accumulation-order sensitivity, map-side combinable), and the only
  * floating-point steps are the final handful of IEEE ops on exactly-cast
  * doubles, the same sequence both engines evaluate. Spark's `corr` and
  * DuckDB's `regr_slope` use running double updates whose results differ
  * in the last ulps between engines (and between partition counts!) —
  * moment sums are the deterministic, scale-out-stable formulation: at
  * 100 TB the five sums are one map-side-combining shuffle of 5 longs per
  * group, and the derivation costs nothing.
  */
object Regression {

  /** Per-group OLS of y on x plus Pearson r, from exact decimal moments.
    * `x`/`y` must be integer-valued long columns (pre-scale decimals:
    * e.g. cents). Emits n, slope, intercept, corr. */
  def groupedOls(df: DataFrame, keys: Seq[String], x: Column, y: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    // Operands are cast to decimal BEFORE any product: x*y on Long wraps
    // silently past 2^63 (e.g. |y| > 3e9 cents squared), poisoning the
    // "exact" moments. Decimal products stay exact and, under ANSI mode,
    // fail loudly if a group's true sum ever exceeds 38 digits.
    val moments = df
      .select(keys.map(col) :+ x.cast(d38).as("x") :+ y.cast(d38).as("y"): _*)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val n38 = col("n").cast(d38)
    val num = (n38 * col("sxy") - col("sx") * col("sy")).cast("double")
    val denX = (n38 * col("sxx") - col("sx") * col("sx")).cast("double")
    val denY = (n38 * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / denX
    moments.select(
      keys.map(col) ++ Seq(
        col("n"),
        slope.as("slope"),
        // slope·Σx round-trips through VARCHAR before the subtraction:
        // a bare `a − b·c` is FMA-contractible on the C++ oracle engine
        // (the q_ndcg/q_polyfit 1-ulp class); the round-trip is exact on
        // an already-rounded double, so it only pins the rounding point.
        ((col("sy").cast("double") -
          (slope * col("sx").cast("double")).cast("string").cast("double"))
          / col("n").cast("double")).as("intercept"),
        (num / sqrt(denX * denY)).as("corr")): _*)
  }

  /** Grouped skewness and excess kurtosis from exact central-moment
    * identities — same portability design as [[groupedOls]] (Spark's
    * `skewness`/`kurtosis` built-ins use running double updates that are
    * partition-order sensitive and engine-divergent):
    *
    *   A2 = n·Σx² − (Σx)²          = n²  · Σ(x−μ)²
    *   A3 = n²·Σx³ − 3n·Σx·Σx² + 2(Σx)³   = n³·... (scaled Σ(x−μ)³·n²)
    *   A4 = n³·Σx⁴ − 4n²·Σx·Σx³ + 6n·(Σx)²·Σx² − 3(Σx)⁴
    *
    * all exact integers; g1 = A3 / (A2·√A2), g2 = A4/A2² − 3 — the only
    * float ops are one sqrt, two mults, one divide on exactly-cast
    * doubles (√ and ·/÷ are IEEE-correctly-rounded; `pow(x,1.5)` is NOT,
    * which is why the 3/2 power is spelled A2·√A2). */
  def groupedMoments(df: DataFrame, keys: Seq[String], x: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    // Same operand-first decimal cast as groupedOls: x⁴ on Long wraps
    // for |x| > ~55k — the products must be computed in decimal.
    val m = df.select(keys.map(col) :+ x.cast(d38).as("x"): _*)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
    val n38 = col("n").cast(d38)
    val a2 = (n38 * col("s2") - col("s1") * col("s1")).cast("double")
    val a3 = (n38 * n38 * col("s3") - lit(3).cast(d38) * n38 * col("s1") * col("s2")
      + lit(2).cast(d38) * col("s1") * col("s1") * col("s1")).cast("double")
    val a4 = (n38 * n38 * n38 * col("s4")
      - lit(4).cast(d38) * n38 * n38 * col("s1") * col("s3")
      + lit(6).cast(d38) * n38 * col("s1") * col("s1") * col("s2")
      - lit(3).cast(d38) * col("s1") * col("s1") * col("s1") * col("s1")).cast("double")
    m.select(keys.map(col) ++ Seq(
      col("n"),
      (col("s1").cast("double") / col("n").cast("double")).as("mean"),
      (a3 / (a2 * sqrt(a2))).as("skew"),
      (a4 / (a2 * a2) - lit(3.0)).as("kurt")): _*)
  }

  /** q_moments: quantity distribution shape per (returnflag, linestatus).
    * Oracle recomputes the same exact moment identities in HUGEINT. */
  def momentsQuery(spark: SparkSession, dir: String): DataFrame =
    groupedMoments(
      Tables.lineitem(spark, dir).select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_quantity").cast("long").as("x")),
      Seq("rf", "ls"), col("x"))
      .orderBy("rf", "ls")

  /** q_regression: price-on-quantity OLS per (returnflag, linestatus) over
    * lineitem, prices scaled to exact cents. The oracle recomputes the
    * same moments in DuckDB HUGEINT and derives with the same final IEEE
    * sequence — int128→double routed through VARCHAR (DuckDB's direct
    * cast mis-rounds above 2^53). */
  def regressionQuery(spark: SparkSession, dir: String): DataFrame =
    groupedOls(
      Tables.lineitem(spark, dir).select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y")),
      Seq("rf", "ls"), col("x"), col("y"))
      .orderBy("rf", "ls")

  /** q_autocorr: lag-1 autocorrelation of the daily revenue series per
    * order priority — "does yesterday predict today" as a join-then-OLS:
    * build the exact daily series (cents, decimal-summed), pair day t
    * with day t+1 by an EQUI-join on (priority, day+1) — no window, no
    * sort, co-partitioned on the same key — and push the pairs through
    * [[groupedOls]], whose `corr` on (v_t, v_{t+1}) IS the lag-1
    * autocorrelation. Missing days simply produce no pair (the join is
    * the gap policy, stated rather than implicit).
    *
    * Scale shape: one keyed aggregate to the (priority, day) series —
    * thousands of rows at any corpus size — then a self-equi-join on
    * that series and the exact-moment OLS. Nothing corpus-sized passes
    * a window. */
  def autocorrQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("prio"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
            .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("prio", "day")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "autocorr_daily") // feeds both sides of the lag join
    val pairs = daily
      .join(daily.select(col("prio"), (col("day") - 1).as("day"),
          col("v").as("v_next")),
        Seq("prio", "day"))
    groupedOls(pairs, Seq("prio"), col("v"), col("v_next"))
      .orderBy("prio")
  }

  /** Quadratic trend fit (q_polyfit): least-squares y = a·x² + b·x + c
    * over the daily revenue series, solved by Cramer's rule on the
    * 3×3 normal equations. The x-side 2×2 minors and the denominator
    * determinant are EXACT decimal(38,0) (pure polynomials of the
    * calendar-bounded day index — ≤ ~10³⁴ even for a 30-year span),
    * and the y-moments (Σy, Σxy, Σx²y in cents) are exact decimal
    * sums; the numerator cofactor expansions, whose terms mix a
    * y-moment into an x-minor product and therefore GROW WITH CORPUS
    * MASS (the 10×-corpus sweep measured 1.75·10³⁸ — past both
    * decimal(38,0) and HUGEINT), close through a FIXED IEEE double
    * tree: each exact operand routes decimal→VARCHAR→double once,
    * then `t0·A − t1·B + t2·C` in that association order on both
    * engines. Deterministic at ANY corpus magnitude (double range),
    * and the only inexact steps are the final correctly-rounded
    * double ops. */
  def polyfitQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg((sum(col("p")) * 100).cast("long").as("y"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val m = daily.crossJoin(d0)
      .select((col("day") - col("d0")).cast(d38).as("x"),
        col("y").cast(d38).as("y"))
      .agg(count(lit(1)).cast(d38).as("s0"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"),
        sum(col("y")).as("t0"),
        sum(col("x") * col("y")).as("t1"),
        sum(col("x") * col("x") * col("y")).as("t2"))
    // exact x-side 2x2 minors (calendar-bounded decimals) + exact
    // y-moments, closed by the FIXED double cofactor tree (identical
    // expression shape in the DuckDB oracle). Each t·a PRODUCT routes
    // through its own VARCHAR round-trip before the ± chain: a bare
    // `p ± q·r` invites the C++ engine's FMA contraction (one fused
    // mul-add and the bits diverge — observed on q_ndcg's discount
    // chain), and "the chain is short" is NOT a contraction-safety
    // argument. The round-trip is exact on an already-rounded double
    // (shortest-repr format on both engines), so it changes no value —
    // it only pins the rounding point where both engines must agree.
    def dd(c: Column): Column = c.cast("string").cast("double")
    def ddp(a: Column, b: Column): Column =
      (dd(a) * dd(b)).cast("string").cast("double")
    val a1 = col("s2") * col("s4") - col("s3") * col("s3")
    val a2 = col("s1") * col("s4") - col("s2") * col("s3")
    val a3 = col("s1") * col("s3") - col("s2") * col("s2")
    val a4 = col("s0") * col("s4") - col("s2") * col("s2")
    val a5 = col("s0") * col("s3") - col("s1") * col("s2")
    val a6 = col("s0") * col("s2") - col("s1") * col("s1")
    val den = dd(col("s0") * a1 - col("s1") * a2 + col("s2") * a3)
    val numC = ddp(col("t0"), a1) - ddp(col("t1"), a2) + ddp(col("t2"), a3)
    val numB = ddp(col("t1"), a4) - ddp(col("t0"), a2) - ddp(col("t2"), a5)
    val numA = ddp(col("t0"), a3) - ddp(col("t1"), a5) + ddp(col("t2"), a6)
    m.select(col("s0").cast("long").as("n_days"),
      (numA / den).as("a_quad"),
      (numB / den).as("b_lin"),
      (numC / den).as("c_const"))
  }

  /** Theil–Sen robust trend (q_theil_sen): the median of all pairwise
    * slopes of the daily revenue series, plus the median-residual
    * intercept — the slope estimator a single outlier day cannot drag.
    * The pair frame is calendar²-bounded (never corpus-sized); each
    * slope is ONE division of exact cent/day integers so both engines
    * compute identical doubles; medians are rank selections (lower
    * median at ⌈n/2⌉) under unique (value, i, j) orders via
    * [[Ranking.distributedGlobalRank]] — selection, not float
    * aggregation. The inequality self-join is broadcast-pinned (BNLJ,
    * not CartesianProduct). */
  def theilSenQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("day")
        .agg((sum(col("p")) * 100).cast("long").as("y")),
      "theil_daily") // both sides of the pair join + the intercept pass
    // calendar²-bounded pair explosion from a calendar-sized input: fan
    // the streamed side to compute width (the q_matrix_profile device —
    // AQE leaves the daily aggregate in 1-2 partitions and the whole
    // |days|²/2 slope evaluation runs there otherwise)
    val pairs = graft.scale.Par.fan(daily, col("day")).as("a")
      .join(broadcast(daily.as("b")), col("a.day") < col("b.day"))
      .select(col("a.day").as("di"), col("b.day").as("dj"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val ranked = Ranking.distributedGlobalRank(pairs,
      Seq(col("slope").asc, col("di").asc, col("dj").asc),
      rankCol = "r", nCol = "np")
    val med = ranked.filter(col("r") * 2 === col("np") ||
        (col("r") * 2 === col("np") + 1))
      .select(col("slope").as("med_slope"), col("np").as("n_pairs"))
    val resid = daily.crossJoin(broadcast(med))
      .select(col("day"),
        (col("y").cast("double") -
          col("med_slope") * col("day").cast("double")).as("b0"),
        col("med_slope"), col("n_pairs"))
    Ranking.distributedGlobalRank(resid, Seq(col("b0").asc, col("day").asc),
        rankCol = "r", nCol = "nd")
      .filter(col("r") * 2 === col("nd") || (col("r") * 2 === col("nd") + 1))
      .select(col("nd").as("n_days"), col("n_pairs"),
        col("med_slope").as("slope_cents_per_day"),
        col("b0").as("intercept_cents"))
  }

  /** Pairwise Pearson correlation matrix (q_corr_matrix): the
    * feature-screening triangle over lineitem's three numeric measures
    * (quantity, extendedprice, discount) — "which measures move
    * together?" before any modeling. ONE fact pass accumulates every
    * moment the 3×3 triangle needs (n + three Σx + three Σx² + three
    * Σxy, integer-scaled into decimal(38,0), operands cast before each
    * product per [[groupedOls]]); each correlation is then the same
    * fixed num/√(dx·dy) tree, and `stack` unpivots the single moment
    * row into the 3 pair rows. Scale shape: the whole matrix costs one
    * map-side-combining reduction of 10 numbers — no per-pair passes,
    * no shuffle of the fact stream. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").cast(d38).as("x1"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").cast(d38).as("x2"),
      (col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long").cast(d38).as("x3"))
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("x3")).as("s3"),
      sum(col("x1") * col("x1")).as("q11"),
      sum(col("x2") * col("x2")).as("q22"),
      sum(col("x3") * col("x3")).as("q33"),
      sum(col("x1") * col("x2")).as("q12"),
      sum(col("x1") * col("x3")).as("q13"),
      sum(col("x2") * col("x3")).as("q23"))
    def corrOf(si: String, sj: String, qii: String, qjj: String,
               qij: String): org.apache.spark.sql.Column = {
      val n38 = col("n").cast(d38)
      val num = (n38 * col(qij) - col(si) * col(sj)).cast("double")
      val di = (n38 * col(qii) - col(si) * col(si)).cast("double")
      val dj = (n38 * col(qjj) - col(sj) * col(sj)).cast("double")
      num / sqrt(di * dj)
    }
    m.select(col("n"),
        corrOf("s1", "s2", "q11", "q22", "q12").as("c12"),
        corrOf("s1", "s3", "q11", "q33", "q13").as("c13"),
        corrOf("s2", "s3", "q22", "q33", "q23").as("c23"))
      .select(col("n"), expr(
        "stack(3, 'quantity', 'extendedprice', c12," +
          " 'quantity', 'discount', c13," +
          " 'extendedprice', 'discount', c23) as (var_x, var_y, corr)"))
      .select("var_x", "var_y", "n", "corr")
      .orderBy("var_x", "var_y")
  }

  /** Partial correlation of quantity and line revenue CONTROLLING for
    * discount (q_partial_corr): r₁₂·₃ = (r₁₂ − r₁₃·r₂₃) /
    * √((1−r₁₃²)(1−r₂₃²)) — "is the quantity↔revenue association real,
    * or does the discount schedule drive both?" The confounder-adjusted
    * companion to [[corrMatrix]].
    *
    * Same scale shape as corrMatrix: ONE fact pass accumulates all ten
    * exact decimal(38,0) moments map-side; the three pairwise r's are
    * each the corrOf fixed tree over exact operands, and the partial-r
    * adjustment is four more single IEEE ops over those three doubles —
    * the identical expression tree replays in DuckDB (VARCHAR-routed
    * HUGEINT→DOUBLE casts oracle-side). */
  def partialCorrQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").cast(d38).as("x1"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").cast(d38).as("x2"),
      (col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long").cast(d38).as("x3"))
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("x3")).as("s3"),
      sum(col("x1") * col("x1")).as("q11"),
      sum(col("x2") * col("x2")).as("q22"),
      sum(col("x3") * col("x3")).as("q33"),
      sum(col("x1") * col("x2")).as("q12"),
      sum(col("x1") * col("x3")).as("q13"),
      sum(col("x2") * col("x3")).as("q23"))
    def corrOf(si: String, sj: String, qii: String, qjj: String,
               qij: String): org.apache.spark.sql.Column = {
      val n38 = col("n").cast(d38)
      val num = (n38 * col(qij) - col(si) * col(sj)).cast("double")
      val di = (n38 * col(qii) - col(si) * col(si)).cast("double")
      val dj = (n38 * col(qjj) - col(sj) * col(sj)).cast("double")
      num / sqrt(di * dj)
    }
    m.select(col("n"),
        corrOf("s1", "s2", "q11", "q22", "q12").as("r12"),
        corrOf("s1", "s3", "q11", "q33", "q13").as("r13"),
        corrOf("s2", "s3", "q22", "q33", "q23").as("r23"))
      .select(col("n"), col("r12"), col("r13"), col("r23"),
        ((col("r12") - col("r13") * col("r23")) /
          sqrt((lit(1.0) - col("r13") * col("r13")) *
            (lit(1.0) - col("r23") * col("r23")))).as("partial_r"))
  }

  /** Partial autocorrelation of the daily-revenue series at lags 1–3
    * (q_pacf) via Durbin–Levinson: the ACF answers "is today related to
    * k days ago?", the PACF answers it with the intermediate days
    * regressed out — the AR-order fingerprint (an AR(p) series has PACF
    * ≈ 0 beyond lag p), the identification step before fitting any
    * autoregressive forecast.
    *
    * Each r_k is a lag-k Pearson over the calendar-bounded daily frame
    * with EXACT integer sufficient statistics (the [[autocorrQuery]]
    * device: cleared-denominator numerators routed to double through
    * VARCHAR, one division + one IEEE sqrt — both correctly rounded,
    * hence engine-portable). The φ recursion is then a fixed scalar
    * tree over the three deterministic r's. One fact shuffle builds the
    * daily frame (materialized once — it feeds all three lag joins). */
  /** Lead–lag cross-correlation between daily order COUNT and daily
    * revenue (q_xcorr): r at lags −3…+3 — does volume lead value (big
    * days follow busy days) or coincide? The bivariate companion of
    * [[pacfQuery]]'s univariate view, and the standard pre-whitening
    * read before any transfer-function forecast.
    *
    * Each lag is one join on the materialized calendar-bounded daily
    * frame and one exact-sufficient-statistics Pearson (cleared
    * denominators, VARCHAR-routed, division + correctly-rounded sqrt).
    * Seven fixed lags → seven one-row frames unioned — never an
    * aggregate over doubles. */
  def xcorrQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
        .agg(count(lit(1)).as("c"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long").as("v")),
      "xcorr_daily") // feeds all seven lag joins
    def rOf(lag: Int): DataFrame = {
      val pairs = daily.select(col("day"), col("c").as("x"))
        .join(daily.select((col("day") - lag).as("day"), col("v").as("y")),
          Seq("day"))
      pairs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
          sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
          sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
        .select(lit(lag.toLong).as("lag"), col("n"),
          ((col("n").cast(d38) * col("sxy") -
              col("sx").cast(d38) * col("sy").cast(d38))
            .cast("string").cast("double") /
           sqrt((col("n").cast(d38) * col("sxx") -
              col("sx").cast(d38) * col("sx").cast(d38))
              .cast("string").cast("double") *
             (col("n").cast(d38) * col("syy") -
              col("sy").cast(d38) * col("sy").cast(d38))
              .cast("string").cast("double"))).as("r"))
    }
    (-3 to 3).map(rOf).reduce(_ unionAll _).orderBy("lag")
  }

  /** Granger causality (q_granger): does yesterday's ORDER VOLUME carry
    * information about today's REVENUE beyond yesterday's revenue? F-test
    * of the lagged-x coefficient: restricted y_t ~ y_{t−1} vs
    * unrestricted y_t ~ y_{t−1} + x_{t−1}, F = (RSS_r − RSS_u)/(RSS_u/
    * (n−3)) — the standard lead-lag screen on top of [[xcorrQuery]]'s
    * symmetric correlations (xcorr says "related at lag 1"; Granger says
    * "x adds predictive value beyond y's own memory").
    *
    * Both OLS fits are CLOSED-FORM over centered second moments, each
    * computed cleared-denominator (n·Σab − Σa·Σb, exact decimal(38,0) —
    * the [[xcorrQuery]] device, so the shared n² scale cancels in every
    * reported ratio): one lag self-join on the calendar-bounded daily
    * frame, one aggregate, then a fixed IEEE tree (2×2 inverse by
    * Cramer's rule). Reported b1/b2 are the true unscaled coefficients. */
  def grangerQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("y"),
          count(lit(1)).as("x")),
      "granger_daily") // feeds both sides of the lag join
    val t = daily.select(col("day"), col("y"))
      .join(daily.select((col("day") + 1).as("day"), col("y").as("y1"),
        col("x").as("x1")), Seq("day"))
    def p(a: String, b: String) = sum(col(a).cast(d38) * col(b).cast(d38))
    val sums = t.agg(count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("y1")).as("sy1"),
      sum(col("x1")).as("sx1"),
      p("y", "y").as("syy"), p("y1", "y1").as("sy1y1"),
      p("x1", "x1").as("sx1x1"), p("y", "y1").as("syy1"),
      p("y", "x1").as("syx1"), p("y1", "x1").as("sy1x1"))
    def c(sab: String, sa: String, sb: String) =
      (col("n").cast(d38) * col(sab) -
        col(sa).cast(d38) * col(sb).cast(d38)).cast("string").cast("double")
    sums
      .withColumn("cyy", c("syy", "sy", "sy"))
      .withColumn("c11", c("sy1y1", "sy1", "sy1"))
      .withColumn("c22", c("sx1x1", "sx1", "sx1"))
      .withColumn("cy1", c("syy1", "sy", "sy1"))
      .withColumn("cy2", c("syx1", "sy", "sx1"))
      .withColumn("c12", c("sy1x1", "sy1", "sx1"))
      .withColumn("rss_r", col("cyy") - col("cy1") * col("cy1") / col("c11"))
      .withColumn("det", col("c11") * col("c22") - col("c12") * col("c12"))
      .withColumn("b1",
        (col("c22") * col("cy1") - col("c12") * col("cy2")) / col("det"))
      .withColumn("b2",
        (col("c11") * col("cy2") - col("c12") * col("cy1")) / col("det"))
      .withColumn("rss_u",
        col("cyy") - (col("b1") * col("cy1") + col("b2") * col("cy2")))
      .select(col("n"), col("b1"), col("b2"),
        ((col("rss_r") - col("rss_u")) /
          (col("rss_u") / (col("n") - 3L).cast("double"))).as("f_granger"))
  }

  /** Cook's distance of the daily revenue-on-volume regression
    * (q_cooks): which single days most distort the fitted line? For the
    * OLS fit y (daily cents) ~ x (daily order count), D_i =
    * e_i²·h_i/(p·s²·(1−h_i)²) with leverage h_i = 1/n + (x_i−x̄)²/Sxx —
    * the influence diagnostic that separates "big residual" from "big
    * residual AT a leverage point" ([[graft.operators.Distribution
    * .grubbsTest]] flags the former; this flags the days that actually
    * move b).
    *
    * The residual is held exact until one division: with the n-scaled
    * deviations u = n·x − Σx, v = n·y − Σy (exact decimal(38,0)),
    * R_i = Cxx·v_i − Cxy·u_i is exact and e_i = R_i/(n·Cxx); RSS comes
    * closed-form ((Cyy − Cxy²/Cxx)/n²), so NO float is ever accumulated
    * — every per-row D_i is a fixed IEEE tree over exact integers,
    * identical on both engines, making the top-20 selection stable. */
  def cooksQuery(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("y"),
          count(lit(1)).as("x")),
      "cooks_daily") // feeds the sums row and the per-row pass
    val sums = daily.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
      sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
      sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
    def c(sab: String, sa: String, sb: String) =
      (col("n").cast(d38) * col(sab) -
        col(sa).cast(d38) * col(sb).cast(d38))
    val base = sums
      .withColumn("cxx", c("sxx", "sx", "sx"))
      .withColumn("cxy", c("sxy", "sx", "sy"))
      .withColumn("cyy", c("syy", "sy", "sy"))
    val nD = col("n").cast("double")
    val cxxD = col("cxx").cast("string").cast("double")
    val rss = (col("cyy").cast("string").cast("double") -
      col("cxy").cast("string").cast("double") *
        col("cxy").cast("string").cast("double") / cxxD) / (nD * nD)
    val withS2 = base.withColumn("s2", rss / (nD - lit(2.0)))
    daily.crossJoin(withS2)
      .withColumn("u", col("n").cast(d38) * col("x").cast(d38) -
        col("sx").cast(d38))
      .withColumn("r", col("cxx") * (col("n").cast(d38) *
        col("y").cast(d38) - col("sy").cast(d38)) - col("cxy") * col("u"))
      .withColumn("e",
        col("r").cast("string").cast("double") / (nD * cxxD))
      .withColumn("h", lit(1.0) / nD +
        col("u").cast("string").cast("double") *
          col("u").cast("string").cast("double") / (nD * cxxD))
      .withColumn("cooks_d",
        (col("e") * col("e") * col("h")) /
          ((lit(2.0) * col("s2")) *
            ((lit(1.0) - col("h")) * (lit(1.0) - col("h")))))
      .orderBy(col("cooks_d").desc, col("day").asc)
      .limit(topK)
      .select(col("day"), col("x"), col("y"), col("h").as("leverage"),
        col("cooks_d"))
  }

  /** Blinder–Oaxaca decomposition (q_oaxaca): how much of the mean
    * order-value gap between BUILDING-segment customers and the rest is
    * EXPLAINED by basket size (they order more lineitems) vs
    * UNEXPLAINED (they pay more at the same basket size)? The
    * two-group counterpart of [[grangerQuery]]'s nested models and the
    * standard wage-gap machinery: gap = ȳ_A − ȳ_B =
    * b_B·(x̄_A − x̄_B) + [(a_A − a_B) + x̄_A·(b_A − b_B)], with each
    * group's OLS closed-form over cleared-denominator moments.
    *
    * One joined conditional aggregate produces both groups' exact sums
    * (the [[graft.operators.Distribution.smdQuery]] shape); everything
    * after is a fixed IEEE tree. */
  def oaxacaQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("y"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), (col("c_mktsegment") === "BUILDING").as("in_a"))
    val base = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
    def side(flag: Boolean, tag: String) = Seq(
      sum(when(col("in_a") === flag, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(col("in_a") === flag, col("x")).otherwise(0L)).as(s"sx_$tag"),
      sum(when(col("in_a") === flag, col("y")).otherwise(0L)).as(s"sy_$tag"),
      sum(when(col("in_a") === flag, col("x").cast(d38) * col("x").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"sxx_$tag"),
      sum(when(col("in_a") === flag, col("x").cast(d38) * col("y").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"sxy_$tag"))
    val aggs = side(true, "a") ++ side(false, "b")
    val sums = base.agg(aggs.head, aggs.tail: _*)
    def grp(tag: String) = {
      val n = col(s"n_$tag").cast("double")
      val mx = col(s"sx_$tag").cast("double") / n
      val my = col(s"sy_$tag").cast("double") / n
      val b = (col(s"n_$tag").cast(d38) * col(s"sxy_$tag") -
          col(s"sx_$tag").cast(d38) * col(s"sy_$tag").cast(d38))
        .cast("string").cast("double") /
        (col(s"n_$tag").cast(d38) * col(s"sxx_$tag") -
          col(s"sx_$tag").cast(d38) * col(s"sx_$tag").cast(d38))
        .cast("string").cast("double")
      (mx, my, b)
    }
    val (mxa, mya, ba) = grp("a")
    val (mxb, myb, bb) = grp("b")
    sums.select(col("n_a"), col("n_b"),
      (mya - myb).as("gap_cents"),
      (bb * (mxa - mxb)).as("explained_cents"),
      ((mya - myb) - bb * (mxa - mxb)).as("unexplained_cents"),
      ba.as("b_a"), bb.as("b_b"))
  }

  /** Sharp regression discontinuity (q_rdd): the revenue JUMP at the
    * corpus midpoint — fit y = a + b·(day − c) separately on a
    * ±`bandwidth`-day window each side of the cutoff and report
    * a_right − a_left, the discontinuity the global trend line would
    * smear away ([[chowQuery]] asks "did the SLOPE change?"; RDD asks
    * "did the LEVEL jump AT the threshold?"). Completes the causal
    * toolkit next to did/cuped/strat_ate/iv_wald/oaxaca.
    *
    * Each side's intercept-at-cutoff is closed-form over cleared-
    * denominator moments of (x = day − c, y): a = ȳ − b·x̄ with
    * b = Cxy/Cxx — one conditional aggregate, fixed IEEE trees, no
    * residual pass. */
  def rddQuery(spark: SparkSession, dir: String,
               bandwidth: Int = 180): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("y"))
      .withColumn("c",
        expr(s"unix_millis(cast('1998-01-01' as timestamp)) div 86400000"))
      .withColumn("x", col("day") - col("c"))
      .filter(col("x") >= -bandwidth.toLong && col("x") < bandwidth.toLong)
      .withColumn("right", col("x") >= 0L)
    def side(tag: String, cond: org.apache.spark.sql.Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, col("x")).otherwise(0L)).as(s"sx_$tag"),
      sum(when(cond, col("y")).otherwise(0L)).as(s"sy_$tag"),
      sum(when(cond, col("x").cast(d38) * col("x").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"sxx_$tag"),
      sum(when(cond, col("x").cast(d38) * col("y").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"sxy_$tag"))
    val aggs = side("l", !col("right")) ++ side("r", col("right"))
    val sums = daily.agg(aggs.head, aggs.tail: _*)
    def intercept(tag: String) = {
      val nD = col(s"n_$tag").cast("double")
      val b = (col(s"n_$tag").cast(d38) * col(s"sxy_$tag") -
          col(s"sx_$tag").cast(d38) * col(s"sy_$tag").cast(d38))
        .cast("string").cast("double") /
        (col(s"n_$tag").cast(d38) * col(s"sxx_$tag") -
          col(s"sx_$tag").cast(d38) * col(s"sx_$tag").cast(d38))
        .cast("string").cast("double")
      (col(s"sy_$tag").cast("double") / nD -
        b * (col(s"sx_$tag").cast("double") / nD), b)
    }
    val (aL, bL) = intercept("l")
    val (aR, bR) = intercept("r")
    sums.select(col("n_l"), col("n_r"),
      aL.as("a_left"), aR.as("a_right"), bL.as("b_left"), bR.as("b_right"),
      (aR - aL).as("rdd_effect_cents"))
  }

  /** Chow structural-break test (q_chow): did the revenue~volume
    * relationship CHANGE at the corpus midpoint? F = ((RSS_p − RSS₁ −
    * RSS₂)/k)/((RSS₁+RSS₂)/(n−2k)), k = 2 — the regime-shift companion
    * to [[cooksQuery]] (one influential day) and
    * [[graft.operators.TimeSeries.cusumChangepoint]] (level shift):
    * Chow detects a SLOPE/INTERCEPT break at a known date.
    *
    * All three RSS are closed-form over cleared-denominator moments
    * ((Cyy − Cxy²/Cxx)/n² per segment — no residual materialization,
    * no float accumulation); ONE conditional aggregate produces pooled
    * and per-era sums together. */
  def chowQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
        .as("day"),
        (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("era1"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("y"),
        count(lit(1)).as("x"))
    def side(tag: String, cond: org.apache.spark.sql.Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, col("x")).otherwise(0L)).as(s"sx_$tag"),
      sum(when(cond, col("y")).otherwise(0L)).as(s"sy_$tag"),
      sum(when(cond, col("x").cast(d38) * col("x").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"sxx_$tag"),
      sum(when(cond, col("x").cast(d38) * col("y").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"sxy_$tag"),
      sum(when(cond, col("y").cast(d38) * col("y").cast(d38))
        .otherwise(lit(0).cast(d38))).as(s"syy_$tag"))
    val aggs = side("p", lit(true)) ++ side("a", col("era1")) ++
      side("b", !col("era1"))
    val sums = daily.agg(aggs.head, aggs.tail: _*)
    def rss(tag: String) = {
      val n = col(s"n_$tag").cast(d38)
      def c(sab: String, sa: String, sb: String) =
        (n * col(s"${sab}_$tag") -
          col(s"${sa}_$tag").cast(d38) * col(s"${sb}_$tag").cast(d38))
          .cast("string").cast("double")
      val nD = col(s"n_$tag").cast("double")
      (c("syy", "sy", "sy") -
        c("sxy", "sx", "sy") * c("sxy", "sx", "sy") / c("sxx", "sx", "sx")) /
        (nD * nD)
    }
    sums
      .withColumn("rss_p", rss("p"))
      .withColumn("rss_a", rss("a"))
      .withColumn("rss_b", rss("b"))
      .select(col("n_p").as("n"), col("n_a"), col("n_b"),
        col("rss_p"), col("rss_a"), col("rss_b"),
        (((col("rss_p") - (col("rss_a") + col("rss_b"))) / lit(2.0)) /
          ((col("rss_a") + col("rss_b")) /
            (col("n_p") - 4L).cast("double"))).as("f_chow"))
  }

  /** Wald instrumental-variable estimate (q_iv_wald): the effect of
    * line quantity on line revenue, instrumented by the ORDER being
    * urgent-priority — the IV companion to the OLS slope
    * ([[regressionQuery]]): when x is endogenous, OLS b is biased and
    * the Wald ratio β = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) across instrument arms
    * recovers the causal slope (under instrument validity). Reporting
    * BOTH slopes is the standard endogeneity read: they diverge ⇒ x is
    * confounded.
    *
    * The Wald ratio's n₁n₀ denominators cancel:
    * β = (sy₁·n₀ − sy₀·n₁)/(sx₁·n₀ − sx₀·n₁) — exact decimal(38,0)
    * products, one division; OLS b is the cleared-denominator moment
    * ratio. ONE conditional aggregate over the joined fact stream. */
  def ivWaldQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("x"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("y"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        (col("o_orderpriority") === "1-URGENT").as("z"))
    val sums = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(
        sum(when(col("z"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("z"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("z"), col("x")).otherwise(0L)).as("sx1"),
        sum(when(!col("z"), col("x")).otherwise(0L)).as("sx0"),
        sum(when(col("z"), col("y")).otherwise(0L)).as("sy1"),
        sum(when(!col("z"), col("y")).otherwise(0L)).as("sy0"),
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
    sums.select(col("n1"), col("n0"),
      ((col("n").cast(d38) * col("sxy") -
          col("sx").cast(d38) * col("sy").cast(d38))
        .cast("string").cast("double") /
        (col("n").cast(d38) * col("sxx") -
          col("sx").cast(d38) * col("sx").cast(d38))
        .cast("string").cast("double")).as("b_ols"),
      ((col("sy1").cast(d38) * col("n0").cast(d38) -
          col("sy0").cast(d38) * col("n1").cast(d38))
        .cast("string").cast("double") /
        (col("sx1").cast(d38) * col("n0").cast(d38) -
          col("sx0").cast(d38) * col("n1").cast(d38))
        .cast("string").cast("double")).as("b_wald"))
  }

  /** Ljung–Box portmanteau test (q_ljung_box): are the first three
    * autocorrelations of daily revenue JOINTLY zero? Q = n(n+2)·Σ_{k≤3}
    * r_k²/(n−k) — the one-number "is this series white noise?" gate that
    * [[autocorrQuery]]/[[pacfQuery]]'s per-lag reads don't give (three
    * individually-insignificant r's can be jointly damning). Each r_k is
    * the lag-join cleared-denominator Pearson (the [[pacfQuery]]
    * machinery, exact integer sums); Q is a fixed IEEE tree over
    * (n, r₁, r₂, r₃). */
  def ljungBoxQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("day")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "lb_daily") // feeds the three lag joins and the length count
    def rOf(k: Int): DataFrame = {
      val pairs = daily
        .join(daily.select((col("day") - k).as("day"), col("v").as("y")),
          Seq("day"))
      pairs.agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("v").cast(d38) * col("v").cast(d38)).as("sxx"),
          sum(col("v").cast(d38) * col("y").cast(d38)).as("sxy"),
          sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
        .select(((col("n").cast(d38) * col("sxy") -
            col("sx").cast(d38) * col("sy").cast(d38))
          .cast("string").cast("double") /
          sqrt((col("n").cast(d38) * col("sxx") -
              col("sx").cast(d38) * col("sx").cast(d38))
            .cast("string").cast("double") *
            (col("n").cast(d38) * col("syy") -
              col("sy").cast(d38) * col("sy").cast(d38))
            .cast("string").cast("double"))).as(s"r$k"))
    }
    val n = daily.agg(count(lit(1)).as("n_days"))
    val nD = col("n_days").cast("double")
    n.crossJoin(rOf(1)).crossJoin(rOf(2))
      .crossJoin(rOf(3))
      .select(col("n_days"), col("r1"), col("r2"), col("r3"),
        (nD * (nD + lit(2.0)) *
          (col("r1") * col("r1") / (nD - lit(1.0)) +
            col("r2") * col("r2") / (nD - lit(2.0)) +
            col("r3") * col("r3") / (nD - lit(3.0)))).as("q_lb"))
  }

  def pacfQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy("day")
        .agg((sum(col("p")) * 100).cast("long").as("v")),
      "pacf_daily") // feeds the three lag joins
    def rOf(k: Int): DataFrame = {
      val pairs = daily
        .join(daily.select((col("day") - k).as("day"), col("v").as("y")),
          Seq("day"))
      pairs.agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("v").cast(d38) * col("v").cast(d38)).as("sxx"),
          sum(col("v").cast(d38) * col("y").cast(d38)).as("sxy"),
          sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
        .select(col("n"),
          ((col("n").cast(d38) * col("sxy") -
              col("sx").cast(d38) * col("sy").cast(d38))
            .cast("string").cast("double") /
           sqrt((col("n").cast(d38) * col("sxx") -
              col("sx").cast(d38) * col("sx").cast(d38))
              .cast("string").cast("double") *
             (col("n").cast(d38) * col("syy") -
              col("sy").cast(d38) * col("sy").cast(d38))
              .cast("string").cast("double"))).as(s"r$k"))
    }
    val r = rOf(1).select(col("n").as("n1"), col("r1"))
      .crossJoin(rOf(2).select(col("r2")))
      .crossJoin(rOf(3).select(col("r3")))
    // Durbin–Levinson: φ22, then the order-2 head coefficient φ21,
    // then φ33 — a fixed tree of IEEE ops over deterministic doubles.
    r.withColumn("pacf2",
        (col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1")))
      .withColumn("phi21", col("r1") * (lit(1.0) - col("pacf2")))
      .select(col("n1"), col("r1"), col("r2"), col("r3"),
        col("r1").as("pacf1"), col("pacf2"),
        ((col("r3") - col("phi21") * col("r2") - col("pacf2") * col("r1")) /
          (lit(1.0) - col("phi21") * col("r1") - col("pacf2") * col("r2")))
          .as("pacf3"))
  }
}
