package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ranking
import graft.sources.Tables

/** Model-evaluation aggregates — the offline-metrics layer next to
  * [[Models]]'s pipelines (reference: the analytics engine's
  * prediction-quality reporting, src/analytics/engine.py model summaries).
  *
  * Both metrics here are computed WITHOUT floating-point accumulation:
  * AUC through the rank-sum (Mann–Whitney) identity over exact doubled
  * midranks, calibration through exact per-bin counting — so the DuckDB
  * oracle replays them bit-identically, and at cluster scale they cost
  * one map-side-combining shuffle plus dimension-sized arithmetic.
  */
object Eval {

  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Label frame shared by [[aucQuery]] and [[calibrationQuery]]: every
    * ORDER, scored by total price (cents), labeled 1 when any of its
    * lineitems was returned (l_returnflag = 'R'). Order-level — not
    * customer-level — keeps both classes populated at every corpus
    * size (at tiny SFs virtually every CUSTOMER eventually has a
    * return, degenerating a customer-level label). The label semi-
    * aggregates the fact side before touching the order dimension. */
  private def scoredLabels(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey")).distinct()
      .withColumn("__pos", lit(1L))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"))
      .join(returned, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("v"),
        coalesce(col("__pos"), lit(0L)).as("y"))
  }

  /** ROC AUC of "order price predicts a returned line" (q_auc),
    * via the rank-sum identity AUC = U / (n₁·n₀): per distinct score
    * the positive/negative counts, cumulative totals through
    * [[Ranking.distributedCumSum]] (range exchange + broadcast offsets
    * — no single-partition window), doubled midranks so ties stay
    * integer (2·midrank = 2·cumBefore + t + 1, the [[
    * graft.operators.Distribution.mannWhitney]] device), and ONE
    * terminal division. An AUC that needs no per-threshold sweep and no
    * float accumulation — the scale-out form of the metric. */
  def aucQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = scoredLabels(spark, dir)
      .groupBy("v")
      .agg(sum(col("y")).as("a"),
        sum(lit(1L) - col("y")).as("b"))
      .withColumn("t", col("a") + col("b"))
    val cum = Ranking.distributedCumSum(per, Seq(col("v").asc), Seq("t"))
    cum.agg(
        sum(col("a")).as("n_pos"), sum(col("b")).as("n_neg"),
        sum(col("a").cast(d38) *
          (lit(2).cast(d38) * col("cum_t").cast(d38) -
            col("t").cast(d38) + lit(1).cast(d38))).as("rank2_pos"))
      .select(col("n_pos"), col("n_neg"),
        (col("rank2_pos") -
          col("n_pos").cast(d38) * (col("n_pos") + 1).cast(d38))
          .cast("long").as("u2"),
        ((col("rank2_pos") -
          col("n_pos").cast(d38) * (col("n_pos") + 1).cast(d38))
          .cast("double") /
          (lit(2).cast(d38) * col("n_pos").cast(d38) * col("n_neg").cast(d38))
            .cast("double")).as("auc"))
  }

  /** Calibration table (q_calibration): orders bucketed into score
    * deciles by price rank, each decile's observed positive rate vs
    * the population rate and its lift. Deciles come from the
    * distributed global rank under the unique (v, orderkey) order —
    * decile = ((rank−1)·10) div n, an integer assignment identical in
    * both engines — and every rate is a ratio of exact counts. The
    * gains column (cumulative share of positives captured by the top
    * deciles) makes this double as the lift/gains chart. */
  def calibrationQuery(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Ranking.distributedGlobalRank(
      scoredLabels(spark, dir),
      Seq(col("v").desc, col("o_orderkey").asc), rankCol = "r", nCol = "__n")
    val byDecile = ranked
      .withColumn("decile", expr("((r - 1) * 10) div __n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    // r15: population totals ride the cumsum's offsets broadcast
    // (totals=true) — the old separate byDecile.agg re-executed the
    // rank-checkpoint read + decile groupBy a second time (guide §2.4).
    val cum = Ranking.distributedCumSum(byDecile, Seq(col("decile").asc),
      Seq("n_pos", "n"), totals = true)
    cum
      .select(col("decile"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("rate"),
        ((col("n_pos") * col("tot_n")).cast("double") /
          (col("n") * col("tot_n_pos")).cast("double")).as("lift"),
        (col("cum_n_pos").cast("double") / col("tot_n_pos").cast("double"))
          .as("gain"))
      .orderBy("decile")
  }

  /** Position discounts for NDCG@10 as PINNED INTEGERS at scale 10¹⁶
    * (⌊10¹⁶/log₂(i+1)⌉ — log2 itself is not a portable cross-engine
    * function, the Benford-constants device). Integers, not pinned
    * doubles: the 10-term double multiply-add chain the doubles
    * required is contracted with FMA by DuckDB — the round-10 10×
    * sweep caught a 1-ulp dcg divergence from Spark's codegen. With
    * integer weights the weighted sum is EXACT decimal arithmetic
    * (order-free), and the only IEEE ops are the final scale /
    * normalize divisions. */
  private[graft] val NdcgWi: Seq[Long] = Seq(
    10000000000000000L, 6309297535714575L, 5000000000000000L,
    4306765580733931L, 3868528072345416L, 3562071871080222L,
    3333333333333333L, 3154648767857288L, 3010299956639812L,
    2890648263178879L)

  /** NDCG@10 of "past spend predicts future spend" (q_ndcg): rank
    * customers by first-era order value (o_orderdate < 1998-01-01, the corpus midpoint), score
    * the ranking against second-era value as graded relevance — the
    * ranking-quality metric [[aucQuery]]'s binary AUC can't express
    * (position-discounted, graded). DCG = Σ rel_i/log₂(i+1) over the
    * predicted top-10, normalized by the ideal ordering's IDCG; `n_hits`
    * counts predicted-top-10 members that are also ideal-top-10.
    *
    * Exactness: both eras' spends are exact cent sums from ONE
    * conditional pass over orders; top-10s are TakeOrderedAndProject
    * under unique (value, custkey) orders; positions come from a
    * 10×10 BNLJ count (no global window); DCG is a FIXED 10-term tree —
    * each term one cast·literal multiply, summed in written order — so
    * the oracle replays it bit-identically.
    *
    * Scale shape: one map-side-combining aggregate over orders
    * (customer-grain), materialized once for its four consumers; all
    * downstream frames are ≤ 10 rows. */
  def ndcgQuery(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val per = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(
          sum(when(col("o_orderdate") < to_date(lit("1998-01-01")),
            cents(col("o_totalprice"))).otherwise(0L)).as("pred"),
          sum(when(col("o_orderdate") >= to_date(lit("1998-01-01")),
            cents(col("o_totalprice"))).otherwise(0L)).as("rel")),
      "ndcg_per") // feeds both top-10s, both rank joins, and the hit count
    def rankedTop(ord: String): DataFrame = {
      val top = per.orderBy(col(ord).desc, col("custkey").asc).limit(k)
      val b = top.select(col(ord).as("bo"), col("custkey").as("bc"))
      top.join(b,
          col("bo") > col(ord) ||
            (col("bo") === col(ord) && col("bc") < col("custkey")), "left")
        .groupBy(col("custkey"), col("rel"))
        .agg((count(col("bc")) + 1L).as("rk"))
    }
    val d38 = "decimal(38,0)"
    val dcgExpr = NdcgWi.zipWithIndex.map { case (w, i) =>
      coalesce(max(when(col("rk") === (i + 1).toLong, col("rel"))), lit(0L))
        .cast(d38) * lit(w).cast(d38)
    }.reduceLeft(_ + _)
    val dcg = rankedTop("pred").agg(dcgExpr.as("dcg_w"))
    val idcg = rankedTop("rel").agg(dcgExpr.as("idcg_w"))
    val hits = per.orderBy(col("pred").desc, col("custkey").asc).limit(k)
      .join(per.orderBy(col("rel").desc, col("custkey").asc).limit(k)
        .select("custkey"), Seq("custkey"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    def dd(c: Column): Column = c.cast("string").cast("double")
    dcg.crossJoin(idcg).crossJoin(hits)
      .select((dd(col("dcg_w")) / lit(1e16)).as("dcg"),
        (dd(col("idcg_w")) / lit(1e16)).as("idcg"),
        (dd(col("dcg_w")) / dd(col("idcg_w"))).as("ndcg"), col("n_hits"))
  }

  /** Split-conformal prediction interval + empirical coverage
    * (q_conformal): the distribution-free uncertainty wrapper any
    * point predictor should ship with. Orders fold by `o_orderkey % 3`
    * (train / calibrate / test); the model is the train-fold segment
    * mean; q̂ is the ⌊0.9·(n+1)⌋-th smallest calibration residual
    * (the finite-sample-valid conformal quantile), and the test fold
    * reports what fraction of absolute residuals fall within q̂ —
    * ≈ 90% if the folds are exchangeable.
    *
    * Exactness: segment means are one division of an exact decimal sum;
    * residuals are two IEEE ops on identically-derived doubles; q̂ is a
    * RANK SELECTION via [[Ranking.distributedGlobalRank]] under the
    * unique (r, orderkey) order — never a float quantile estimate — with
    * the index computed in integer arithmetic ((9·(n+1)) div 10);
    * coverage is a ratio of exact counts.
    *
    * Scale shape: one fact⋈dim join materialized once for its three
    * fold consumers; a 5-row broadcast of means; the only sort is the
    * distributed rank's range exchange over the calibration third. */
  def conformalQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = graft.scale.Silver.scratch(
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
          cents(col("o_totalprice")).as("v"),
          (col("o_orderkey") % 3).as("fold")),
      "conf_base") // feeds the train means and the cal/test folds
    val mu = base.filter(col("fold") === 0L).groupBy("segment")
      .agg((sum(col("v").cast(d38)).cast("double") /
        count(lit(1)).cast("double")).as("mu"))
    val cal = base.filter(col("fold") === 1L)
      .join(broadcast(mu), "segment")
      .select(col("o_orderkey"),
        abs(col("v").cast("double") - col("mu")).as("r"))
    // CEILING index ⌈0.9·(n+1)⌉ — the finite-sample-valid split-conformal
    // quantile; the floor picked one order statistic too small whenever
    // 9·(n+1) ∤ 10, degrading the promised ≥90% coverage to ~⌊·⌋/(n+1)
    // (e.g. 18/21 = 85.7% at n=20). Integer form: (a + 9) div 10 = ⌈a/10⌉.
    val qhat = Ranking.distributedGlobalRank(cal,
        Seq(col("r").asc, col("o_orderkey").asc), rankCol = "rk", nCol = "__n")
      .filter(col("rk") === expr("(9 * (__n + 1) + 9) div 10"))
      .select(col("r").as("q_hat"), col("__n").as("n_cal"))
    base.filter(col("fold") === 2L)
      .join(broadcast(mu), "segment")
      .select(abs(col("v").cast("double") - col("mu")).as("r"))
      .crossJoin(broadcast(qhat))
      .groupBy(col("n_cal"), col("q_hat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_test").cast("double"))
  }

  /** Decision-stump training in pure SQL (q_stump): pick the best
    * "price decile ≤ d" split for predicting a returned order by Gini
    * impurity reduction — the first boosting round / the CART root
    * node, trained with exact arithmetic. Minimizing weighted child
    * Gini ⟺ maximizing Σ_child (pos² + neg²)/n_child, so the score is
    * two divisions of exact longs added in written order; the argmax
    * takes (score DESC, d ASC).
    *
    * Scale shape: the decile assignment is [[calibrationQuery]]'s
    * distributed rank; the candidate evaluation runs entirely on the
    * 10-row decile frame (a 9×10 broadcast prefix join — never a second
    * corpus pass). */
  def stumpQuery(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Ranking.distributedGlobalRank(
      scoredLabels(spark, dir),
      Seq(col("v").desc, col("o_orderkey").asc), rankCol = "r", nCol = "__n")
    val byDecile = graft.scale.Silver.scratch(
      ranked.withColumn("decile", expr("((r - 1) * 10) div __n"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos")),
      "stump_deciles") // feeds the totals, the prefix join, and the argmax
    val tot = byDecile.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
    val spine = spark.range(0, 9).select(col("id").as("d"))
    val cand = spine.join(broadcast(byDecile), col("decile") <= col("d"))
      .groupBy("d")
      .agg(sum(col("n")).as("n_left"), sum(col("pos")).as("pos_left"))
      .crossJoin(tot)
      .select(col("d"), col("n_left"), col("pos_left"),
        (col("nn") - col("n_left")).as("n_right"),
        (col("pp") - col("pos_left")).as("pos_right"))
      .withColumn("score",
        (col("pos_left") * col("pos_left") +
          (col("n_left") - col("pos_left")) *
          (col("n_left") - col("pos_left"))).cast("double") /
          col("n_left").cast("double") +
        (col("pos_right") * col("pos_right") +
          (col("n_right") - col("pos_right")) *
          (col("n_right") - col("pos_right"))).cast("double") /
          col("n_right").cast("double"))
    val best = cand.agg(max(struct(col("score"), (-col("d")).as("nd")))
      .as("m")).select((-col("m.nd")).as("bd"))
    cand.crossJoin(best)
      .select(col("d"), col("n_left"), col("pos_left"), col("n_right"),
        col("pos_right"), col("score"), (col("d") === col("bd")).as("is_best"))
      .orderBy("d")
  }

  /** Precision/recall curve at the top of the ranking (q_pr_curve): for
    * each cutoff k = 1..50 under the unique (score desc, orderkey asc)
    * order, the exact precision@k, recall@k and F1@k of [[scoredLabels]]
    * — the row-granular companion to [[calibrationQuery]]'s decile
    * gains chart (how fast do positives surface at the very top, where
    * a reviewer actually looks?).
    *
    * Every metric is ONE division of exact longs: precision = tp/k,
    * recall = tp/P, F1 in the algebraic 2·tp/(k+P) form (P = total
    * positives, broadcast one row). The global rank is the distributed
    * two-pass rank; the k ≤ 50 frame the running tp is computed over is
    * CONSTANT-BOUNDED (50 rows whatever the corpus size), so its window
    * is not a scale hazard. */
  def prCurveQuery(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
        val ranked = Ranking.distributedGlobalRank(
      scoredLabels(spark, dir),
      Seq(col("v").desc, col("o_orderkey").asc), rankCol = "k", nCol = "__n")
    val tot = ranked.agg(sum(col("y")).as("n_pos"))
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.filter(col("k") <= topK) // bounded: 50 rows from here on
      .select(col("k"), col("y"))
      .withColumn("tp", sum(col("y")).over(w))
      .crossJoin(tot)
      .select(col("k"), col("tp"),
        (col("tp").cast("double") / col("k").cast("double")).as("precision"),
        (col("tp").cast("double") / col("n_pos").cast("double")).as("recall"),
        ((lit(2L) * col("tp")).cast("double") /
          (col("k") + col("n_pos")).cast("double")).as("f1"))
      .orderBy("k")
  }

  /** Optimal operating point by Youden's J (q_youden): the score
    * threshold t* maximizing TPR − FPR over [[scoredLabels]] — the
    * companion the AUC report needs before anyone DEPLOYS the ranking
    * (AUC says the scores order well; J says where to cut them).
    *
    * Flagging positive when score ≥ t, tp/fp at every distinct score
    * come from ONE [[Ranking.distributedCumSum]] pass over the
    * score-descending order; the argmax runs on the INTEGER objective
    * J·P·N = tp·N − fp·P (exact decimals — no float comparison decides
    * the winner), tiebroken to the highest threshold, via
    * TakeOrderedAndProject top-1. TPR/FPR/J are emitted as three fixed
    * IEEE ops over the exact winner counts. */
  def youdenQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // Materialized once: `per` feeds BOTH the cumsum and the totals —
    // as sibling lazy branches the totals aggregate re-ran the whole
    // scoredLabels scan (orders⋈lineitem) a second time per query.
    val per = graft.scale.Silver.scratch(
      scoredLabels(spark, dir)
        .groupBy("v")
        .agg(sum(col("y")).as("a"), sum(lit(1L) - col("y")).as("b")),
      "youden_per")
    // r15: class totals ride the cumsum's offsets broadcast (totals=true)
    // — one fewer pass over the per scratch + no crossJoin (guide §2.4).
    val cum = Ranking.distributedCumSum(per, Seq(col("v").desc), Seq("a", "b"),
      totals = true)
    cum
      .select(col("v").as("threshold"),
        col("cum_a").as("tp"), col("cum_b").as("fp"),
        (col("tot_a") - col("cum_a")).as("fn"),
        (col("tot_b") - col("cum_b")).as("tn"),
        col("tot_a").as("n_pos"), col("tot_b").as("n_neg"),
        (col("cum_a").cast(d38) * col("tot_b").cast(d38) -
          col("cum_b").cast(d38) * col("tot_a").cast(d38)).as("j_num"))
      .orderBy(col("j_num").desc, col("threshold").desc)
      .limit(1)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp").cast("double") / col("n_pos").cast("double")).as("tpr"),
        (col("fp").cast("double") / col("n_neg").cast("double")).as("fpr"),
        (col("tp").cast("double") / col("n_pos").cast("double") -
          col("fp").cast("double") / col("n_neg").cast("double")).as("j"))
  }

  /** Fleiss' kappa across three deterministic rule labelers (q_fleiss):
    * chance-corrected inter-annotator agreement on a binary "keep this
    * document" vote — the dataset-curation QA statistic run before
    * trusting weak labels (are the labeling rules measuring the same
    * thing, or just both firing often?). Raters: length ≥ 300 chars,
    * ≥ 50 whitespace tokens, contains "the".
    *
    * Arithmetic is the exact-rational device: with N items, n = 3
    * raters, 2 categories, P̄ = (S − nN)/(Nn(n−1)) and
    * Pₑ = (T₁² + T₀²)/(nN)² where S = Σᵢ(n₁ᵢ² + n₀ᵢ²) and T₁ = Σᵢn₁ᵢ
    * are exact longs off ONE map-side-combining aggregate over the doc
    * stream; kappa = (P̄ − Pₑ)/(1 − Pₑ) is emitted as the cross-
    * multiplied integer fraction (A·E − C·B)/(B·(E − C)) — a single
    * IEEE division of exact decimals. No per-item state leaves the
    * executors. */
  def fleissKappaQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val votes = Tables.documents(spark, dir)
      .select(
        (when(col("n_chars") >= 300L, 1L).otherwise(0L) +
         when(size(split(col("text"), " ")) >= 50, 1L).otherwise(0L) +
         when(col("text").contains("the"), 1L).otherwise(0L)).as("n1"))
      .select(col("n1"), (lit(3L) - col("n1")).as("n0"))
    val agg = votes.agg(
      count(lit(1)).as("n_items"),
      sum(col("n1") * col("n1") + col("n0") * col("n0")).as("s"),
      sum(col("n1")).as("t1"))
    agg.select(
        col("n_items"), col("t1"),
        // A/B = P-bar, C/E = P_e; kappa = (A*E - C*B) / (B*(E - C))
        col("s"), (lit(3L) * col("n_items")).as("nn"))
      .select(col("n_items"), col("t1"),
        (col("s") - col("nn")).cast(d38).as("a"),
        (lit(2L) * col("nn")).cast(d38).as("b"),
        (col("t1").cast(d38) * col("t1").cast(d38) +
          (col("nn") - col("t1")).cast(d38) *
          (col("nn") - col("t1")).cast(d38)).as("c"),
        (col("nn").cast(d38) * col("nn").cast(d38)).as("e"))
      .select(col("n_items"), col("t1"),
        (col("a").cast("double") / col("b").cast("double")).as("p_bar"),
        (col("c").cast("double") / col("e").cast("double")).as("p_e"),
        ((col("a") * col("e") - col("c") * col("b")).cast("double") /
          (col("b") * (col("e") - col("c"))).cast("double")).as("kappa"))
  }

  /** Matthews correlation coefficient (q_mcc) of the mean-threshold
    * classifier "order price above the mean predicts a returned line" —
    * the single-number confusion summary that stays honest under class
    * imbalance, where accuracy and even [[graft.scale.TextAnalysis]]'s
    * F1 inflate ([[youdenQuery]] picks a threshold; this scores a
    * PINNED one). The threshold compare is exact integers (n·v ≥ Σv —
    * no float mean), the confusion cells are one conditional aggregate,
    * and MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) is a
    * fixed tree over them (products through decimal(38,0) — the
    * four-factor denominator overflows a long at cluster scale). */
  def mccQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val scored = scoredLabels(spark, dir)
    val tot = scored.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val cells = scored.crossJoin(tot)
      .withColumn("pred",
        when(col("n").cast(d38) * col("v").cast(d38) >= col("s").cast(d38),
          1L).otherwise(0L))
      .agg(
        sum(when(col("pred") === 1L && col("y") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred") === 1L && col("y") === 0L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("pred") === 0L && col("y") === 0L, 1L).otherwise(0L))
          .as("tn"),
        sum(when(col("pred") === 0L && col("y") === 1L, 1L).otherwise(0L))
          .as("fn"))
    cells.select(col("tp"), col("fp"), col("tn"), col("fn"),
      ((col("tp").cast(d38) * col("tn").cast(d38) -
          col("fp").cast(d38) * col("fn").cast(d38))
        .cast("string").cast("double") /
        sqrt(((col("tp") + col("fp")).cast(d38) *
            (col("tp") + col("fn")).cast(d38) *
            (col("tn") + col("fp")).cast(d38) *
            (col("tn") + col("fn")).cast(d38))
          .cast("string").cast("double"))).as("mcc"))
  }

}
