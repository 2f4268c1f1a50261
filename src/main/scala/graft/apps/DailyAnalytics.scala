package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, EventOps}
import graft.ml.Models
import graft.scale.Silver
import graft.tools.Stages

/** The scheduled daily-analytics job (SURVEY.md §3.3 — reference
  * `src/apps/analytics_app.py:133-189` `run_daily_analytics`): four
  * sequential stages with isolated error capture, returning the
  * stage-level success map. The reference's stages — model update,
  * top-performers report, transfer analysis, weekly summary — map to the
  * corpus equivalents below; each stage is a DataFrame job materialized
  * by its own terminal action, so one stage's failure cannot poison
  * another's plan.
  *
  * The model stage fits the §2.11 performance pipeline on
  * customer-order features (matches_played>=10 gate ≙ the order-count
  * filter) and scores the held-out split — the train-then-score contract
  * of `analytics_app.py:191-213`. The features are materialized once
  * ([[Silver.scratch]], inside the stage, so a failure there is the
  * stage's failure): the split, the scaler fit, the GBT's metadata,
  * split and binning passes and the scoring each read that leaf instead
  * of re-running the orders scan and aggregate.
  */
object DailyAnalytics {

  /** Customer spend features for the model stage: total/avg spend and
    * order count per customer with a minimum-activity gate. */
  private[graft] def customerFeatures(spark: SparkSession, dir: String,
                                     minOrders: Long = 10): DataFrame =
    graft.sources.Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).cast("long").as("order_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spend"),
        avg(col("o_totalprice")).as("avg_spend"))
      .filter(col("order_cnt") >= minOrders)

  /** The model stage's output: fit on the train split of `feats`, score
    * the held-out split. */
  private[graft] def scoreHeldOut(feats: DataFrame): DataFrame = {
    val (train, test) = Models.trainTestSplit(feats)
    val model = Models.fit(
      Models.performancePipeline(Seq("order_cnt", "avg_spend"), "total_spend"),
      train)
    model.transform(test).select("o_custkey", "total_spend", "prediction")
  }

  /** Run the daily pipeline; never throws — failures land in the result
    * map, later stages still run (the reference's isolated try/except
    * per stage). */
  def run(spark: SparkSession, dir: String): Seq[Stages.StageResult] = {
    var feats: Option[DataFrame] = None
    try Stages.runAll(Seq(
      "model_update" -> (() => {
        val f = Silver.scratch(customerFeatures(spark, dir), "model_features")
        feats = Some(f)
        scoreHeldOut(f)
      }),
      "top_performers" -> (() => Analytics.topSpenders(spark, dir)),
      "transfer_analysis" -> (() =>
        graft.sources.RoundTrip.transfersFromCustomers(spark, dir)),
      "weekly_summary" -> (() => EventOps.weeklyEventRollup(spark, dir))))
    finally feats.foreach(Silver.release)
  }
}
