package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Parsing
import graft.operators.Merge

/** Multi-market odds micro-stream (SURVEY.md §2.10 / S12-S13 / K4): the
  * Spark rebuild of the reference's 300-second odds loop
  * (scraping_orchestrator.py:322-331) feeding the odds upsert service
  * keyed `(match_id, provider, market)` with a selections array
  * (src/database/services/odds.py:11-35, match_odd schema.sql:736).
  *
  * Three stages, all reusable batch/streaming:
  *   - [[normalize]]: any odds format (F9 fractional/American/decimal) →
  *     decimal prices, implied probabilities (F10), overround, and the
  *     K4 selections `array<struct<name, price, implied_prob>>`
  *   - [[withDedup]] + [[upsertBatch]]: watermark-bounded dedup, then
  *     last-writer-wins merge per (match_id, bookmaker, market)
  *   - [[movementAlerts]]: stateful price-drift detection per selection
  *     via `flatMapGroupsWithState` — the reference recomputes diffs
  *     against the DB on every poll; here the previous price is streaming
  *     state and only genuine moves emit downstream rows.
  */
object OddsStream {

  /** Bronze odds snapshot schema: one row per (match, bookmaker, market)
    * with raw odds text in any format. */
  val RawSchema: StructType = StructType(Seq(
    StructField("match_id", StringType),
    StructField("bookmaker", StringType),
    StructField("market", StringType),
    StructField("odds_home", StringType),
    StructField("odds_draw", StringType),
    StructField("odds_away", StringType),
    StructField("captured_at", TimestampType)))

  /** Bronze → silver: decimal prices, implied probs, overround, K4
    * selections array. Pure expressions, batch ≡ streaming. */
  def normalize(raw: DataFrame): DataFrame = {
    val h = Parsing.toDecimalOdds(col("odds_home"))
    val d = Parsing.toDecimalOdds(col("odds_draw"))
    val a = Parsing.toDecimalOdds(col("odds_away"))
    def sel(name: String, price: org.apache.spark.sql.Column) =
      struct(lit(name).as("name"), price.as("price"),
        Parsing.impliedProb(price).as("implied_prob"))
    raw
      .withColumn("price_home", h)
      .withColumn("price_draw", d)
      .withColumn("price_away", a)
      .withColumn("selections",
        filter(array(sel("home", h), sel("draw", d), sel("away", a)),
          s => s.getField("price").isNotNull))
      .withColumn("overround",
        coalesce(Parsing.impliedProb(h), lit(0.0)) +
          coalesce(Parsing.impliedProb(d), lit(0.0)) +
          coalesce(Parsing.impliedProb(a), lit(0.0)))
      .drop("odds_home", "odds_draw", "odds_away")
  }

  /** Watermark-bounded dedup of re-polled identical snapshots. */
  def withDedup(normalized: DataFrame, watermark: String = "1 hour"): DataFrame =
    normalized
      .withWatermark("captured_at", watermark)
      .dropDuplicatesWithinWatermark("match_id", "bookmaker", "market", "captured_at")

  /** K4 micro-batch upsert: latest captured_at wins per
    * (match_id, bookmaker, market); selections array replaced whole, as
    * the reference's odds service does. Shared sink: see
    * [[Merge.parquetUpsert]] for the existence-gated state read and the
    * content-hash tiebreak on equal captured_at. */
  def upsertBatch(spark: SparkSession, batch: DataFrame, tableDir: String): Unit =
    Merge.parquetUpsert(spark, batch, tableDir,
      keys = Seq("match_id", "bookmaker", "market"), version = Seq("captured_at"))

  /** One priced selection observation. `key` identifies the priced thing:
    * match|bookmaker|market|selection. */
  final case class OddsTick(key: String, price: Double, captured_at: Timestamp)

  /** Emitted when a selection's price moves ≥ threshold vs the last
    * observed price. */
  final case class PriceAlert(key: String, prev_price: Double, price: Double,
                              move_pct: Double, captured_at: Timestamp)

  final case class LastPrice(price: Double, at: Long)

  private[streaming] def detectMoves(
      key: String, ticks: Iterator[OddsTick], state: GroupState[LastPrice],
      thresholdPct: Double): Iterator[PriceAlert] = {
    // event-time order within the batch; state carries across batches
    val sorted = ticks.toSeq.sortBy(_.captured_at.getTime)
    var last = state.getOption
    val alerts = Seq.newBuilder[PriceAlert]
    sorted.foreach { t =>
      last match {
        case Some(LastPrice(p, at)) if t.captured_at.getTime >= at =>
          // p > 0 guards the division: decimal odds are >= 1 by
          // construction, but a malformed scrape ("0", "-0") can parse
          // to 0 or a non-finite price upstream — without the guard one
          // bad tick in state makes every subsequent move Infinity/NaN
          // and floods the alert stream.
          val move = math.abs(t.price - p) / p * 100.0
          if (p > 0 && move.isFinite && move >= thresholdPct)
            alerts += PriceAlert(key, p, t.price, move, t.captured_at)
          last = Some(LastPrice(t.price, t.captured_at.getTime))
        case Some(_) => // stale out-of-order tick: ignore
        case None =>
          last = Some(LastPrice(t.price, t.captured_at.getTime))
      }
    }
    last.foreach(state.update)
    alerts.result().iterator
  }

  /** T-series stateful stage: price-drift alerts per selection key.
    * State = last seen price; only moves ≥ `thresholdPct` emit. Ticks
    * with an invalid price (decimal odds are ≥ 1 by definition; parse
    * fallbacks can yield 0 or non-finite) are dropped BEFORE they can
    * become state — see the division guard in [[detectMoves]]. */
  def movementAlerts(ticks: Dataset[OddsTick],
                     thresholdPct: Double = 10.0): Dataset[PriceAlert] = {
    import ticks.sparkSession.implicits._
    ticks
      .filter(t => t.price >= 1.0 && !t.price.isInfinite && !t.price.isNaN)
      .groupByKey(_.key)
      .flatMapGroupsWithState[LastPrice, PriceAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key, rows, state) => detectMoves(key, rows, state, thresholdPct))
  }

  /** Sliding-window price history per (match, bookmaker, market,
    * selection): overlapping event-time windows with open/low/high/close
    * price stats — the queryable odds-movement history the reference
    * rebuilds from `match_odd` rows on demand (odds.py stores every
    * snapshot; consumers re-scan). Streaming shape: watermark bounds the
    * open-window state; append mode emits each window once it closes;
    * `min_by`/`max_by` give open/close without a ranked window (partial
    * aggregation on both sides of the shuffle). Works identically on a
    * batch frame (windows all close immediately).
    *
    * State at scale: a window stays in state until the WATERMARK passes
    * its end, so open windows per key ≈ (watermark + windowDur)/slideDur
    * (≈ 14 at the defaults, not windowDur/slideDur = 2 — the watermark
    * horizon, not the window overlap, dominates). State size is O(live
    * matches × bookmakers × markets × 3 selections × 14) rows —
    * independent of tick rate, and tunable via the watermark. */
  def priceHistory(normalized: DataFrame,
                   windowDur: String = "10 minutes",
                   slideDur: String = "5 minutes",
                   watermark: String = "1 hour"): DataFrame =
    normalized
      .withWatermark("captured_at", watermark)
      .select(col("match_id"), col("bookmaker"), col("market"),
        col("captured_at"), explode(col("selections")).as("sel"))
      .groupBy(
        window(col("captured_at"), windowDur, slideDur),
        col("match_id"), col("bookmaker"), col("market"),
        col("sel.name").as("selection"))
      .agg(
        count(lit(1)).as("ticks"),
        min_by(col("sel.price"), col("captured_at")).as("open"),
        max_by(col("sel.price"), col("captured_at")).as("close"),
        min(col("sel.price")).as("low"),
        max(col("sel.price")).as("high"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("match_id"), col("bookmaker"), col("market"), col("selection"),
        col("ticks"), col("open"), col("close"), col("low"), col("high"))

  /** Drain-available pipeline over a snapshot-drop directory (the 300 s
    * loop runs the same graph with a ProcessingTime trigger). */
  def runOnce(spark: SparkSession, inputDir: String, tableDir: String,
              checkpointDir: String): StreamingQuery =
    LiveScores.startUpsert(spark, RawSchema, inputDir, checkpointDir,
      Trigger.AvailableNow())(raw => withDedup(normalize(raw)))(
      upsertBatch(_, _, tableDir))
}
