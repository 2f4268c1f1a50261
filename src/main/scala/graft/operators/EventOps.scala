package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-stream (temporal) queries over the `events` table — the batch
  * equivalents of the reference's live-score/odds micro-stream semantics
  * (SURVEY.md §2.10): last-writer-wins state, as-of lookback, SCD2
  * historization, JSON payload extraction, calendar rollups, sessions.
  *
  * All event-time arithmetic uses `ts_ms` (epoch millis, long) — derived
  * by [[Tables.events]] for whichever physical `ts` encoding the corpus
  * carries, matching DuckDB's `epoch_ms(ts)` exactly, so cross-engine
  * ordering and bucketing agree.
  */
object EventOps {

  /** 2024-01-20 UTC — mid-corpus cutoff splitting "current" vs "staged". */
  private val CutoffMs = 1705708800000L

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir) // ts_ms/ts_utc derived there, schema-adaptively

  /** W7/T5 — latest event per key (last-writer-wins read). */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame =
    Ranking.latestPerKey(
      events(spark, dir).select("user_id", "event_id", "event_type", "value", "ts_ms"),
      Seq(col("user_id")), Seq(col("ts_ms"), col("event_id")))
      .orderBy("user_id")

  /** J11-family as-of join: each purchase paired with the user's most
    * recent strictly-earlier view event. */
  def purchasesWithPriorView(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value", "ts_ms")
    val views = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "value", "ts_ms")
    AsOfJoin.asOf(purchases, views,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts_ms", rightTime = "ts_ms",
        rightPayload = Seq("event_id", "value", "ts_ms"),
        strict = true, rightTieBreak = Some("event_id"))
      .withColumn("gap_ms", col("ts_ms") - col("asof_ts_ms"))
      .orderBy("event_id")
  }

  /** SCD2 historization of per-user state from the event log. */
  def userValueScd2(spark: SparkSession, dir: String): DataFrame =
    Merge.scd2(
      events(spark, dir).select("user_id", "event_id", "value", "ts_ms"),
      keys = Seq("user_id"), orderCol = col("ts_ms"), tieBreak = col("event_id"))
      .select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from", "event_id")

  /** F22 — JSON payload extraction + grouped rollup. */
  def jsonPropsStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("k")).as("k_sum"),
        countDistinct(col("user_id")).as("user_cnt"),
        // per-OBSERVATION average: dividing by all events treated every
        // missing/unparsable $.k as 0, deflating the mean
        count(col("k")).as("__k_cnt"))
      .withColumn("k_avg", col("k_sum").cast("double") / col("__k_cnt"))
      .drop("__k_cnt")
      .orderBy("event_type")

  /** K1+K10 — upsert with COALESCE column preservation: merge the
    * pre-cutoff state snapshot with post-cutoff updates where some staged
    * values are NULL (and must preserve the current value). */
  def upsertCoalesceMerge(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select("user_id", "value", "ts_ms", "event_id")
    def latest(df: DataFrame): DataFrame =
      Ranking.latestPerKey(df, Seq(col("user_id")), Seq(col("ts_ms"), col("event_id")))
    val current = latest(e.filter(col("ts_ms") < CutoffMs))
    val staged = latest(e.filter(col("ts_ms") >= CutoffMs))
      .withColumn("value", when(col("value") < 50, lit(null)).otherwise(col("value")))
    Merge.coalesceMerge(current, staged,
        keys = Seq("user_id"), valueCols = Seq("value", "ts_ms"))
      .orderBy("user_id")
  }

  /** T7/A2 — calendar (tumbling-window) rollup by epoch week bucket. */
  def weeklyEventRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("week_bucket", expr("ts_ms div 604800000"))
      .groupBy("week_bucket", "event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .orderBy("week_bucket", "event_type")

  /** Open/close snapshot extraction (reference match_odd `price_type ∈
    * {open, close}`, schema.sql:729-745): first and last value per key per
    * day in one windowed pass — the time-series endpoints pattern. */
  def openCloseDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("day", expr("ts_ms div 86400000"))
    val asc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val desc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    e.withColumn("rna", row_number().over(asc))
      .withColumn("rnd", row_number().over(desc))
      .groupBy("user_id", "day")
      .agg(
        max(when(col("rna") === 1, col("value"))).as("open_value"),
        max(when(col("rnd") === 1, col("value"))).as("close_value"),
        count(lit(1)).as("ticks"))
      .orderBy("user_id", "day")
  }

  /** Sliding event-time window (7-day window, 1-day slide): each event
    * contributes to the 7 overlapping windows that contain it —
    * `explode(sequence(...))` fan-out + groupBy, the batch formulation of
    * `window(ts, "7 days", "1 day")`. Fan-out factor = window/slide (7),
    * constant per row — scales linearly. */
  def slidingDailyActivity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day", expr("ts_ms div 86400000"))
      .withColumn("window_start_day",
        explode(expr("sequence(day - 6, day)")))
      .groupBy("window_start_day")
      .agg(
        count(lit(1)).as("events_in_window"),
        countDistinct(col("user_id")).as("active_users"))
      .orderBy("window_start_day")

  /** Sequential funnel: view → click → purchase, each stage strictly after
    * the user's entry into the previous one. Three keyed min-aggregations
    * + two broadcast-size joins — no per-user iteration, no window over
    * the full log. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select("user_id", "event_type", "ts_ms")
    def stage(typ: String, after: Option[DataFrame]): DataFrame = {
      val base = e.filter(col("event_type") === typ)
      val gated = after match {
        case Some(prev) => base.join(prev, "user_id")
          .filter(col("ts_ms") > col("stage_ms")).drop("stage_ms")
        case None => base
      }
      gated.groupBy("user_id").agg(min(col("ts_ms")).as("stage_ms"))
    }
    val views = stage("view", None)
    val clicks = stage("click", Some(views))
    val purchases = stage("purchase", Some(clicks))
    views.agg(count(lit(1)).as("viewed"))
      .crossJoin(clicks.agg(count(lit(1)).as("clicked")))
      .crossJoin(purchases.agg(count(lit(1)).as("purchased")))
      .withColumn("click_rate", col("clicked").cast("double") / col("viewed"))
      .withColumn("purchase_rate", col("purchased").cast("double") / col("clicked"))
  }

  /** Cohort retention: users grouped by first-seen week; per (cohort,
    * weeks-since) distinct active users and retention ratio. The classic
    * two-aggregation + broadcast-join cohort plan. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), expr("ts_ms div 604800000").as("week"))
    val cohorts = e.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week").agg(countDistinct(col("user_id")).as("cohort_size"))
    val active = e.join(cohorts, "user_id")
      .withColumn("weeks_since", col("week") - col("cohort_week"))
      .groupBy("cohort_week", "weeks_since")
      .agg(countDistinct(col("user_id")).as("active_users"))
    active.join(sizes, "cohort_week")
      .withColumn("retention", col("active_users").cast("double") / col("cohort_size"))
      .select("cohort_week", "weeks_since", "active_users", "cohort_size", "retention")
      .orderBy("cohort_week", "weeks_since")
  }

  /** Gap-based sessionization (1 h) + per-session rollup. */
  def userSessions(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionize(
      events(spark, dir).select("user_id", "event_id", "value", "ts_ms"),
      key = col("user_id"), tsMs = col("ts_ms"), tieBreak = col("event_id"),
      gapMs = 3600000L)
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("event_cnt"),
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
      .orderBy("user_id", "session_seq")

  /** Gap-fill / resample (q_gap_fill): project each user's event stream
    * onto a regular DAILY grid spanning [first, last] active day and
    * forward-fill the close-of-day value across silent days — the
    * time-series regularization every downstream model/report assumes
    * (reference analogue: market-value and odds histories are sparse
    * snapshots read as if continuous, schema.sql market_value/odds
    * keying). `is_observed` distinguishes carried values from real ones.
    *
    * Scale shape: close-of-day state is a max_by aggregate (map-side
    * combining, no ranked window over the raw log); the spine explode is
    * bounded by each user's day RANGE (grid size, not event count); the
    * forward fill partitions by user — per-key frames, never a global
    * window. */
  def gapFillDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts_ms div 86400000").as("day"), col("ts_ms"))
    val daily = Ranking.latestPerKey(e,
        Seq(col("user_id"), col("day")), Seq(col("ts_ms"), col("event_id")))
      .select(col("user_id"), col("day"), col("value"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_value", last(col("value"), ignoreNulls = true).over(w))
      .withColumn("is_observed", col("value").isNotNull)
      .select("user_id", "day", "filled_value", "is_observed")
      .orderBy("user_id", "day")
  }

  /** Markov transition matrix over each user's event-type sequence
    * (q_transitions): P(next event type | current event type) estimated
    * from adjacent-event pairs — the sequence-mining staple behind
    * next-action prediction and funnel-drop diagnosis (the reference
    * walks per-match event sequences in Python for exactly this shape of
    * question; here it's two aggregates).
    *
    * Scale shape: the only window partitions by user and orders by the
    * engine's (ts_ms, event_id) total order — per-key frames, state
    * bounded by a user's events. Pair counts shuffle on the
    * (type, type) key (|types|² cardinality, tiny); totals are a
    * broadcast. `p` is one IEEE division of exact longs. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy("prev_type").agg(sum(col("cnt")).as("total"))
    pairs.join(broadcast(totals), "prev_type")
      .withColumn("p", col("cnt").cast("double") / col("total"))
      .select("prev_type", "next_type", "cnt", "p")
      .orderBy("prev_type", "next_type")
  }

  /** Markov next-event predictor accuracy (q_markov_acc): how well does
    * the order-1 chain from [[eventTransitions]] predict the next event?
    * — the sequence-model baseline every session model must beat (the
    * event-stream sibling of the majority-class accuracy floor in
    * q_label_balance). Per previous type the predictor is the argmax
    * next type (min-struct on (−cnt, type): deterministic, smallest
    * type on ties); accuracy = the predicted cell's mass over the row
    * mass — exact-count ratios on the |types|²-bounded pair frame, ONE
    * fact pass total (train = eval corpus, which is what a BASELINE
    * audit wants: the ceiling an order-1 predictor can reach). */
  def markovAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = graft.scale.Silver.scratch(
      events(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("cnt")),
      "markov_pairs") // feeds the argmax and the accuracy rollup
    val pred = pairs.groupBy("prev_type")
      .agg(min(struct((-col("cnt")).as("nc"), col("next_type").as("nt")))
        .as("m"))
      .select(col("prev_type"), col("m.nt").as("pred_next"))
    pairs.join(broadcast(pred), "prev_type")
      .groupBy(col("prev_type"), col("pred_next"))
      .agg(sum(col("cnt")).as("n_pairs"),
        sum(when(col("next_type") === col("pred_next"), col("cnt"))
          .otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_pairs").cast("double"))
      .orderBy("prev_type")
  }

  /** Stationary distribution of the event-type Markov chain
    * (q_stationary): where does a user's session settle in the long
    * run? — π = πP by integer power iteration over
    * [[eventTransitions]]' count matrix, the
    * [[graft.scale.EmbedStats.pcaPowerQuery]] device applied to the
    * |types|²-cell chain. Each round's mass flow is
    * `(x_src·c) div r_src` per cell (truncating division on
    * non-negative operands — engine-identical; the ≤|types| dropped
    * remainder micro-units per state are the documented quantization)
    * and the iterate renormalizes to 10⁶ total via one more `div`; a
    * zero-filled state spine keeps never-entered states at mass 0.
    * All frames after the one fact pass are |types|-sized. */
  def stationaryDistribution(spark: SparkSession, dir: String,
                             iters: Int = 12): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val counts = graft.scale.Silver.materialize(
      events(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("c")),
      "stationary_counts") // feeds P (every round) and the state spine
    // Sink states (event types appearing only as dst, never src) get a
    // self-loop row (c=r=1): without one, `p.join(x, "src")` DROPPED
    // their mass every round and renormalization redistributed it — the
    // opposite of a chain with an absorbing state, whose stationary mass
    // concentrates there. Mirrored in the DuckDB unrolled-CTE oracle.
    val sinks = counts.select(col("dst")).distinct()
      .join(counts.select(col("src").as("dst")).distinct(), Seq("dst"), "left_anti")
      .select(col("dst").as("src"), col("dst"), lit(1L).as("c"), lit(1L).as("r"))
    val p = graft.scale.Silver.materialize(
      counts.join(
        counts.groupBy("src").agg(sum(col("c")).as("r")), "src")
        .unionByName(sinks),
      "stationary_p")
    // r14: the power iteration runs DRIVER-SIDE on the collected
    // transition matrix — the BPE-style bounded collect (see
    // EmbedStats.pcaComponent for the full argument): p is
    // |event types|²-bounded regardless of corpus size (the corpus was
    // already reduced by the one windowed fact pass above), and the 12
    // renormalized rounds previously cost ~50 distributed jobs + a
    // per-round broadcast re-executing the iterate subtree for
    // microseconds of arithmetic. BigInt products replay the exact
    // `(x*c) div r` / `(y*10⁶) div ty` long arithmetic (operands
    // non-negative, truncating = flooring); the guard fails loudly if
    // re-pointed at an unbounded frame.
    val pRows = p.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    require(pRows.length <= graft.scale.Bounded.maxCells(spark),
      s"stationaryDistribution: transition matrix must be |types|²-bounded, " +
        s"got ${pRows.length} rows (cap: spark.graft.collect.maxCells)")
    val spine = (pRows.map(_._1) ++ pRows.map(_._2)).distinct.sorted
    var xv: Map[String, BigInt] = spine.map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to iters) {
      val y0 = pRows.groupBy(_._2).map { case (dst, rs) =>
        dst -> rs.map { case (src, _, c, r) => (xv(src) * c) / r }.sum
      }
      val filled = spine.map(t => t -> y0.getOrElse(t, BigInt(0))).toMap
      val ty = filled.values.sum
      require(spine.isEmpty || ty > 0,
        "stationaryDistribution: zero total mass — renormalization undefined")
      xv = filled.map { case (t, yt) => t -> (yt * 1000000) / ty }
    }
    spark.createDataFrame(spine.toSeq.map(t => (t, xv(t).toLong)))
      .toDF("event_type", "pi_micro")
      .select(col("event_type"), col("pi_micro"),
        (col("pi_micro").cast("double") / lit(1000000.0)).as("pi"))
      .orderBy("event_type")
  }

  /** Half-life-decayed recency-weighted value per user (q_decay): the
    * EWMA-style "recent form counts double" metric (reference: recent-form
    * weighting in engine.py's team form) made cross-engine-exact. The
    * usual exp(-λ·age) is IEEE-accumulation-order-dependent; instead the
    * last `horizon` events get exact power-of-two weights (newest =
    * 2^(horizon−1), halving per step back), values are floored to integer
    * cents, and the weighted sum accumulates in longs — the only IEEE op
    * is the final division. Bounded weights also bound the sum:
    * |Σ w·cents| ≤ 2^16 · maxcents · 16 ≪ 2^63.
    *
    * Scale shape: one per-user ranked window (per-key frames), one keyed
    * aggregation. No cross-key state. */
  def decayedUserValue(spark: SparkSession, dir: String, horizon: Int = 16): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= horizon)
      .withColumn("wgt", expr(s"shiftleft(cast(1 as bigint), $horizon - r)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_recent"),
        sum(col("wgt") * col("cents")).as("wsum"),
        sum(col("wgt")).as("wtot"))
      .withColumn("decayed_cents", col("wsum").cast("double") / col("wtot"))
      .select("user_id", "n_recent", "wsum", "wtot", "decayed_cents")
      .orderBy("user_id")
  }

  /** Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    * classic streak pattern — engagement streaks, uptime runs, odds
    * continuity). Island key = day − row_number over the user's distinct
    * active days: constant exactly while days are consecutive. The
    * window partitions by user (per-key state stays on one executor,
    * bounded by a user's distinct days), then two group-keyed
    * aggregations — no self-join, no per-user loop (the reference's
    * form-string scan, engine.py:143-191, is the O(users×events)
    * Python version of this). */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = events(spark, dir)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w).cast("long"))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy("user_id")
      .agg(
        sum(col("len")).as("active_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** Interval union (q_interval_union): merge each user's overlapping
    * activity intervals ([ts, ts+5 min) per event) and report the merged
    * interval count and total covered milliseconds — the "how much wall-
    * clock was this key actually active" measure (uptime from heartbeats,
    * effective session coverage; the VALUE-overlap sibling of the
    * gap-based [[userSessions]]). Classic sweep: an interval starts a new
    * merged run iff its start exceeds the running max end of all earlier
    * intervals.
    *
    * Determinism: intervals are pre-collapsed to one per (user, start) —
    * equal starts would otherwise make the "preceding rows" frame
    * order-ambiguous across engines; after the collapse the per-user
    * (start) order is total. Both windows partition by user (per-key
    * frames); the rollup is two keyed aggregations. All arithmetic is
    * exact longs. */
  def intervalUnion(spark: SparkSession, dir: String,
                    lenMs: Long = 300000L): DataFrame = {
    val iv = events(spark, dir)
      .select(col("user_id"), col("ts_ms").as("s"))
      .distinct()
      .withColumn("e", col("s") + lenMs)
    val before = Window.partitionBy(col("user_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.partitionBy(col("user_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = iv
      .withColumn("maxe", max(col("e")).over(before))
      .withColumn("fresh",
        (col("maxe").isNull || col("s") > col("maxe")).cast("long"))
      .withColumn("island", sum(col("fresh")).over(upto))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("i_end") - col("i_start")).as("covered_ms"))
      .orderBy("user_id")
  }

  /** Conversion-lag distribution (q_conv_lag): how long between a user's
    * purchase and their most recent prior view, profiled by purchase
    * day-of-week — the e-commerce "time to convert" report, built on the
    * SAME as-of join as [[purchasesWithPriorView]] (one union-sort pass,
    * no row multiplication). Purchases with no prior view are excluded
    * (stated policy — they have no lag). Day-of-week is computed as
    * [[graft.functions.EpochCal.dowFromEpochDay]] ((epoch_day + 3) mod 7,
    * 0 = Monday — java.time-gated in ThirdSourceSpec) in plain integer arithmetic:
    * calendar functions differ across engines/locales, epoch arithmetic
    * cannot. `mean_ms` is exact integer division; the exact interpolated
    * median matches DuckDB's quantile_cont. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value", "ts_ms")
    val views = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "value", "ts_ms")
    AsOfJoin.asOf(purchases, views,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts_ms", rightTime = "ts_ms",
        rightPayload = Seq("ts_ms"),
        strict = true)
      .filter(col("asof_ts_ms").isNotNull)
      .select(
        graft.functions.EpochCal.dowFromEpochDay(
          expr("ts_ms div 86400000")).as("dow"),
        (col("ts_ms") - col("asof_ts_ms")).as("lag_ms"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n"),
        expr("sum(lag_ms) div count(1)").as("mean_ms"),
        expr("percentile(lag_ms, 0.5)").as("median_ms"),
        max(col("lag_ms")).as("max_ms"))
      .orderBy("dow")
  }

  /** Day-of-week seasonality profile (q_seasonality): event volume per
    * (type, weekday) with each cell's share of its type's total — the
    * weekly-rhythm heatmap behind staffing/scheduling views. Weekday by
    * epoch arithmetic (see [[conversionLag]]); shares are single IEEE
    * divisions of exact longs; totals ride a broadcast (|types| rows). */
  def weekdaySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .groupBy(col("event_type"),
        graft.functions.EpochCal.dowFromEpochDay(
          expr("ts_ms div 86400000")).as("dow"))
      .agg(count(lit(1)).as("cnt"))
    val totals = cells.groupBy("event_type").agg(sum(col("cnt")).as("total"))
    cells.join(broadcast(totals), "event_type")
      .withColumn("share", col("cnt").cast("double") / col("total"))
      .select("event_type", "dow", "cnt", "share")
      .orderBy("event_type", "dow")
  }

  /** Deterministic A/B comparison (q_ab_lift): split users into two
    * stable arms by the md5-parity of their id (the same replayable
    * hash-bucketing as TrainingData's splits — re-runs and engines
    * agree), compare purchase-value mass per arm, and report the lift.
    * One conditional-aggregate pass over purchases; cents are exact
    * longs (floor(value·100)); the three ratios are single IEEE
    * divisions. The single-row output is the experiment-dashboard
    * shape. */
  /** The experiment arm assignment — ONE definition shared by the lift
    * measurement and its SRM guardrail: if these ever diverged (salt,
    * substring width, modulus), the guardrail would silently validate a
    * different assignment than the one producing the lift number. */
  private def abArm(userId: Column): Column =
    pmod(conv(substring(md5(concat(lit("ab:"), userId)), 1, 15),
      16, 10).cast("long"), lit(2))

  def abLift(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        abArm(col("user_id")).as("arm"),
        floor(col("value") * 100).cast("long").as("cents"))
    p.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("sum_a"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("sum_b"))
      .withColumn("mean_a", col("sum_a").cast("double") / col("n_a"))
      .withColumn("mean_b", col("sum_b").cast("double") / col("n_b"))
      .withColumn("lift",
        (col("mean_b") - col("mean_a")) / col("mean_a"))
      .select("n_a", "n_b", "sum_a", "sum_b", "mean_a", "mean_b", "lift")
  }

  /** Sample-ratio mismatch check (q_srm): is [[abLift]]'s md5-parity
    * split actually 50/50 at the USER grain? The experimentation-
    * platform guardrail that runs before any lift number is believed —
    * a skewed split means the assignment itself is broken and the
    * experiment is void. χ² against the half/half expectation is two
    * fixed-order cell terms over exact counts; the flag compares against
    * the literal 3.841 (χ²₁, α=0.05) — no distribution function runs. */
  /** χ²₁ critical value at α = 0.05, the classic 3-decimal table entry
    * (= z²_{0.975} = 3.84146 → 3.841). Shared verbatim with the oracle
    * SQL; third-sourced in ThirdSourceSpec as the square of Acklam's
    * inverse normal at 0.975. */
  private[graft] val Chi2Df1Crit95_3dp = 3.841

  def sampleRatioMismatch(spark: SparkSession, dir: String): DataFrame = {
    val users = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
      .select(abArm(col("user_id")).as("arm"))
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("expect",
        (col("n_a") + col("n_b")).cast("double") / lit(2.0))
      .withColumn("chi2",
        (col("n_a").cast("double") - col("expect")) *
          (col("n_a").cast("double") - col("expect")) / col("expect") +
        (col("n_b").cast("double") - col("expect")) *
          (col("n_b").cast("double") - col("expect")) / col("expect"))
      .withColumn("srm_detected", col("chi2") > lit(Chi2Df1Crit95_3dp))
      .select("n_a", "n_b", "expect", "chi2", "srm_detected")
  }

  /** RFM segmentation (q_rfm): the classic customer-value triage —
    * Recency (days since last purchase, vs the corpus horizon),
    * Frequency (purchase count), Monetary (exact cents) — each coded
    * into terciles against EXACT interpolated percentile thresholds
    * (percentile ≡ DuckDB quantile_cont; thresholds are a one-row
    * broadcast, codes are plain comparisons, so the fact stream is never
    * ranked). rfm_code = 100·r + 10·f + m with 1 = best tercile.
    * Recency codes invert (small gap = best); ties at a threshold go to
    * the better code via the ≤ comparisons, identically in both engines
    * (same IEEE threshold, same comparison). */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
    val u = graft.scale.Silver.scratch(
      p.groupBy("user_id")
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("f_cnt"),
          sum(col("cents")).as("m_cents")),
      "rfm_users") // feeds the horizon, the thresholds, and the coding
    val horizon = u.agg(max(col("last_day")).as("h"))
    val r = u.crossJoin(horizon)
      .withColumn("r_days", col("h") - col("last_day"))
      .select("user_id", "r_days", "f_cnt", "m_cents")
    val th = r.agg(
      expr("percentile(r_days, 0.33)").as("r1"),
      expr("percentile(r_days, 0.67)").as("r2"),
      expr("percentile(f_cnt, 0.33)").as("f1"),
      expr("percentile(f_cnt, 0.67)").as("f2"),
      expr("percentile(m_cents, 0.33)").as("m1"),
      expr("percentile(m_cents, 0.67)").as("m2"))
    def code(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
             hi: org.apache.spark.sql.Column,
             invert: Boolean): org.apache.spark.sql.Column =
      if (invert) when(v <= lo, 1L).when(v <= hi, 2L).otherwise(3L)
      else when(v <= lo, 3L).when(v <= hi, 2L).otherwise(1L)
    r.crossJoin(th)
      .withColumn("r_code", code(col("r_days"), col("r1"), col("r2"), invert = true))
      .withColumn("f_code", code(col("f_cnt"), col("f1"), col("f2"), invert = false))
      .withColumn("m_code", code(col("m_cents"), col("m1"), col("m2"), invert = false))
      .withColumn("rfm_code",
        col("r_code") * 100 + col("f_code") * 10 + col("m_code"))
      .select("user_id", "r_days", "f_cnt", "m_cents",
        "r_code", "f_code", "m_code", "rfm_code")
      .orderBy("user_id")
  }

  /** Point-in-time reconstruction (q_time_travel): the state of every
    * user AS OF the mid-corpus cutoff, read from the SCD2 historization
    * — `valid_from ≤ T < valid_to` selects exactly one interval per key
    * that existed at T. The "what did the table look like last Tuesday"
    * query SCD2 exists to answer; one filter over the windowed history,
    * no extra shuffle beyond [[userValueScd2]]'s per-key frame. */
  def timeTravel(spark: SparkSession, dir: String,
                 atMs: Long = CutoffMs): DataFrame =
    Merge.scd2(
        events(spark, dir).select("user_id", "event_id", "value", "ts_ms"),
        keys = Seq("user_id"), orderCol = col("ts_ms"), tieBreak = col("event_id"))
      .filter(col("valid_from") <= atMs &&
        (col("valid_to").isNull || col("valid_to") > atMs))
      .select("user_id", "event_id", "value", "valid_from")
      .orderBy("user_id")

  /** Frequent 3-event paths (q_paths): the order-2 extension of
    * [[eventTransitions]] — which (t₁ → t₂ → t₃) journeys actually
    * happen, the input to funnel design rather than funnel measurement.
    * Two leads over the same per-user (ts_ms, event_id) total order, a
    * |types|³-bounded count, top-20. */
  def frequentPaths(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path").asc)
      .limit(k)
  }

  /** Churn report (q_churn): per user, last active day, volume, and the
    * churn flag (no activity in the corpus's final 30 days) — the
    * retention denominator every lifecycle dashboard starts from. One
    * keyed aggregate + a one-row broadcast horizon; the flag is exact
    * integer arithmetic. */
  def churn(spark: SparkSession, dir: String, horizonDays: Int = 30): DataFrame = {
    val u = graft.scale.Silver.scratch(
      events(spark, dir)
        .groupBy("user_id")
        .agg(max(expr("ts_ms div 86400000")).as("last_day"),
          count(lit(1)).as("n_events")),
      "churn_users") // feeds the horizon and the flagging
    val h = u.agg(max(col("last_day")).as("max_day"))
    u.crossJoin(h)
      // <= : "no activity in the corpus's final horizonDays days" means a
      // user last seen ON day max_day - horizonDays has been silent for
      // exactly horizonDays days and IS churned; strict < required 31.
      .withColumn("churned", col("last_day") <= col("max_day") - horizonDays)
      .select("user_id", "last_day", "n_events", "churned")
      .orderBy("user_id")
  }

  /** Inter-purchase gap distribution (q_purchase_gaps): the corpus-wide
    * distribution of time between a user's consecutive purchases — the
    * replenishment-cycle statistic behind send-time optimization and
    * churn-risk horizons (a user 3× past their typical gap is at risk;
    * [[churn]]'s fixed 30-day cut is this query's output made static).
    * Per-user lag window (per-key frames), then ONE global aggregate
    * row: exact mean (integer division), exact interpolated p50/p90,
    * max. */
  def purchaseGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select((col("ts_ms") - col("prev_ts")).as("gap_ms"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("sum(gap_ms) div count(1)").as("mean_ms"),
        expr("percentile(gap_ms, 0.5)").as("p50_ms"),
        expr("percentile(gap_ms, 0.9)").as("p90_ms"),
        max(col("gap_ms")).as("max_ms"))
  }

  /** Exact anomalous-day detection (q_anomaly_days): days whose volume
    * sits more than `sigma` population standard deviations from the
    * type's daily mean — flagged ENTIRELY in integer arithmetic:
    * (n·x − Σx)² > σ²·(n·Σx² − (Σx)²) is z² > σ² with both sides
    * multiplied through by n², so the filter is exact (no σ, no sqrt,
    * no FP at all — the same moments trick as [[Regression.groupedOls]]
    * taken one step further). One (type, day) count, one type-keyed
    * moment rollup broadcast back over the daily table. */
  def anomalousDays(spark: SparkSession, dir: String,
                    sigma: Int = 2): DataFrame = {
    val daily = graft.scale.Silver.scratch(
      events(spark, dir)
        .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
        .agg(count(lit(1)).as("x")),
      "anom_daily") // feeds the moments and the flagging
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    daily.join(broadcast(m), "event_type")
      .withColumn("dev", col("n") * col("x") - col("sx"))
      .filter(col("dev") * col("dev") >
        lit(sigma.toLong * sigma) * (col("n") * col("sxx") - col("sx") * col("sx")))
      .select("event_type", "day", "x")
      .orderBy("event_type", "day")
  }

  /** Weekly growth accounting (q_growth_accounting): the canonical
    * new / retained / resurrected / churned decomposition of weekly
    * active users — the growth-team ledger where every active user is
    * exactly one of {new, retained, resurrected} and churn is counted
    * against the week the user went silent. Built from the distinct
    * (user, week) activity frame: presence-in-previous-week is an
    * equi-join against the week-shifted frame (the lag-join discipline
    * — nothing windows over the user timeline), first-week from one
    * keyed min, churn via a shifted anti-join. All counts exact longs.
    *
    * Scale shape: the activity frame is materialized once and every
    * classification is a (user_id, week)-keyed join against it —
    * co-partitioned, linear, skew-free. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = graft.scale.Silver.scratch(
      events(spark, dir)
        .select(col("user_id"), expr("ts_ms div 604800000").as("w"))
        .distinct(),
      "growth_uw") // feeds first-week, the lag join, and the churn anti-join
    val first = uw.groupBy("user_id").agg(min(col("w")).as("w0"))
    val shifted = uw.select(col("user_id"), (col("w") + 1).as("w"))
    val classified = uw
      .join(first, "user_id")
      .join(shifted.withColumn("was_prev", lit(1L)), Seq("user_id", "w"), "left")
      .select(col("w"),
        when(col("w") === col("w0"), 1L).otherwise(0L).as("is_new"),
        when(col("was_prev").isNotNull && col("w") =!= col("w0"), 1L)
          .otherwise(0L).as("is_retained"),
        when(col("was_prev").isNull && col("w") =!= col("w0"), 1L)
          .otherwise(0L).as("is_resurrected"))
      .groupBy("w")
      .agg(sum(col("is_new")).as("n_new"),
        sum(col("is_retained")).as("n_retained"),
        sum(col("is_resurrected")).as("n_resurrected"))
    val churned = shifted.join(uw, Seq("user_id", "w"), "left_anti")
      .groupBy("w").agg(count(lit(1)).as("n_churned"))
    // Clipped to the corpus horizon: `shifted` extends one week past the
    // last observed week, where EVERY final-week active would count as
    // churned — a phantom 100%-churn row with no observation window
    // behind it (right-censoring). Weeks beyond max(w) are not emitted.
    val bounds = uw.agg(max(col("w")).as("wmax"))
    classified.join(churned, Seq("w"), "full_outer")
      .crossJoin(bounds)
      .filter(col("w") <= col("wmax"))
      .select(col("w"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("w")
  }

  /** DAU/WAU/MAU stickiness (q_stickiness): per day, distinct users
    * active in the trailing 7 and trailing 28 days and their ratio —
    * the engagement-quality ratio product teams watch (1.0 = every
    * monthly user shows up weekly). Batch formulation: constant-factor
    * explode of the distinct (user, day) frame into the windows each
    * day belongs to (7× and 28× — fan-out bounded by the window, never
    * by data), then one exact distinct count per window anchor; the
    * ratio is the single IEEE division. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = graft.scale.Silver.scratch(
      events(spark, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
        .distinct(),
      "stick_ud") // feeds both window fan-outs
    def windowed(days: Int, name: String) = ud
      .withColumn("anchor", explode(sequence(col("day"), col("day") + (days - 1))))
      .groupBy("anchor")
      .agg(countDistinct(col("user_id")).as(name))
    val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    // The 28-day frame is the spine and the 7-day side joins LEFT with a
    // 0 fallback: an anchor with monthly-but-no-weekly activity (a 7-day
    // ingestion gap) must report wau=0, stickiness=0.0 — the inner join
    // silently dropped those days, leaving holes in the time series.
    windowed(28, "mau")
      .join(windowed(7, "wau"), Seq("anchor"), "left")
      .withColumn("wau", coalesce(col("wau"), lit(0L)))
      .crossJoin(bounds)
      .filter(col("anchor") >= col("d0") && col("anchor") <= col("d1"))
      .withColumn("stickiness", col("wau").cast("double") / col("mau"))
      .select(col("anchor").as("day"), col("wau"), col("mau"), col("stickiness"))
      .orderBy("day")
  }

  /** Burstiness per event type (q_fano): the Fano factor (variance-to-
    * mean ratio) of the DAILY event-count series — ≈1 for Poisson-like
    * arrivals, ≫1 for bursty traffic (flash crowds, batch backfills,
    * scraper retries). Computed from exact integer moments over the
    * daily counts: fano = (n·Σx² − (Σx)²) / (n·Σx) — numerator and
    * denominator exact longs (daily counts are small; products ≪ 2⁶³),
    * one IEEE division at the end, same portability design as
    * [[Regression.groupedOls]].
    *
    * Scale shape: one (type, day)-keyed count (map-side combining), one
    * type-keyed moment rollup. Nothing passes a window. */
  def dailyFano(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("mean",
        col("sx").cast("double") / col("n_days"))
      .withColumn("fano",
        (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("n_days") * col("sx")))
      .select("event_type", "n_days", "sx", "mean", "fano")
      .orderBy("event_type")
  }

  /** Gap-based debounce audit (q_debounce): per event type, how much of
    * the stream is "bounce" — an event arriving within `gapMs` of the
    * user's previous event of the same type. The kept/dropped split is
    * the batch shape of a streaming debounce filter (the dedup guard a
    * collector puts in front of at-least-once ingestion; reference: the
    * live-score upsert discarding unchanged re-deliveries,
    * src/database/manager.py:122-151). One shuffle on (user, type); the
    * lag is a per-key window over that partitioning. */
  def debounceStats(spark: SparkSession, dir: String,
                    gapMs: Long = 300000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .withColumn("kept",
        col("prev_ts").isNull || col("ts_ms") - col("prev_ts") >= gapMs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .withColumn("drop_rate",
        col("n_dropped").cast("double") / col("n_total").cast("double"))
      .orderBy("event_type")
  }

  /** Out-of-order arrival audit (q_ooo_rate): per event type, how often
    * an event's event-time runs BEHIND the stream's high-water mark when
    * replayed in arrival order (event_id as the arrival proxy) — the
    * batch measurement that sizes a streaming watermark
    * (`withWatermark`'s allowed-lateness is exactly max_lateness_ms).
    * One (user, type) shuffle; the running max is a per-key window. */
  def outOfOrderRate(spark: SparkSession, dir: String): DataFrame =
    outOfOrderRateOf(events(spark, dir))

  /** Core of [[outOfOrderRate]] over any (user_id, event_type, event_id,
    * ts_ms) frame — the driver corpus is perfectly ordered (the audit's
    * answer there is a true all-zeros row set), so the late path is
    * exercised by spec on a synthetic out-of-order stream. */
  def outOfOrderRateOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ms"))
      .withColumn("hwm", max(col("ts_ms")).over(w))
      .withColumn("late",
        col("hwm").isNotNull && col("ts_ms") < col("hwm"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("late"), col("hwm") - col("ts_ms")))
          .as("max_lateness_ms"))
      .na.fill(0L, Seq("max_lateness_ms"))
      .withColumn("late_rate",
        col("n_late").cast("double") / col("n_events").cast("double"))
      .orderBy("event_type")
  }

  /** Cart-abandonment rate by day (q_abandonment): per view day, how
    * many views converted to a purchase by the same user within 24 h,
    * and how many were abandoned. The "did a purchase follow?" test is
    * the [[nearestViewToPurchase]] single-pass trick mirrored: one
    * per-user ordered window carrying the running MIN of upcoming
    * purchase times — no view×purchase join. */
  def abandonment(spark: SparkSession, dir: String,
                  windowMs: Long = 86400000L): DataFrame = {
    val e = events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ms"))
    val ahead = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("next_purchase",
        min(when(col("event_type") === "purchase", col("ts_ms"))).over(ahead))
      .filter(col("event_type") === "view")
      .withColumn("converted",
        col("next_purchase").isNotNull &&
          col("next_purchase") - col("ts_ms") <= windowMs)
      .groupBy(expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n_views"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
      .withColumn("abandon_rate",
        (col("n_views") - col("n_converted")).cast("double") /
          col("n_views").cast("double"))
      .orderBy("day")
  }

  /** Peak session concurrency (q_concurrency): the most 1-hour-gap user
    * sessions simultaneously open, and when — capacity planning's
    * headline number. Session intervals come from [[userSessions]]'s
    * grouping; the concurrency curve is the interval-stabbing delta
    * encoding (+1 at start, −1 AFTER end — end bounds are inclusive, so
    * the close fires at end+1ms) accumulated by
    * [[Ranking.distributedCumSum]]; the peak is an argmax over the
    * changepoint frame (ties → earliest). */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sessions = Sessionize.sessionize(
      events(spark, dir).select("user_id", "event_id", "ts_ms"),
      key = col("user_id"), tsMs = col("ts_ms"), tieBreak = col("event_id"),
      gapMs = 3600000L)
      .groupBy("user_id", "session_seq")
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
    val deltas = sessions
      .select(col("start_ms").as("t"), lit(1L).as("d"))
      .unionAll(sessions.select((col("end_ms") + 1L).as("t"), lit(-1L).as("d")))
      .groupBy("t").agg(sum(col("d")).as("delta"))
    val cum = Ranking.distributedCumSum(deltas, Seq(col("t").asc), Seq("delta"))
    val nSessions = sessions.agg(count(lit(1)).as("n_sessions"))
    cum.crossJoin(nSessions)
      .agg(first(col("n_sessions")).as("n_sessions"),
        min(struct((-col("cum_delta")).as("nc"), col("t"))).as("w"))
      .select(col("n_sessions"), (-col("w.nc")).as("peak_concurrent"),
        col("w.t").as("at_ms"))
  }

  /** Wilson-interval error-rate bounds per hour of day (q_error_bound):
    * the on-call question "is this hour's error rate actually elevated,
    * or is the sample just small?" answered with a proper confidence
    * interval instead of a raw share. Counts are one map-side-combining
    * aggregate; the Wilson score needs only +,−,×,÷ and sqrt — all
    * IEEE-exact — so the interval itself is oracle-portable (z² is
    * written as 1.96·1.96 in BOTH engines so constant folding yields the
    * identical double). */
  def errorRateBounds(spark: SparkSession, dir: String): DataFrame = {
    val z = lit(1.96)
    val counts = events(spark, dir)
      .groupBy((expr("ts_ms div 3600000") % 24).as("hour_of_day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))
    val nD = col("n").cast("double")
    counts
      .withColumn("share", col("errors").cast("double") / nD)
      .withColumn("center", col("share") + (z * z) / (lit(2.0) * nD))
      .withColumn("margin", z * sqrt(
        (col("share") * (lit(1.0) - col("share")) + (z * z) / (lit(4.0) * nD))
          / nD))
      .withColumn("denom", lit(1.0) + (z * z) / nD)
      .select(col("hour_of_day"), col("n"), col("errors"), col("share"),
        ((col("center") - col("margin")) / col("denom")).as("wilson_low"),
        ((col("center") + col("margin")) / col("denom")).as("wilson_high"))
      .orderBy("hour_of_day")
  }

  /** Cohort LTV matrix (q_cohort_ltv): cumulative purchase revenue per
    * signup-week cohort by age week, per-user — the revenue companion of
    * [[cohortRetention]]'s activity matrix. One keyed join tags each
    * purchase with its user's cohort; cells aggregate exact cents; the
    * cumulative pass is a per-cohort window over the weeks²-bounded cell
    * frame. Age weeks with no purchases yield no row (stated gap policy,
    * as [[graft.operators.Analytics.weekOverWeek]]). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val firstWeek = e.groupBy(col("user_id"))
      .agg(min(expr("ts_ms div 604800000")).as("cw"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_ms div 604800000").as("w"),
        col("value"))
    val cells = purchases.join(firstWeek, "user_id")
      .groupBy(col("cw"), (col("w") - col("cw")).as("age"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
          .as("rev_cents"))
    val cohortSize = firstWeek.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("cw")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(cohortSize), "cw")
      .select(col("cw").as("cohort_week"), col("age").as("age_week"),
        col("n_users"), col("n_purchases"), col("rev_cents"),
        col("cum_rev_cents"),
        (col("cum_rev_cents").cast("double") / col("n_users").cast("double"))
          .as("ltv_cents"))
      .orderBy("cohort_week", "age_week")
  }

  /** Dwell-time stats (q_dwell): per event type, the gap to the user's
    * NEXT event of any type — how long each action "holds" the user. The
    * lead is one per-user ordered window; stats are exact millisecond
    * integers with the mean as the single division. Last events (no
    * successor) are counted separately, not silently dropped. */
  def dwellStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("dwell_ms", lead(col("ts_ms"), 1).over(w) - col("ts_ms"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("dwell_ms").isNull, 1L).otherwise(0L)).as("n_terminal"),
        sum(col("dwell_ms")).as("dwell_sum_ms"),
        min(col("dwell_ms")).as("dwell_min_ms"),
        max(col("dwell_ms")).as("dwell_max_ms"))
      .withColumn("dwell_mean_ms",
        col("dwell_sum_ms").cast("double") /
          (col("n_events") - col("n_terminal")).cast("double"))
      .orderBy("event_type")
  }

  /** Nearest-event temporal join (q_nearest_event): each purchase paired
    * with the user's CLOSEST view event in either time direction (as-of
    * looks only backward; attribution often wants nearest). Both
    * directions come from one pass over the per-user ordered stream —
    * running max of view-times behind, running min ahead — so the cost is
    * one (user)-keyed shuffle, not two as-of joins. Ties (equidistant)
    * resolve to the earlier view. Purchases with no view at all drop. */
  def nearestViewToPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val behind = ord.rowsBetween(Window.unboundedPreceding, -1)
    val ahead = ord.rowsBetween(1, Window.unboundedFollowing)
    val viewTs = when(col("event_type") === "view", col("ts_ms"))
    e.withColumn("prev_view", max(viewTs).over(behind))
      .withColumn("next_view", min(viewTs).over(ahead))
      .filter(col("event_type") === "purchase" &&
        (col("prev_view").isNotNull || col("next_view").isNotNull))
      .withColumn("view_ts",
        when(col("next_view").isNull, col("prev_view"))
          .when(col("prev_view").isNull, col("next_view"))
          .when(col("ts_ms") - col("prev_view") <= col("next_view") - col("ts_ms"),
            col("prev_view"))
          .otherwise(col("next_view")))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("view_ts"), (col("view_ts") - col("ts_ms")).as("delta_ms"))
      .orderBy("event_id")
  }

  /** Multi-touch marketing attribution (q_attribution): which touch
    * channel (click vs view) gets credit for purchases? Each purchase
    * distributes exactly 1,000,000 integer micro-credits across the
    * user's touches in the strictly-prior `lookbackDays` window — the
    * linear model's per-touch share is `1000000 div k` (integer
    * division; the ≤k−1 remainder micro-credits are dropped, an
    * engine-identical rounding rule — never a float 1/k whose sum is
    * accumulation-order-dependent) — alongside the last-touch model
    * where the single latest touch (ties broken by event id) takes all.
    *
    * Scale shape: the purchase⋈touch join is keyed on user_id, so
    * candidate volume is Σ per-user purchases·touches (user activity is
    * bounded), never |purchases|·|touches|; the joined frame feeds both
    * models, so it is materialized once; both models then run on
    * per-purchase aggregates. */
  def attribution(spark: SparkSession, dir: String,
                  lookbackDays: Int = 7): DataFrame = {
    val e = events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts_ms").as("pts"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("tid"),
        col("event_type").as("touch_type"), col("ts_ms").as("tts"))
    val lb = lookbackDays.toLong * 86400000L
    val joined = graft.scale.Silver.scratch(
      purchases.join(touches, Seq("user_id"))
        .filter(col("tts") < col("pts") && col("tts") >= col("pts") - lb)
        .select(col("pid"), col("tid"), col("touch_type"), col("tts")),
      "attrib_touches") // feeds the linear counts AND the last-touch pick
    val perType = joined.groupBy(col("pid"), col("touch_type"))
      .agg(count(lit(1)).as("c"))
    val k = perType.groupBy("pid").agg(sum(col("c")).as("k"))
    val linear = perType.join(k, "pid")
      .groupBy("touch_type")
      .agg(sum(col("c")).as("touches"),
        countDistinct(col("pid")).as("purchases_touched"),
        sum(expr("c * (1000000 div k)")).as("linear_micro"))
    val last = Ranking.latestPerKey(joined,
        Seq(col("pid")), Seq(col("tts"), col("tid")))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("last_touch_wins"))
    linear.join(last, Seq("touch_type"), "left")
      .na.fill(0L, Seq("last_touch_wins"))
      .select("touch_type", "touches", "purchases_touched",
        "linear_micro", "last_touch_wins")
      .orderBy("touch_type")
  }

  /** Inter-arrival burstiness per event type (q_burstiness): Goh &
    * Barabási's B = (σ − μ)/(σ + μ) over the per-user gaps between
    * consecutive same-type events — the one-number answer to "is this
    * event stream Poisson (B ≈ 0), clock-regular (B → −1) or bursty
    * (B → 1)?", which decides watermark widths and session-gap
    * thresholds before anyone tunes a streaming job.
    *
    * Gaps come from a lag window partitioned by (event_type, user) —
    * bounded by per-user activity, never corpus-proportional — and pool
    * into exact integer sufficient statistics (Σg as long, Σg² in
    * decimal(38,0)) per type; μ, σ (portable sqrt) and B are a fixed
    * IEEE tree over those exact values. Types with fewer than two gaps
    * are dropped (σ undefined). */
  /** Frequent length-3 event sequences (q_seq3): the top consecutive
    * (e1 → e2 → e3) behavior patterns across users, with occurrence
    * count, distinct-user reach, and support — the sequential-pattern
    * companion to the unordered q_basket3 and the bigram q_transitions
    * (funnels hide in the triples a bigram view can't see).
    *
    * Triples come from two lead() steps over the (user, time, event_id)
    * order — user-activity-bounded windows — then ONE map-side-combining
    * count on the |types|³-bounded key; support is a single division
    * against the broadcast triple total; top-k is
    * TakeOrderedAndProject. */
  def seq3Query(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val tri = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
    val counts = tri.groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(tot)
      .select(col("e1"), col("e2"), col("e3"), col("cnt"), col("n_users"),
        (col("cnt").cast("double") / col("total").cast("double"))
          .as("support"))
      .orderBy(col("cnt").desc, col("e1").asc, col("e2").asc, col("e3").asc)
      .limit(topK)
  }

  def burstinessQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("prev", lag(col("ts_ms"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ts_ms") - col("prev")).as("g"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s"),
        sum(col("g").cast(d38) * col("g").cast(d38)).as("ss"))
      .filter(col("n_gaps") >= 2)
      .withColumn("mu", col("s").cast("double") / col("n_gaps").cast("double"))
      .withColumn("sigma",
        sqrt((col("n_gaps").cast(d38) * col("ss") -
            col("s").cast(d38) * col("s").cast(d38)).cast("double") /
          (col("n_gaps") * (col("n_gaps") - 1L)).cast("double")))
      .select(col("event_type"), col("n_gaps"),
        col("mu").as("mean_gap_ms"), col("sigma").as("sd_gap_ms"),
        ((col("sigma") - col("mu")) / (col("sigma") + col("mu")))
          .as("burstiness"))
      .orderBy("event_type")
  }
}
