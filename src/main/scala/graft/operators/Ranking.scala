package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.scale.Silver

/** Ranking / top-k / latest-per-key operators.
  *
  * Covers the reference's W1/W2/W7 surface (SURVEY.md §2.6):
  *  - global top-k (`nlargest`, reference src/analytics/engine.py:324-326)
  *  - last-N-per-group (`sort_values().tail(5)` per team, engine.py:145-152)
  *  - latest-snapshot-per-key (player_market_value UNIQUE(player_id,
  *    valuation_date), schema.sql:986-997)
  *
  * Scale notes: `topK` is `orderBy.limit` which Catalyst plans as
  * TakeOrderedAndProject — per-partition heap + driver merge of k rows, no
  * global sort shuffle. The windowed variants shuffle once on the partition
  * key; at 100 TB that is the unavoidable key-repartition and nothing more.
  */
object Ranking {

  /** Global top-k: true top-k plan (TakeOrderedAndProject), never a full sort.
    * `order` must be a deterministic total order (include a unique tiebreak).
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Top-k rows per group. One shuffle on `partitionCols`. */
  def topKPerGroup(df: DataFrame, k: Int, partitionCols: Seq[Column], order: Seq[Column],
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
      .drop(rankCol)
  }

  /** Latest row per key by event-time order. `order` is ascending
    * "recency" columns forming a total order within a key; the
    * most-recent row wins. This is the read-side of last-writer-wins
    * upsert semantics (K1).
    *
    * Implemented as a `max_by` aggregate, not a ranked window: the window
    * form shuffles and sorts every row to discard all but one per key;
    * the aggregate partially combines map-side so one candidate per key
    * per input partition reaches the exchange. Output column order is
    * preserved (struct expansion). */
  def latestPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(max_by(struct(df.columns.map(col): _*), struct(order: _*)).as("__r"))
      .select(col("__r.*"))

  /** Distributed global rank: adds `rankCol` (1-based, dense by the given
    * unique total order) and `nCol` (total row count) WITHOUT a
    * single-partition window.
    *
    * `Window.orderBy(...)` with no partitionBy moves every row through one
    * reducer — the textbook scale-killer. This is the classic two-pass
    * alternative: range-repartition on the order key (a parallel range
    * sort), local sort, then global rank = per-partition offset + local
    * index. Offsets come from per-partition counts (`numParts` rows — a
    * constant, data-size-independent frame) joined back broadcast; the
    * local index is `monotonically_increasing_id`'s intra-partition
    * counter, assigned post-sort. No stage ever holds more than one
    * range-partition of rows.
    *
    * `order` must be a UNIQUE total order (include a tiebreak column) —
    * with ties the result is row_number-like, not rank-like. */
  def distributedGlobalRank(df: DataFrame, order: Seq[Column],
                            rankCol: String = "rank", nCol: String = "n",
                            numParts: Int = 0): DataFrame = {
    // The ranged frame feeds TWO consumers (the per-partition counts and
    // the final rank join). It MUST be materialized once: each plan
    // branch re-executing the range exchange re-runs RangePartitioner's
    // boundary SAMPLING, and nothing guarantees the two executions pick
    // identical boundaries (observed at 32 partitions on a 9 370-row
    // vocab: counts from one partitioning + local indices from another →
    // duplicate and skipped ranks). Freezing the frame — partition ids
    // and local indices included — makes the offsets provably consistent
    // with the indexed rows. The freeze goes through Silver.scratch: an
    // eager localCheckpoint of the post-cut (aggregated, not corpus-sized)
    // frame, or a parquet silver table under spark.graft.silver.dir.
    //
    // The range partition COUNT is left to AQE unless the caller pins
    // one (r15, guide §2.2): the old shuffle.partitions pin made every
    // rank over a calendar/vocab-sized frame pay core-count-many task
    // launches across 3+ stages — the measured q_vocab inverse scaling
    // (8 cores 3× faster than 32 at sf0.1). AQE coalesces ADJACENT range
    // partitions, so the result is still a valid range partitioning and
    // rank = offset + local index is partitioning-independent either way.
    val ranged = Silver.scratch(byRange(df, order, numParts)
      // spark_partition_id / monotonically_increasing_id are
      // nondeterministic-flagged, so Catalyst will not reorder them across
      // the sort; local index = the id's intra-partition counter.
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lidx",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))),
      "rank_ranged")
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    // offset + total via a tiny parts×parts self-join — no window, no
    // single-partition exchange anywhere on the data path. The broadcast
    // hint pins BroadcastNestedLoopJoin: without it, a stats-less input
    // (e.g. a checkpointed upstream) makes JoinSelection fall through to
    // CartesianProduct for the cross join.
    val offsets = counts.as("a").crossJoin(broadcast(counts.as("b")))
      .groupBy(col("a.__pid").as("__pid"))
      .agg(sum(when(col("b.__pid") < col("a.__pid"), col("b.__cnt"))
        .otherwise(0L)).as("__offset"),
        sum(col("b.__cnt")).as(nCol))
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(rankCol, col("__offset") + col("__lidx") + 1L)
      .drop("__pid", "__lidx", "__offset")
  }

  /** Range exchange on `order` (to `numParts` partitions when pinned),
    * then a local sort: the two-pass shape's first pass. */
  private def byRange(df: DataFrame, order: Seq[Column],
                      numParts: Int): DataFrame =
    (if (numParts > 0) df.repartitionByRange(numParts, order: _*)
     else df.repartitionByRange(order: _*))
      .sortWithinPartitions(order: _*)

  /** Distributed percent_rank over a unique total order: bitwise-equal to
    * `percent_rank().over(Window.orderBy(order))` (unique order ⇒ rank =
    * row_number), built on [[distributedGlobalRank]]. */
  def distributedPercentRank(df: DataFrame, order: Seq[Column],
                             outCol: String = "pct_rank"): DataFrame =
    distributedGlobalRank(df, order, rankCol = "__rank", nCol = "__n")
      .withColumn(outCol,
        when(col("__n") > 1,
          (col("__rank") - 1L).cast("double") / (col("__n") - 1L).cast("double"))
          .otherwise(0.0))
      .drop("__rank", "__n")

  /** Distributed cumulative sum over a unique global order: for each name
    * `c` in `valueCols` adds `cum_c` = sum of `c` over every row at-or-
    * before this one in `order` — WITHOUT a single-partition window.
    *
    * Same two-pass shape as [[distributedGlobalRank]]: range exchange +
    * local sort (frozen by the materialization so the partition ids the
    * offsets were computed from are the partition ids the rows carry),
    * partition-local running sums via a `__pid`-partitioned window, then
    * a broadcast per-partition offset from the numParts-row totals frame.
    * No stage holds more than one range-partition of rows.
    *
    * `order` must be a unique total order; value columns must be integral
    * (long) so the running sums are exact and engine-order-independent.
    *
    * `totals = true` additionally attaches `tot_c` = sum of `c` over ALL
    * rows (r15, guide §2.4): the grand total is the unconditional sum of
    * the per-partition sums the offsets aggregation ALREADY broadcasts,
    * so it rides that join for free — callers that used to recompute the
    * input frame with a separate `.agg` + crossJoin for the totals (a
    * second full pass over a lazy fact subtree) read the column instead.
    * Long addition is associative, so the value is bit-identical to a
    * direct `sum(c)` over the input. */
  def distributedCumSum(df: DataFrame, order: Seq[Column],
                        valueCols: Seq[String],
                        numParts: Int = 0,
                        totals: Boolean = false): DataFrame = {
    // partition count AQE-coalesced unless pinned — see
    // distributedGlobalRank (r15)
    val ranged = Silver.scratch(byRange(df, order, numParts)
      .withColumn("__pid", spark_partition_id()), "cumsum_ranged")
    val totalsAgg = valueCols.map(c => sum(col(c)).as(s"__t_$c"))
    val ptot = ranged.groupBy(col("__pid"))
      .agg(totalsAgg.head, totalsAgg.tail: _*)
    val offsetAgg = valueCols.map(c =>
      sum(when(col("b.__pid") < col("a.__pid"), col(s"b.__t_$c"))
        .otherwise(0L)).as(s"__off_$c")) ++
      (if (totals) valueCols.map(c => sum(col(s"b.__t_$c")).as(s"tot_$c"))
       else Nil)
    // broadcast hint: see distributedGlobalRank — pins BNLJ over the
    // numParts-row frame regardless of upstream stats.
    val offsets = ptot.as("a").crossJoin(broadcast(ptot.as("b")))
      .groupBy(col("a.__pid").as("__pid"))
      .agg(offsetAgg.head, offsetAgg.tail: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = valueCols.foldLeft(ranged.join(broadcast(offsets), "__pid")) {
      (d, c) => d.withColumn(s"cum_$c", sum(col(c)).over(w) + col(s"__off_$c"))
    }
    withCum.drop("__pid" +: valueCols.map(c => s"__off_$c"): _*)
  }
}
