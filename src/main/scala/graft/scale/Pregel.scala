package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Per-round join strategy for the iterative graph operators (r15).
  *
  * Every iterative operator's round is `staticEdges ⋈ state` where the
  * state frame is NODE-sized (ranks, labels, frontier distances) and the
  * edge frame is the big static one. r14 key-partitioned the edge
  * checkpoint so the static plan shows only the state-side exchange, but
  * the RUNTIME plans still re-exchanged the edge frame every round
  * (measured ~9.6 MB shuffle write+read per round in q_label_prop /
  * q_pagerank at sf0.1): the two sides' checkpointed partition COUNTS
  * never match (the state side is an AQE-coalesced aggregation output),
  * so EnsureRequirements re-shuffles.
  *
  * The fix is the Pregel/GraphX shape: keep the big static edge frame in
  * place and SHIP THE SMALL MUTABLE STATE — here by broadcasting the
  * state side of every per-round join (guide §3.1 "broadcast the side
  * that fits", §2.4 "remove shuffles outright"). The decision is made
  * ONCE per operator run from a measured row bound on the state space
  * (node count — known after the edge frame materializes), against
  * [[MaxStateRows]]. Graphs whose node space exceeds it — the 100 TB
  * regime — keep the r14 co-partitioned shuffle path unchanged; at that
  * scale the per-round state exchange is the correct cost and broadcast
  * would OOM the executors. `spark.sql.autoBroadcastJoinThreshold=-1`
  * pins every operator to the shuffle path. Three one-shot joins use the
  * same capped hint (q_phrase_search, q_neg_sample, q_basket3): their
  * materialized side is just over Spark's threshold, broadcasting it
  * measured faster, and raising the threshold slowed other joins.
  *
  * These are the engine's hints for sides the analyzer cannot bound. A
  * side with a defined `maxRows` (a global aggregate, a `limit(n)`, a
  * literal frame) takes no hint anywhere: the planner sizes it from its
  * bound and broadcasts it itself (SCALE.md, Joins), and `PlanGateSpec`
  * fails a hint over such a side in any query's plan. [[state]] does not
  * look at the bound, so labeled BFS's first round hints its `limit(4)`
  * seeds too; that round is materialized before any query plan sees it.
  *
  * Both paths compute bit-identical results (all round arithmetic is
  * exact integer min/sum aggregation — join strategy cannot change it);
  * `PregelPathSpec` pins that equivalence.
  */
object Pregel {

  /** Max state rows the per-round broadcast path may ship: 8M rows. A
    * (node, long...) state row builds to ~50-100 B in a HashedRelation,
    * so the built broadcast is a few hundred MB — the guide §3.1 "usually
    * fine" zone, far under the 8 GB / 512M-row hard cap. */
  val MaxStateRows: Long = 8000000L

  /** True when per-round state frames bounded by `stateRowBound` rows
    * should be broadcast into the edges⋈state joins; never when Spark's
    * own broadcast threshold is negative ("no broadcast"), and then the
    * bound (possibly a count job) is not computed at all. */
  def broadcastState(spark: SparkSession, stateRowBound: => Long): Boolean =
    org.apache.spark.sql.graft.Shims.autoBroadcastThreshold(spark) >= 0 &&
      stateRowBound <= MaxStateRows

  /** Distinct-node bound (times `mult` — the per-node state rows, e.g.
    * |seeds| for labeled BFS) for a MATERIALIZED edge frame whose `key`
    * column covers every node (a symmetrized edge list), computed as
    * cheaply as the answer allows: the edge row count first (the
    * checkpoint leaf's own count — no job), the exact distinct
    * count only when the cheap bound overshoots the cap while the edge
    * count leaves the answer possibly under it (so the 100 TB path
    * never pays a distinct pass whose answer is a foregone conclusion;
    * the distinct rides the checkpoint's hash(key) layout). */
  def nodeBound(und: DataFrame, key: String, mult: Long = 1L): Long = {
    val edgeCnt = Silver.rows(und)
    if (edgeCnt > Long.MaxValue / math.max(1L, mult)) Long.MaxValue
    else if (edgeCnt * mult <= MaxStateRows) edgeCnt * mult
    else if (edgeCnt <= MaxStateRows * 32)
      und.select(org.apache.spark.sql.functions.col(key))
        .distinct().count() * mult
    else edgeCnt * mult
  }

  /** [[nodeBound]] for a CANONICAL edge frame (one row per undirected
    * edge, a < b): nodes live in BOTH endpoint columns, so the cheap
    * bound is 2·|edges| and the exact pass unions the endpoints. */
  def nodeBound2(e: DataFrame, ka: String, kb: String): Long = {
    val edgeCnt = Silver.rows(e)
    if (edgeCnt > Long.MaxValue / 2) Long.MaxValue
    else if (edgeCnt * 2 <= MaxStateRows) edgeCnt * 2
    else if (edgeCnt <= MaxStateRows * 16)
      e.select(org.apache.spark.sql.functions.col(ka).as("n"))
        .unionAll(e.select(org.apache.spark.sql.functions.col(kb).as("n")))
        .distinct().count()
    else edgeCnt * 2
  }

  /** The state side of a per-round join: broadcast-hinted on the
    * broadcast path, untouched on the shuffle path. A round's state is
    * usually an aggregate over a join, which the planner estimates as
    * the product of its inputs, so only an explicit hint can ship it. */
  def state(df: DataFrame, bc: Boolean): DataFrame =
    if (bc) broadcast(df) else df
}
