package graft.scale

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism width for COMPUTE-EXPLOSIVE stages (r14 optimization).
  *
  * AQE sizes post-shuffle partitions by INPUT bytes
  * (`advisoryPartitionSizeInBytes`), which is the right call for
  * byte-bound stages but starves stages whose output/compute explodes
  * relative to input: wedge self-joins (Σdeg² rows from a few MB of
  * edges), all-pair BNLJs over calendar-bounded frames (|days|² distance
  * evaluations from a 2 400-row input), Gram-matrix self-joins (64²
  * cells per vector). Measured at sf0.1 before this fix: the
  * q_matrix_profile pair join ran its 5.7 M decimal-distance
  * evaluations in ONE task (7–27 s); q_ktruss's per-round wedge join ran
  * on 3 tasks (~1.8 s/round); q_pca_power's 41 M-row Gram build on one
  * task (2.5–3.7 s).
  *
  * [[width]] is the explicit-count remedy: `repartition(width, key)`
  * (REPARTITION_BY_NUM — AQE respects user-given counts) right before
  * the explosive operator. The count is scale-adaptive, not a constant:
  * `defaultParallelism` tracks the cluster size (local[$cpus] here,
  * total executor cores on a cluster), overridable per deployment via
  * Spark's own `spark.default.parallelism` (e.g. set 2-3× total cores
  * on a cluster per the shuffle-partition sizing rule). The repartition
  * itself moves only the SMALL pre-explosion frame, so its cost is noise
  * next to the parallelism it buys; at 100 TB the same hint merely
  * confirms the parallelism AQE would pick once input bytes are large.
  */
object Par {

  def width(df: DataFrame): Int = df.sparkSession.sparkContext.defaultParallelism

  /** Hash-repartition `df` to [[width]] partitions on `keys` — the
    * pre-explosion fan. Deterministic (hash of the key columns, no
    * round-robin), so task retries replay identically. */
  def fan(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(width(df), keys: _*)

  /** Hash-repartition on `keys` WITHOUT pinning a partition count
    * (REPARTITION_BY_COL — AQE still right-sizes the count from bytes).
    * For key-partitioned lineage cuts in iterative operators: the
    * checkpoint captures hash(keys, n), so every subsequent round's
    * join/groupBy on `keys` reuses the layout and only the small
    * per-round state frame is exchanged — while partition COUNT stays
    * byte-adaptive (pinning [[width]] here costs ~0.5 s/round of pure
    * task overhead on MB-sized frames at sf0.1 and is exactly the
    * "constant tuned for one scale" the optimization brief bans).
    * Use [[fan]] only where COMPUTE explodes relative to input bytes. */
  def byKey(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(keys: _*)
}
