package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Merkle-style snapshot reconciliation — "what changed between two table
  * snapshots" WITHOUT a full-table compare. The reference re-scrapes and
  * re-upserts whole tables on every cycle (`manager.py:122-151` conflict
  * updates); at warehouse scale the first question is which slice drifted,
  * answered here with per-bucket checksums:
  *
  *  1. Bucket every row by a portable hash of its KEY (first 15 hex chars
  *     of md5 — the engine-portable 60-bit int used across graft), and
  *     reduce each bucket to (row count, bit_xor of row-fingerprint
  *     hashes). bit_xor is order-insensitive and overflow-free, so the
  *     checksum is partition-layout-independent and map-side combinable —
  *     one tiny aggregate per snapshot regardless of table size.
  *  2. Compare the two checksum tables (buckets × 16 bytes — kilobytes at
  *     any scale): buckets whose (count, checksum) agree are PROVABLY
  *     identical (up to md5/xor collision) and are never touched again.
  *  3. Only rows in drifted buckets flow into the per-key compare
  *     (broadcast semi-join on the drifted-bucket set), which labels each
  *     key `changed` / `only_a` / `only_b`.
  *
  * With drift sparse (the common case: incremental loads, CDC gaps), step
  * 3 touches a vanishing fraction of the data; a bucketed table layout
  * turns the semi-join into partition pruning. The q_table_diff oracle is
  * the SEMANTIC check: DuckDB computes the true diff by brute-force full
  * outer join with no buckets at all — agreement proves the checksum path
  * sound AND complete (xor caveat: a bucket whose multiset of fingerprints
  * changes but xor-cancels would be missed; with unique keys and md5
  * fingerprints that needs a 60-bit collision).
  */
object Reconcile {

  /** Portable 60-bit hash (see [[graft.scale.Dedup]] simhash60 note). */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-bucket (count, xor-checksum) summary of a snapshot. `key` must be
    * unique per row; `fp` is the row content fingerprint (a string). */
  def bucketChecksums(df: DataFrame, key: Column, fp: Column, buckets: Int): DataFrame =
    df.select(pmod(h60(key.cast("string")), lit(buckets)).as("bucket"),
        h60(fp).as("rh"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), bit_xor(col("rh")).as("checksum"))

  /** Buckets where the two summaries disagree (missing bucket = drifted). */
  def driftedBuckets(csA: DataFrame, csB: DataFrame): DataFrame =
    csA.withColumnRenamed("cnt", "cnt_a").withColumnRenamed("checksum", "ck_a")
      .join(csB.withColumnRenamed("cnt", "cnt_b").withColumnRenamed("checksum", "ck_b"),
        Seq("bucket"), "full_outer")
      .filter(col("cnt_a").isNull || col("cnt_b").isNull ||
        col("cnt_a") =!= col("cnt_b") || col("ck_a") =!= col("ck_b"))
      .select("bucket")

  /** Full reconciliation: per-key drift labels, computed only over rows
    * whose bucket drifted. Inputs need columns (`k` string-castable unique
    * key, `fp` row fingerprint). */
  def snapshotDiff(a: DataFrame, b: DataFrame, buckets: Int): DataFrame = {
    val withBucket = (df: DataFrame) => df.select(col("k"),
      pmod(h60(col("k").cast("string")), lit(buckets)).as("bucket"), col("fp"))
    val csA = bucketChecksums(a, col("k"), col("fp"), buckets)
    val csB = bucketChecksums(b, col("k"), col("fp"), buckets)
    val drifted = driftedBuckets(csA, csB)
    val a2 = withBucket(a).join(broadcast(drifted), Seq("bucket"), "left_semi")
    val b2 = withBucket(b).join(broadcast(drifted), Seq("bucket"), "left_semi")
    a2.select(col("k"), col("fp").as("fp_a"))
      .join(b2.select(col("k"), col("fp").as("fp_b")), Seq("k"), "full_outer")
      .withColumn("status",
        when(col("fp_a").isNull, lit("only_b"))
          .when(col("fp_b").isNull, lit("only_a"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("k"), col("status"))
  }

  /** q_table_diff: snapshot A = orders; snapshot B = orders with planted
    * updates (totalprice bumped where key % 97 = 0), deletes (% 131 = 0)
    * and inserts (% 113 = 0, re-keyed past the corpus maximum key — a
    * FIXED offset collides with real keys as soon as the corpus outgrows
    * it, e.g. under tools.Inflate; `+ max(o_orderkey)` is collision-free
    * at any scale and costs one broadcast scalar, not a collect).
    * Fingerprint renders the price as exact cents (double→string would
    * not be engine-portable). The oracle computes the true diff
    * brute-force — no buckets. */
  def tableDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def snap(df: DataFrame): DataFrame = df.select(
      col("o_orderkey").as("k"),
      concat_ws("|", col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long"),
        col("o_orderstatus")).as("fp"))
    val a = snap(o)
    val maxKey = o.agg(max(col("o_orderkey")).as("mk"))
    // The planted snapshot is materialized once: snapshotDiff reads each
    // input twice (checksum pass + drifted-row pass), and a real snapshot
    // is a TABLE — re-deriving the three-branch synthesis per pass is a
    // fixture artifact, not part of the operator's cost.
    val b = graft.scale.Silver.scratch(snap(
      o.filter(pmod(col("o_orderkey"), lit(131)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(97)) === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice"))))
      .unionByName(snap(
        o.filter(pmod(col("o_orderkey"), lit(113)) === 0)
          .crossJoin(maxKey)
          .withColumn("o_orderkey", col("o_orderkey") + col("mk"))
          .drop("mk"))), "table_diff_b")
    snapshotDiff(a, b, buckets = 64).orderBy("k")
  }

  /** q_table_digest: the Merkle bucket summary ITSELF as a query — the
    * per-bucket (row count, order-insensitive xor checksum) table that
    * step 2 of [[snapshotDiff]] compares. This is the artifact a 100 TB
    * deployment persists per snapshot (kilobytes regardless of table
    * size) so the next reconciliation never rescans an unchanged
    * snapshot; the oracle recomputes every hash brute-force in DuckDB,
    * pinning both the md5-prefix bucket routing and the xor fold. */
  def tableDigestQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    bucketChecksums(
      o.select(col("o_orderkey").as("k"),
        concat_ws("|", col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long"),
          col("o_orderstatus")).as("fp")),
      col("k"), col("fp"), buckets = 64)
      .orderBy("bucket")
  }
}
