package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch merge primitives — the Spark rebuild of the reference's
  * `INSERT … ON CONFLICT DO UPDATE` service layer (K1–K11, SURVEY.md §2.2;
  * reference src/database/manager.py:122-151).
  *
  * Without a transactional store, upsert = read current + union staged +
  * rank-dedup + rewrite. All three primitives are one shuffle on the key:
  *
  *  - [[upsertLatest]]   last-writer-wins full-row replace (K1)
  *  - [[coalesceMerge]]  per-column COALESCE(new, old) preservation (K10,
  *    reference fbref_match_scraper.py:587-669)
  *  - [[scd2]]           historize versions with valid_from/valid_to/
  *    is_current (club_name_history, schema.sql:182-191)
  *
  * Idempotence: re-merging the same staged batch yields the same table
  * (rank-dedup is deterministic given a total version order), which is what
  * makes the streaming foreachBatch path safe to retry.
  */
object Merge {

  /** Engine-owned commit marker inside a `.next` staging dir: proves the
    * parquet write completed without depending on
    * mapreduce.fileoutputcommitter.marksuccessfuljobs (off by default on
    * many object-store deployments). Underscore prefix keeps it
    * invisible to parquet directory scans. */
  private[graft] val CommitMarker = "_GRAFT_COMMIT"

  /** Rename that REFUSES to fail silently. Hadoop's FileSystem.rename
    * commonly signals failure by returning false rather than throwing
    * (missing destination parent, some object-store semantics); every
    * rename in [[parquetUpsert]] is followed by deletes, so a silently
    * failed restore/promote would fall through to destroying the only
    * surviving copy of the table — the exact loss the swap protocol
    * exists to prevent. Aborting instead leaves a shape the next call's
    * repair path recognizes (live/.old/.next all intact). */
  private[graft] def renameOrAbort(fs: org.apache.hadoop.fs.FileSystem,
                            src: org.apache.hadoop.fs.Path,
                            dst: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(src, dst),
      s"parquetUpsert: rename($src -> $dst) returned false; aborting " +
        "before any delete so prior table state survives")

  /** K1: union current+staged, keep the highest-version row per key.
    * `version` columns must form a total order (include a unique tiebreak). */
  def upsertLatest(current: DataFrame, staged: DataFrame,
                   keys: Seq[String], version: Seq[String]): DataFrame =
    upsertLatestBy(current, staged, keys.map(col), version.map(col))

  /** Column-typed core of [[upsertLatest]] — one definition of the K1
    * merge so the batch primitive and the streaming sink cannot drift. */
  def upsertLatestBy(current: DataFrame, staged: DataFrame,
                     keys: Seq[Column], version: Seq[Column]): DataFrame =
    Ranking.latestPerKey(current.unionByName(staged), keys, version)

  /** The micro-batch parquet-swap upsert shared by the streaming sinks
    * (LiveScores, OddsStream, StreamReplay — previously three drifting
    * copies): read current state, merge last-writer-wins on `version`,
    * write to a staging dir, swap. Returns true iff the batch was
    * non-empty and a write happened (callers count executed upserts).
    *
    * Properties every sink needs, several of which individual copies
    * had lost:
    *  - Filesystem access goes through Hadoop's FileSystem resolved
    *    from the path (not java.io.File), so file:/, hdfs:// and
    *    object-store state dirs behave identically; a missing dir is
    *    the legitimate first-batch case, while a transient read failure
    *    on EXISTING state propagates — swallowing it (the old try/catch
    *    gate) made `current` empty and silently wiped every key not in
    *    the incoming batch.
    *  - CRASH-SAFE swap: the merged state is fully written to a `.next`
    *    sibling while the live dir stays readable, then swapped in with
    *    two renames (live → `.old`, `.next` → live). A crash before the
    *    swap leaves the old state intact (the checkpoint replays the
    *    batch; the merge is idempotent); a crash between the renames is
    *    repaired at the next call (live missing + complete `.next`
    *    present → finish the swap). In-place overwrite had a window
    *    where a mid-write crash plus checkpoint retry lost ALL prior
    *    state. (Directory rename is atomic on POSIX/HDFS; on object
    *    stores the transactional-table production target applies.)
    *  - The batch is materialized ONCE ([[graft.scale.Silver.scratch]])
    *    and reused for the emptiness probe and the merge — `batch.isEmpty`
    *    on a raw foreachBatch frame re-scans the micro-batch source,
    *    doubling source I/O per trigger. The probe reads the row count
    *    the materialization observed, so it runs no job of its own (a
    *    count job only on the silver-dir path). Writing to `.next` also
    *    means the merge never overwrites its own input, so no second
    *    materialization of the merged result is needed. Under
    *    `spark.graft.silver.dir` the batch's table is released
    *    ([[graft.scale.Silver.release]]) once the swap is done.
    *  - Version ties break on a whole-row content hash, so the winner is
    *    a pure function of the row SET — invariant to partitioning,
    *    batch boundaries, and arrival order (max is associative and
    *    commutative). Without it `max_by` keeps an accumulation-order-
    *    dependent row and the table can flip between runs when two
    *    writers share a version value (1 s-granularity scrape timestamps
    *    collide routinely).
    *
    * At 100 TB the swap target becomes a transactional table; the merge
    * (one shuffle on the key) and every property carries over. */
  def parquetUpsert(spark: SparkSession, batch: DataFrame, tableDir: String,
                    keys: Seq[String], version: Seq[String]): Boolean = {
    val live = new org.apache.hadoop.fs.Path(tableDir)
    val next = new org.apache.hadoop.fs.Path(tableDir + ".next")
    val old = new org.apache.hadoop.fs.Path(tableDir + ".old")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // Repair a swap that died between its two renames: the live dir is
    // missing but a COMPLETE merged state sits in .next. Completeness is
    // proven by an ENGINE-OWNED marker this code writes itself after the
    // parquet write (CommitMarker), not by the committer's _SUCCESS —
    // deployments set mapreduce.fileoutputcommitter.marksuccessfuljobs=
    // false on object stores, and under that config a complete .next is
    // markerless and the repair would have deleted the only surviving
    // copy of the table. _SUCCESS is still HONOURED when present (its
    // presence proves completeness regardless of config; only its
    // absence is ambiguous) so .next dirs written by earlier builds
    // still promote. On a FIRST-EVER batch that crashed mid-write, live
    // never existed and .next is partial — promoting it would resurrect
    // a torn table, so an unmarked .next is deleted; but before deleting
    // ANYTHING while live is missing, a surviving .old (a crash exactly
    // between rename(live,old) and a markerless-.next write can leave
    // this shape) is restored to live first, so prior table state is
    // never lost no matter which rename the crash interrupted.
    if (fs.exists(next)) {
      val committed =
        fs.exists(new org.apache.hadoop.fs.Path(next, CommitMarker)) ||
        fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))
      if (!fs.exists(live) && committed) renameOrAbort(fs, next, live)
      else if (!committed) {
        if (!fs.exists(live) && fs.exists(old)) renameOrAbort(fs, old, live)
        fs.delete(next, true)
      }
    } else if (!fs.exists(live) && fs.exists(old)) {
      // live and .next both gone but .old survives: a crash after
      // rename(live, old) whose .next was already repaired away (or a
      // torn delete). The old state is the freshest full copy — restore.
      renameOrAbort(fs, old, live)
    }
    if (fs.exists(old)) fs.delete(old, true)

    val b = graft.scale.Silver.scratch(batch, "upsert_batch")
    try {
      if (graft.scale.Silver.rows(b) == 0) return false
      val current =
        if (fs.exists(live)) spark.read.schema(batch.schema).parquet(tableDir)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
      val tiebreak = xxhash64(struct(b.columns.map(col): _*))
      upsertLatestBy(current, b, keys.map(col), version.map(col) :+ tiebreak)
        .write.mode("overwrite").parquet(next.toString)
      // Engine-owned completeness marker: written AFTER the parquet job
      // returns (so its presence proves the write finished), independent
      // of committer config. Underscore-prefixed files are invisible to
      // parquet readers, so it rides along through the rename into live.
      fs.create(new org.apache.hadoop.fs.Path(next, CommitMarker), true).close()
      if (fs.exists(live)) renameOrAbort(fs, live, old)
      renameOrAbort(fs, next, live)
      fs.delete(old, true)
      true
    } finally graft.scale.Silver.release(b)
  }

  /** Shared scaffold for key-matched full-outer merges: align the two
    * frames on `keys`, combine each value column with `combine(curCol,
    * stgCol)`. One shuffle on the key. */
  private def fullOuterMerge(current: DataFrame, staged: DataFrame,
                             keys: Seq[String], valueCols: Seq[String])(
                             combine: (Column, Column) => Column): DataFrame = {
    val cur = current.select((keys ++ valueCols).map(col): _*).as("cur")
    val stg = staged.select((keys ++ valueCols).map(col): _*).as("stg")
    val cond = keys.map(k => col(s"cur.$k") === col(s"stg.$k")).reduce(_ && _)
    val keyCols = keys.map(k => coalesce(col(s"stg.$k"), col(s"cur.$k")).as(k))
    val valCols = valueCols.map(c => combine(col(s"cur.$c"), col(s"stg.$c")).as(c))
    cur.join(stg, cond, "full_outer").select(keyCols ++ valCols: _*)
  }

  /** K10: full-outer merge where staged NULLs preserve current values —
    * `COALESCE(staged.c, current.c)` per value column. */
  def coalesceMerge(current: DataFrame, staged: DataFrame,
                    keys: Seq[String], valueCols: Seq[String]): DataFrame =
    fullOuterMerge(current, staged, keys, valueCols)((cur, stg) => coalesce(stg, cur))

  /** A12 incremental gold-table maintenance: a pre-aggregated table of
    * ADDITIVE measures (sums, counts; averages derive as sum/cnt) absorbs
    * a new batch by aggregating the delta alone and adding per key —
    * the fact history is never rescanned. With exact accumulator types
    * (decimal sums, long counts) addition is associative, so the merged
    * table is bitwise-equal to a full recompute; cast to double only at
    * presentation. This is the reference's season_player_stats pattern
    * (SURVEY §2.5 A12: pre-aggregated per player/season, maintained by
    * upserts) in its scalable form — per-batch cost is O(delta) + a
    * key-join against the gold table, not O(history).
    *
    * Null semantics: a key absent from one side keeps the other side's
    * value unchanged (no typed zero needed — `a+b` only when both exist). */
  def additiveUpsert(current: DataFrame, deltaAgg: DataFrame,
                     keys: Seq[String], measures: Seq[String]): DataFrame =
    fullOuterMerge(current, deltaAgg, keys, measures)((cur, stg) =>
      when(cur.isNull, stg).when(stg.isNull, cur).otherwise(cur + stg))

  /** Key-scoped gold backfill: rebuild ONLY the gold rows of
    * `affectedKeys` (re-aggregated from those keys' full history via
    * `aggFn`) and pass every other gold row through untouched. A key in
    * `affectedKeys` with NO remaining facts simply disappears from gold —
    * this is the retraction path, so hard-deleted facts need their keys
    * in `affectedKeys` (from the delete feed / CDC tombstones; the facts
    * table itself no longer knows them).
    *
    * This is the repair path that [[additiveUpsert]] (append-only deltas)
    * cannot cover. Cost is O(affected keys' history), not O(all history)
    * — the semi-join prunes the fact scan. The reference's nightly jobs
    * recompute whole tables (analytics_app.py:133-189); at 100 TB only
    * scoped rebuilds are affordable.
    *
    * @param aggFn the gold aggregation, applied to the affected subset —
    *              the SAME function that built the table (caller-supplied
    *              so gold definition lives in one place) */
  def backfillKeys(gold: DataFrame, facts: DataFrame, affectedKeys: DataFrame,
                   keys: Seq[String], aggFn: DataFrame => DataFrame): DataFrame = {
    val affected = affectedKeys.select(keys.map(col): _*).distinct()
    val recomputed = aggFn(facts.join(affected, keys, "left_semi"))
    gold.join(affected, keys, "left_anti").unionByName(recomputed)
  }

  /** [[backfillKeys]] with the affected keys DISCOVERED from facts rows
    * matching `changed` — covers updates and late arrivals (the changed
    * rows are still present). It cannot see hard deletes: a key whose
    * matching rows were removed from `facts` never matches `changed`;
    * route delete feeds through [[backfillKeys]] directly. */
  def backfill(gold: DataFrame, facts: DataFrame, changed: Column,
               keys: Seq[String], aggFn: DataFrame => DataFrame): DataFrame =
    backfillKeys(gold, facts, facts.filter(changed), keys, aggFn)

  /** Schema-drift-tolerant append (K13 family): batches written by
    * different collector versions carry different column subsets —
    * `unionByName(allowMissingColumns = true)` aligns by NAME and
    * null-fills what a batch lacks, the schema-evolution contract a
    * parquet/Delta sink gives `mergeSchema` writers. Purely structural
    * (no shuffle, no data movement beyond the union), so it scales
    * trivially; the discipline it encodes is that drift is handled
    * DECLARATIVELY, not with per-batch if/else column surgery. */
  def schemaDriftUnion(batches: Seq[DataFrame]): DataFrame =
    batches.reduce(_.unionByName(_, allowMissingColumns = true))

  /** q_union_byname: an old-schema batch (totalprice, no status/channel)
    * unioned with a new-schema batch (status + channel, totalprice
    * dropped) of the same orders table. Oracle: DuckDB's independent
    * `UNION ALL BY NAME`. Projection-only — doubles pass through
    * untouched, so parity is exact. */
  def schemaDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.sources.Tables.orders(spark, dir)
    val oldBatch = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        col("o_totalprice").as("totalprice"), lit("v1").as("batch"))
    val newBatch = o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        col("o_orderstatus").as("status"), lit("api").as("channel"),
        lit("v2").as("batch"))
    schemaDriftUnion(Seq(oldBatch, newBatch)).orderBy("ok")
  }

  /** SCD2 historization: each (key, orderCol) row becomes a version with
    * `valid_from` = its own order value, `valid_to` = the next version's
    * (null for the open/current one), `is_current` = valid_to IS NULL —
    * the generated-column semantics of the reference's *_name_history. */
  def scd2(df: DataFrame, keys: Seq[String], orderCol: Column,
           tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCol.asc, tieBreak.asc)
    df.withColumn("valid_from", orderCol)
      .withColumn("valid_to", lead(orderCol, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
