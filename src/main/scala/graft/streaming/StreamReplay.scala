package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Merge
import graft.scale.Silver

/** q_stream_upsert — the ORACLE-CHECKED streaming witness (SURVEY §2.10).
  *
  * The T1-T8 streaming components are spec-proven (StreamingSpec shows
  * foreachBatch ≡ batch recompute), but until round 10 only `q_live_norm`
  * surfaced any streaming path to the driver's DuckDB hard signal, and it
  * exercises the normalization expressions, not the upsert loop. This
  * query replays the events table through a REAL Structured Streaming
  * run — file source, multiple micro-batches, the same
  * foreachBatch/last-writer-wins merge shape as [[LiveScores]] — and
  * returns the final upserted state, which DuckDB reproduces with one
  * arg-max window. Reference semantics: the last-writer-wins ON CONFLICT
  * upsert of reference src/database/manager.py:122-151
  * (`WHERE excluded.updated_at > live_scores.updated_at`).
  *
  * Determinism: the input is sliced into `Slices` disjoint file drops by
  * `event_id mod Slices` (pure function of the data), streamed with
  * `maxFilesPerTrigger=1` under `Trigger.AvailableNow` — so the upsert
  * loop really executes ≥ `Slices` micro-batches — and merged with
  * last-writer-wins on `user_id` versioned by the TOTAL order
  * `(ts_ms, event_id)`. That merge is associative and commutative, so
  * the final state is independent of batch boundaries and arrival order:
  * exactly the property that makes a streaming pipeline oracle-checkable
  * by a batch engine, and the property the reference's conditional
  * upsert relies on when scrape tasks race.
  *
  * Scale shape: each micro-batch shuffles once on the key (rank-dedup +
  * key-matched merge), state is keyed by user — the same bounded-state
  * argument as [[LiveScores]]; at 100 TB the parquet-swap state becomes
  * a transactional table, same semantics. The replay harness itself
  * (temp-dir slicing) is test scaffolding around the production
  * `foreachBatch` body, sized to the verification corpus.
  */
object StreamReplay {

  val Slices = 4

  /** Shuffle (= state-store) partitions of the window replay's stream:
    * its state is bounded by the watermark horizon, not the corpus. */
  private val StatePartitions = 8

  /** Count of non-empty micro-batch upserts executed (all replays in
    * this JVM) — lets StreamingSpec assert the replay really went
    * through ≥ [[Slices]] micro-batches rather than one big batch. */
  val batchesExecuted = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One micro-batch of the K1 upsert: merge into the parquet state dir,
    * greatest (ts_ms, event_id) wins per user_id — (ts_ms, event_id) is
    * already a total order, so the shared sink's content-hash tiebreak
    * is never reached here. */
  def upsertBatch(spark: SparkSession, batch: DataFrame, stateDir: String): Unit =
    if (Merge.parquetUpsert(spark, batch, stateDir,
        keys = Seq("user_id"), version = Seq("ts_ms", "event_id")))
      batchesExecuted.incrementAndGet()

  /** The mod-sliced input drops of the upsert replay, a [[Silver.scaffold]]
    * of the events table: the slices are a pure function of the data
    * (`event_id mod Slices`), so re-slicing per invocation only re-paid
    * scaffolding I/O (4 filter+coalesce+write jobs per run, measured
    * ~1 s + two full events scans). The STREAM itself — checkpoint,
    * micro-batch loop, merge state — still runs fresh every call. No
    * mtime pinning needed here: the merge is associative/commutative,
    * so the final state is read-order-independent (the scaladoc's
    * determinism argument), unlike the windowed replay's watermark. */
  private def upsertSlices(dir: String, ev: DataFrame): String =
    Silver.scaffold(s"$dir/events.parquet", "stream_upsert_in") { d =>
      (0 until Slices).foreach { k =>
        ev.filter(pmod(col("event_id"), lit(Slices)) === k)
          .coalesce(1) // one file per drop -> one micro-batch per drop
          .write.parquet(s"$d/slice_$k")
      }
    }

  /** Run the replay end-to-end and return the final state. The streaming
    * job executes eagerly inside this call (AvailableNow, awaited); the
    * result is materialized ([[Silver.scratch]]) so the call's checkpoint
    * and state dirs can be deleted before the caller consumes it. */
  def streamUpsertQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ms"))
    val in = upsertSlices(dir, ev)
    val base = Silver.tempDir("stream_replay")
    val ckpt = s"$base/ckpt"
    val state = s"$base/state"
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in)
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        upsertBatch(b.sparkSession, b, state)
      }
      .start()
    q.awaitTermination()
    // An empty events table means upsertBatch never created the state
    // dir (every micro-batch is empty); the correct answer is the batch
    // oracle's empty set, not PATH_NOT_FOUND.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(state))
    val res = Silver.scratch(spark.read.schema(ev.schema).parquet(state),
      "stream_upsert")
    Silver.deleteTree(base)
    res.orderBy("user_id")
  }

  /** Micro-batch triggers / non-empty emissions of the windowed replay
    * (all replays in this JVM) — StreamingSpec asserts the watermark
    * path really ran across multiple micro-batches. */
  val windowTriggers = new java.util.concurrent.atomic.AtomicInteger(0)
  val windowEmissions = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The time-sliced input drops of the window replay, a
    * [[Silver.scaffold]] of the events table: the slices are a pure
    * function of the data, so re-slicing per invocation (bench warmup +
    * timed rep, repeated spec runs) only re-pays scaffolding I/O. The
    * STREAM itself — checkpoint, watermark state, micro-batch loop,
    * emissions — still runs fresh every call; only the input files are
    * reused. */
  private def slicedInput(dir: String, ev: DataFrame): String =
    Silver.scaffold(s"$dir/events.parquet", "stream_window_in") { in =>
      val mm = ev.agg(min(col("ts_ms")), max(col("ts_ms"))).head()
      // null min/max = empty events table: write the (empty) slices
      // anyway so the stream runs and the query returns an empty
      // result, matching the batch oracle, instead of MatchErroring.
      val (tmin, tmax) =
        if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
      val span = math.max(1L, (tmax - tmin) / Slices + 1)
      (0 until Slices).foreach { k =>
        ev.filter(expr(s"(ts_ms - $tmin) div $span") === k)
          .coalesce(1)
          .write.parquet(s"$in/slice_$k")
        // FileStreamSource orders new files by modification time; the
        // watermark-monotonicity argument below needs slice_k to be
        // READ k-th, and back-to-back writes can land on the same
        // filesystem timestamp (1s granularity on some FS), leaving
        // the tie to an unspecified sort order. Pin strictly
        // increasing mtimes per slice so the read order is the slice
        // order on any filesystem.
        val t = java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + k * 60000L)
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(in, s"slice_$k"))
        try ls.forEach(p => java.nio.file.Files.setLastModifiedTime(p, t))
        finally ls.close()
      }
    }

  /** The window replay's slice dir for the corpus' current events, if
    * built in this JVM — lets StreamingSpec assert the mtime pinning the
    * read-order argument rests on. */
  private[graft] def sliceDirFor(dir: String): Option[String] =
    Silver.scaffolded(s"$dir/events.parquet", "stream_window_in")

  /** q_stream_window — T7's ORACLE-CHECKED witness: a tumbling-window,
    * WATERMARKED event-time aggregation run as a real append-mode
    * Structured Streaming job (file source, one micro-batch per file
    * drop, `Trigger.AvailableNow`), whose emitted rows DuckDB reproduces
    * with one GROUP BY. Completes the streaming family on the hard
    * signal next to [[streamUpsertQuery]] (K1 shape): this is the
    * windowed-aggregate shape of the reference's weekly calendar rollup
    * (reference src/analytics/reports.py:497-571), continuous instead of
    * batch-rebuilt. 7-day epoch-aligned windows × event_type; exact
    * stats only (count + floor-scaled value cents) so the emitted rows
    * are hash-comparable cross-engine.
    *
    * Determinism: the input is sliced into [[Slices]] CONTIGUOUS TIME
    * SPANS (a pure function of the data's min/max event time), so the
    * watermark advances monotonically across micro-batches and NO ROW
    * is ever late — append mode then emits each closed window exactly
    * once with its complete aggregate, and the emitted set is exactly
    * the windows whose end ≤ final watermark (max event time − 1 day
    * delay): a closed-form predicate the DuckDB oracle states verbatim.
    * In-span arrival disorder is irrelevant (aggregation is
    * order-free); the 1-day delay is the out-of-orderness bound a real
    * deployment of this corpus would declare.
    *
    * Scale shape: the aggregation state is (open windows × event
    * types) — bounded by the watermark horizon, not the corpus; each
    * micro-batch shuffles once on the window/type key with map-side
    * partial aggregation. The time-span slicing is replay scaffolding
    * (two driver-side scalars); production reads an actual stream. */
  def streamWindowQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts_ms"),
        floor(col("value") * 100).cast("long").as("v"))
    val in = slicedInput(dir, ev)
    val base = Silver.tempDir("stream_window")
    val ckpt = s"$base/ckpt"
    val results = s"$base/results"
    // r14: the stream runs on a CLONED session whose shuffle-partition
    // count — which fixes the state-store partition count for the whole
    // checkpoint lifetime — is sized to the aggregation state, not the
    // host session's core count. The state here is (open windows ×
    // event types), bounded by the watermark horizon and the calendar,
    // NOT by corpus size (the scale-shape note above), yet each of the
    // ~5 micro-batches was paying (state partitions) × (HDFS state-store
    // open/commit) of pure file I/O — measured 2 × 33-task jobs per
    // batch with zero shuffle bytes, ~0.7 s each at 32 partitions. The
    // cloned session leaves the caller's conf untouched.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    // Created eagerly: if no window ever closes (events span < one
    // watermark delay + window), nothing is emitted and the read below
    // must return an EMPTY frame — the batch oracle's answer — not
    // throw path-does-not-exist.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(results))
    val stream = ss.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in)
      .withColumn("et", timestamp_millis(col("ts_ms")))
      .withWatermark("et", "1 day")
      .groupBy(window(col("et"), "7 days"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_v"))
      .select(unix_millis(col("window.start")).as("w_start"),
        col("event_type"), col("n_events"), col("sum_v"))
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        windowTriggers.incrementAndGet()
        if (!b.isEmpty) {
          windowEmissions.incrementAndGet()
          b.write.mode("append").parquet(results)
        }
      }
      .start()
    q.awaitTermination()
    val res = Silver.scratch(spark.read
      .schema("w_start LONG, event_type STRING, n_events LONG, sum_v LONG")
      .parquet(results), "stream_window")
    Silver.deleteTree(base)
    res.orderBy("w_start", "event_type")
  }
}
