package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-generated parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's single load boundary (`load_data`,
  * reference src/analytics/engine.py:262-284) — but instead of SQL→pandas
  * materialization, each accessor returns a lazy DataFrame so Catalyst sees
  * the whole plan (scan → ... → sink) and can push filters/prune columns
  * into the parquet scan.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the API
  * (name → DataFrame) stays identical, so queries are layout-agnostic.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose map-side compute dominates an extra exchange of their
    * bytes: only the text corpus qualifies — tokenize/shingle/n-gram
    * explosion costs orders of magnitude more than re-shuffling 0.6 MB.
    * Measured at sf0.1: fanning documents wins 2-3× on every corpus
    * query; fanning the relational facts (lineitem/orders/events) LOST
    * ~0.5 s per query — their map phases are cheap scans where the
    * added exchange is pure overhead. Dimensions are excluded — they
    * ride broadcast hints. */
  private val FanTables = Set("documents")

  /** Reshuffle budget: fanning is only worth it when re-shuffling the
    * WHOLE table costs less than the map-side compute it unlocks. A
    * few-split corpus over this size keeps its layout (conservative:
    * a 300 MB single-row-group file stays 1-task rather than paying a
    * full reshuffle on every scan — write it as many row groups
    * instead). */
  private val FanMaxBytes = 256L * 1024 * 1024

  /** Cached fan decision, keyed by (path, content signature) so a table
    * REWRITTEN at the same path re-evaluates. A parquet table is usually
    * a DIRECTORY, whose own length() does not change when part files are
    * rewritten in place — the signature therefore folds every child
    * file's length AND mtime (one local-FS listing; non-local URIs
    * signature as 0 and key consistently by path). The probe costs a
    * plan analysis + file listing, and accessors run once per query
    * construction. */
  // Keyed by (path, signature, floor): the decision compares the table's
  // split count AGAINST the floor, so a context with another
  // defaultParallelism must not reuse a verdict computed against a
  // different floor — a stale `true` would re-shuffle an
  // already-parallel corpus DOWN, a stale `false` would silently
  // disable the fan after the floor is raised.
  private val fanDecision = new scala.collection.concurrent.TrieMap[(String, Long, Int), Boolean]

  /** Rewrite-sensitive content signature of a local file or parquet
    * directory, folded over the whole tree (partitioned tables nest
    * part files under key=… subdirectories, whose rewrite changes
    * neither the top directory's length nor its mtime). Each entry
    * contributes a 64-bit chained MIX of (canonical path, length,
    * mtime) — not a raw `length + mtime` sum, which two offsetting
    * changes (or a rewrite that preserves sizes on a coarse-mtime
    * filesystem) could leave unchanged. Fields are folded
    * SEQUENTIALLY through the mixer (not XORed side by side, which
    * would be symmetric under swapping field values); the per-entry
    * hashes are then XOR-combined, which is order-independent
    * (listFiles order is unspecified) yet collision-resistant —
    * cancelling one entry's change requires a 64-bit hash collision,
    * not an arithmetic offset. 0 for anything unlistable. */
  private[graft] def contentSignature(path: String): Long =
    try {
      // splitmix64 finalizer — full-avalanche mix so any field change
      // flips ~half the output bits
      def mix(v: Long): Long = {
        var z = v + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      // iterative walk with a visited set of canonical paths: a symlink
      // cycle must not recurse to StackOverflow (the catch would turn
      // that into a permanently-cached 0 signature — the exact staleness
      // this signature exists to prevent)
      val seen = scala.collection.mutable.Set[String]()
      val stack = scala.collection.mutable.Stack(new java.io.File(path))
      var sig = 0L
      while (stack.nonEmpty) {
        val f = stack.pop()
        val canon = f.getCanonicalPath
        if (seen.add(canon)) {
          sig ^= mix(mix(mix(canon.hashCode.toLong) + f.length()) +
            f.lastModified())
          Option(f.listFiles()).foreach(cs => stack.pushAll(cs))
        }
      }
      sig
    } catch { case _: Throwable => 0L }

  /** Parallelism floor for small few-split corpus inputs. The local
    * corpus is ONE parquet row group per table, so without this every
    * scan stage — and with it the whole map side of every corpus query
    * (tokenize/explode/partial aggregation) — runs as a single task
    * regardless of cores. Fanned with an explicit repartition
    * (REPARTITION_BY_NUM — AQE respects user-specified counts and will
    * not coalesce it away). BOTH gates must hold: fewer splits than the
    * floor (an already-parallel corpus must never be round-robin
    * re-shuffled — that can REDUCE its parallelism) and under
    * [[FanMaxBytes]] (re-shuffling must be cheap relative to the map
    * work). Filter pushdown and column pruning are unaffected —
    * predicates push through Repartition into the scan. The floor is
    * `defaultParallelism` (Spark's `spark.default.parallelism`; 1
    * disables the fan). */
  private def parallelismFloor(spark: SparkSession, df: DataFrame,
                               path: String): DataFrame = {
    val floor = spark.sparkContext.defaultParallelism
    val fan = floor > 1 && fanDecision.getOrElseUpdate(
      (path, contentSignature(path), floor),
      df.queryExecution.analyzed.stats.sizeInBytes < FanMaxBytes &&
        df.rdd.getNumPartitions < floor)
    if (fan) df.repartition(floor) else df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    if (FanTables(name)) parallelismFloor(spark, df, path) else df
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** Loads `events` and normalizes its `ts` column, whose physical type
    * has drifted across testdata generations: parquet TIMESTAMP(NANOS)
    * (readable only as raw Long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which [[graft.GraftSession]]
    * always sets) vs plain `timestamp[us]` (read as TIMESTAMP_NTZ). Every
    * downstream event-time operator works off the two derived columns, so
    * the drift is absorbed HERE and nowhere else:
    *
    *  - `ts_utc`: TimestampType, µs precision. The NTZ→timestamp cast is
    *    instant-preserving because the session timezone is UTC (enforced
    *    by GraftSession; RestCollectors guards it).
    *  - `ts_ms`: epoch millis as Long — the cross-engine ordering/bucketing
    *    key. DuckDB's oracle-side `epoch_ms(ts)` computes the same value
    *    on either physical encoding.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, unix_millis}
    import org.apache.spark.sql.types._
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy NANOS corpus read as raw nanos
        // FLOOR division, not `div` (which truncates toward zero): for a
        // pre-1970 ts like -1_500_000 ns, `ts div 1000000` = -1 while
        // unix_millis/epoch_ms floor to -2 — ts_ms would disagree with
        // ts_utc for the same row and with the oracle. pmod subtracts a
        // non-negative remainder, making the division exact for any sign.
        raw.withColumn("ts_utc",
            expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
          .withColumn("ts_ms", expr("(ts - pmod(ts, 1000000)) div 1000000"))
      case TimestampNTZType | TimestampType =>
        val tsUtc = col("ts").cast(TimestampType)
        raw.withColumn("ts_utc", tsUtc).withColumn("ts_ms", unix_millis(tsUtc))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected raw Long nanos, " +
          "TIMESTAMP_NTZ, or TIMESTAMP (see Tables.events)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
