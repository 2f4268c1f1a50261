package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Parsing
import graft.operators.Merge

/** Live-score micro-stream (SURVEY.md §2.10): the Spark rebuild of the
  * reference's 30-second scrape→upsert loop
  * (scraping_orchestrator.py:311-320, flashscore_scraper.py:285-323).
  *
  * The scrape/render stays outside the engine (I/O automation); the engine
  * ingests snapshot JSON drops through a file `readStream`, normalizes with
  * the §2.9 expression library, bounds state with a watermark, and applies
  * the K1 last-writer-wins upsert per micro-batch via foreachBatch.
  *
  * Scale notes: state is bounded by the watermark (the reference has no
  * watermark concept — SURVEY §7.4 #5 — we define 1 h on scraped_at);
  * the merge itself is a key-partitioned rank-dedup, so a 1000-executor
  * run shuffles each micro-batch once on external_id and nothing else.
  * In production the rewrite target would be a transactional table format;
  * here the single-writer parquet swap keeps the same semantics.
  */
object LiveScores {

  /** Bronze snapshot schema (FIXTURES.md §3). */
  val RawSchema: StructType = StructType(Seq(
    StructField("home_team", StringType),
    StructField("away_team", StringType),
    StructField("score_text", StringType),
    StructField("status_text", StringType),
    StructField("match_time", StringType),
    StructField("source", StringType),
    StructField("scraped_at", TimestampType)))

  /** Bronze → silver normalization: score split, status classification,
    * deterministic upsert key. Pure expressions — identical for batch and
    * streaming DataFrames. */
  def normalize(raw: DataFrame): DataFrame = {
    val score = Parsing.parseScore(col("score_text"))
    raw
      .withColumn("home_score", score.getField("home_score"))
      .withColumn("away_score", score.getField("away_score"))
      .withColumn("status", Parsing.classifyStatus(col("status_text")))
      .withColumn("external_id",
        Parsing.externalId(col("home_team"), col("away_team"), col("source")))
      .drop("score_text", "status_text")
  }

  /** Watermarked dedup: bound state to `watermark` of event time and drop
    * exact re-scrapes within it. */
  def withDedup(normalized: DataFrame, watermark: String = "1 hour"): DataFrame =
    normalized
      .withWatermark("scraped_at", watermark)
      .dropDuplicatesWithinWatermark("external_id", "scraped_at")

  /** K1/K8 micro-batch upsert: merge the batch into the parquet state dir,
    * latest `scraped_at` wins per external_id (ties break on a content
    * hash — scrape timestamps have 1 s granularity and DO collide). The
    * shared sink ([[Merge.parquetUpsert]]) existence-gates the state read
    * so a transient read failure propagates instead of silently wiping
    * accumulated state via the overwrite. */
  def upsertBatch(spark: SparkSession, batch: DataFrame, tableDir: String): Unit =
    Merge.parquetUpsert(spark, batch, tableDir,
      keys = Seq("external_id"), version = Seq("scraped_at"))

  /** T1 — the full 30 s live-score pipeline over a snapshot-drop directory. */
  def run(spark: SparkSession, inputDir: String, tableDir: String,
          checkpointDir: String, interval: String = "30 seconds"): StreamingQuery =
    start(spark, inputDir, tableDir, checkpointDir, Trigger.ProcessingTime(interval))

  /** T3 — daily-batch variant: drain everything available, then stop
    * (the reference's 02:00 scheduled jobs; scheduling itself lives
    * outside the engine, exactly as in the reference's asyncio loops). */
  def runOnce(spark: SparkSession, inputDir: String, tableDir: String,
              checkpointDir: String): StreamingQuery =
    start(spark, inputDir, tableDir, checkpointDir, Trigger.AvailableNow())

  private def start(spark: SparkSession, inputDir: String, tableDir: String,
                    checkpointDir: String, trigger: Trigger): StreamingQuery =
    startUpsert(spark, RawSchema, inputDir, checkpointDir, trigger)(
      raw => withDedup(normalize(raw)))(upsertBatch(_, _, tableDir))

  /** The one poller wiring, shared with [[OddsStream.runOnce]]: a JSON
    * file source over `inputDir`, `prepare` (normalize + watermark
    * dedup), then an append `foreachBatch` that hands each micro-batch
    * to `upsert` with the batch's own session. */
  private[streaming] def startUpsert(spark: SparkSession, schema: StructType,
                                     inputDir: String, checkpointDir: String,
                                     trigger: Trigger)(
      prepare: DataFrame => DataFrame)(
      upsert: (SparkSession, DataFrame) => Unit): StreamingQuery =
    prepare(spark.readStream.schema(schema).json(inputDir))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch.sparkSession, batch)
      }
      .start()
}
