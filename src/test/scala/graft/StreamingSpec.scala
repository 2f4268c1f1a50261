package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.LiveScores

case class RawScore(home_team: String, away_team: String, score_text: String,
                    status_text: String, match_time: String, source: String,
                    scraped_at: Timestamp)

case class RawOdds(match_id: String, bookmaker: String, market: String,
                   odds_home: String, odds_draw: String, odds_away: String,
                   captured_at: Timestamp)

case class RawDoc(doc_id: Long, text: String, ingested_at: Timestamp)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("normalize: score split, status classification, stable external id") {
    val df = Seq(
      RawScore("A", "B", "2-1", "45'", "45", "flash", ts("2024-01-01 10:00:00")),
      RawScore("A", "B", null, "19:30", "", "flash", ts("2024-01-01 09:00:00")))
      .toDF()
    val out = LiveScores.normalize(df).orderBy("scraped_at").collect()
    assert(out(1).getAs[Int]("home_score") == 2)
    assert(out(1).getAs[Int]("away_score") == 1)
    assert(out(1).getAs[String]("status") == "live")
    assert(out(0).getAs[String]("status") == "scheduled")
    assert(out(0).getAs[String]("external_id") == out(1).getAs[String]("external_id"))
  }

  test("streaming upsert: later micro-batch overwrites match state (T1/T4/T5)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawScore]
    val tableDir = Files.createTempDirectory("graft_live").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    val query = LiveScores.withDedup(LiveScores.normalize(mem.toDF()))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        LiveScores.upsertBatch(b.sparkSession, b, tableDir)
      }
      .start()

    try {
      mem.addData(
        RawScore("A", "B", null, "19:30", "", "flash", ts("2024-01-01 09:00:00")),
        RawScore("C", "D", "0-0", "12'", "12", "flash", ts("2024-01-01 09:00:00")))
      query.processAllAvailable()
      mem.addData(
        RawScore("A", "B", "1-0", "23'", "23", "flash", ts("2024-01-01 09:30:00")))
      query.processAllAvailable()

      val state = spark.read.parquet(tableDir).collect()
      assert(state.length == 2)
      val ab = state.find(_.getAs[String]("home_team") == "A").get
      assert(ab.getAs[String]("status") == "live")
      assert(ab.getAs[Int]("home_score") == 1)
      assert(ab.getAs[Timestamp]("scraped_at") == ts("2024-01-01 09:30:00"))
    } finally query.stop()
  }

  test("runOnce (AvailableNow): drains snapshot drops and terminates (T3)") {
    val in = Files.createTempDirectory("graft_drop").toString
    val tableDir = Files.createTempDirectory("graft_daily").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_ckpt2").toString
    Files.writeString(java.nio.file.Path.of(in, "snap1.json"),
      """{"home_team":"A","away_team":"B","score_text":"1-0","status_text":"FT","match_time":"90","source":"flash","scraped_at":"2024-01-03T20:00:00.000Z"}""")
    val q = LiveScores.runOnce(spark, in, tableDir, ckpt)
    q.awaitTermination(60000)
    assert(!q.isActive) // AvailableNow terminates after draining
    val state = spark.read.parquet(tableDir).collect()
    assert(state.length == 1 && state.head.getAs[String]("status") == "finished")
  }

  test("E2E: snapshot drops -> AvailableNow -> foreachBatch upsert ≡ batch recompute, incl. late drop (T1/T4/T5)") {
    // The full integration seam the unit tests cover only in pieces:
    // file-source drops drain through Trigger.AvailableNow into the
    // foreachBatch K1 merge, across TWO runs sharing a checkpoint (the
    // second drop arrives out-of-order: one stale row that must lose,
    // one newer row that must win), and the final table must equal —
    // row for row — a batch recompute over the union of every drop.
    val in = Files.createTempDirectory("graft_e2e_in").toString
    val tableDir = Files.createTempDirectory("graft_e2e_tbl").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_e2e_ckpt").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(java.nio.file.Path.of(in, name), lines.mkString("\n"))
    def row(h: String, a: String, score: String, st: String, at: String) =
      s"""{"home_team":"$h","away_team":"$a","score_text":$score,"status_text":"$st","match_time":"","source":"flash","scraped_at":"$at"}"""

    drop("snap1.json",
      row("A", "B", "null", "19:30", "2024-01-05T10:00:00.000Z"),
      row("C", "D", "\"0-0\"", "12'", "2024-01-05T10:05:00.000Z"))
    drop("snap2.json",
      row("A", "B", "\"1-0\"", "23'", "2024-01-05T10:20:00.000Z"),
      row("E", "F", "\"2-2\"", "55'", "2024-01-05T10:25:00.000Z"))
    val q1 = LiveScores.runOnce(spark, in, tableDir, ckpt)
    q1.awaitTermination(120000)
    assert(!q1.isActive)

    // Late, out-of-order drop (within the 1 h watermark): the stale A-B
    // re-scrape (10:10 < the applied 10:20) must NOT regress the table;
    // the newer C-D final must overwrite.
    drop("snap3.json",
      row("A", "B", "\"0-0\"", "7'", "2024-01-05T10:10:00.000Z"),
      row("C", "D", "\"1-0\"", "FT", "2024-01-05T10:30:00.000Z"))
    val q2 = LiveScores.runOnce(spark, in, tableDir, ckpt)
    q2.awaitTermination(120000)
    assert(!q2.isActive)

    // Batch recompute over the union of all three drops: same normalize
    // expressions, latest-per-key over everything at once.
    val batch = LiveScores.normalize(
      spark.read.schema(LiveScores.RawSchema).json(in))
    val expect = graft.operators.Ranking.latestPerKey(batch,
      Seq(col("external_id")), Seq(col("scraped_at")))
    val cols = expect.columns.sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val got = canon(spark.read.parquet(tableDir))
    assert(got == canon(expect), s"streamed state != batch recompute:\n${got.mkString("\n")}")
    // And the content is what the drops imply: A-B at 10:20 (stale row
    // lost), C-D finished, E-F live.
    val byTeam = spark.read.parquet(tableDir).collect()
      .map(r => r.getAs[String]("home_team") -> r).toMap
    assert(byTeam("A").getAs[Timestamp]("scraped_at") == ts("2024-01-05 10:20:00"))
    assert(byTeam("C").getAs[String]("status") == "finished")
    assert(byTeam.size == 3)
  }

  test("stream-stream interval join: odds attach within window, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val scores = MemoryStream[(String, Timestamp, String)]
    val odds = MemoryStream[(String, Timestamp, Double)]
    val joined = graft.streaming.LiveJoin.scoreOddsJoin(
      scores.toDF().toDF("match_id", "updated_at", "status"),
      odds.toDF().toDF("odds_match_id", "captured_at", "price_home"),
      lookbackMinutes = 10, leadMinutes = 2)
    val q = joined.writeStream.format("memory").queryName("live_join")
      .outputMode("append").start()
    try {
      // odds 5 min before the score update -> inside [-10, +2] window
      odds.addData(("m1", ts("2024-01-01 10:00:00"), 2.10))
      // odds 30 min before -> outside window
      odds.addData(("m1", ts("2024-01-01 09:35:00"), 2.50))
      // different match -> never joins
      odds.addData(("m2", ts("2024-01-01 10:01:00"), 1.90))
      scores.addData(("m1", ts("2024-01-01 10:05:00"), "live"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT match_id, price_home FROM live_join").collect()
      assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("m1", 2.10)))
      // a second score update re-joins odds still inside ITS window
      scores.addData(("m1", ts("2024-01-01 10:01:00"), "live"))
      q.processAllAvailable()
      val rows2 = spark.sql(
        "SELECT count(*) FROM live_join WHERE price_home = 2.10").collect()
      assert(rows2.head.getLong(0) == 2L)
      // the physical plan is a watermarked stream-stream join with state
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.nonEmpty, "join must be stateful")
    } finally q.stop()
  }

  test("tumbling event-time windows with watermark drop too-late rows (T7)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val windowed = graft.streaming.WindowedAgg.tumbling(
      mem.toDF().toDF("ts", "kind", "value"),
      timeCol = "ts", keyCol = "kind",
      windowLength = "10 minutes", watermark = "5 minutes")
    val q = windowed.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 10:01:00"), "goal", 1.0),
                  (ts("2024-01-01 10:04:00"), "goal", 2.0))
      q.processAllAvailable()
      // advance watermark far past the first window, plus one too-late row
      mem.addData((ts("2024-01-01 11:00:00"), "card", 1.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:02:00"), "goal", 99.0)) // too late: dropped
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:00:00"), "card", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT kind, cnt, value_sum FROM win_counts").collect()
      val goal = rows.find(_.getString(0) == "goal").get
      assert(goal.getLong(1) == 2L)          // late row not counted
      assert(goal.getDouble(2) == 3.0)       // 1.0 + 2.0, not 99.0
    } finally q.stop()
  }

  test("windowedTokenCounts: streaming hot-term frequencies per window, late text dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val counts = graft.streaming.WindowedAgg.windowedTokenCounts(
      mem.toDF().toDF("ts", "text"),
      timeCol = "ts", textCol = "text",
      windowLength = "10 minutes", watermark = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("tok_counts")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:01:00"), "hot hot cold"),
        (ts("2024-01-01 10:04:00"), "hot warm"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 11:00:00"), "later"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:03:00"), "hot hot hot")) // too late
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:00:00"), "flush"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT token, cnt FROM tok_counts WHERE window_start = timestamp'2024-01-01 10:00:00'")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("hot" -> 3L, "cold" -> 1L, "warm" -> 1L),
        s"late tokens must not count: $rows")
    } finally q.stop()
  }

  test("OddsStream.normalize: multi-format prices, selections array, overround (S12/S13/K4)") {
    import graft.streaming.OddsStream
    val raw = Seq(
      RawOdds("m1", "bet365", "1x2", "2.50", "3,20", "+150", ts("2024-01-01 10:00:00")),
      RawOdds("m1", "pinn", "1x2", "5/2", "3.10", "-110", ts("2024-01-01 10:00:00")),
      RawOdds("m2", "bet365", "over_under", "1.90", null, "1.90", ts("2024-01-01 10:00:00")))
      .toDF()
    val out = OddsStream.normalize(raw).orderBy("match_id", "bookmaker").collect()
    assert(out(0).getAs[Double]("price_home") == 2.5)
    assert(out(0).getAs[Double]("price_draw") == 3.2)   // comma decimal
    assert(out(0).getAs[Double]("price_away") == 2.5)   // +150 American
    assert(out(1).getAs[Double]("price_home") == 3.5)   // 5/2 fractional
    assert(math.abs(out(1).getAs[Double]("price_away") - (1 + 100.0 / 110)) < 1e-12)
    val sels = out(0).getSeq[org.apache.spark.sql.Row](out(0).fieldIndex("selections"))
    assert(sels.map(_.getAs[String]("name")) == Seq("home", "draw", "away"))
    assert(math.abs(sels.head.getAs[Double]("implied_prob") - 0.4) < 1e-12)
    // two-way market: null draw leg dropped from selections
    val ou = out(2)
    assert(ou.getSeq[org.apache.spark.sql.Row](ou.fieldIndex("selections")).length == 2)
    assert(math.abs(ou.getAs[Double]("overround") - 2.0 / 1.9) < 1e-12)
  }

  test("OddsStream: streaming upsert keyed (match, bookmaker, market) (K4/T1)") {
    import graft.streaming.OddsStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawOdds]
    val tableDir = Files.createTempDirectory("graft_odds").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_odds_ckpt").toString
    val q = OddsStream.withDedup(OddsStream.normalize(mem.toDF()))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        OddsStream.upsertBatch(b.sparkSession, b, tableDir)
      }
      .start()
    try {
      mem.addData(
        RawOdds("m1", "bet365", "1x2", "2.00", "3.40", "3.80", ts("2024-01-01 10:00:00")),
        RawOdds("m1", "bet365", "over_under", "1.90", null, "1.90", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      mem.addData( // re-poll moves the 1x2 price; over_under unchanged key stays
        RawOdds("m1", "bet365", "1x2", "1.80", "3.60", "4.20", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val state = spark.read.parquet(tableDir).collect()
      assert(state.length == 2) // one row per (match, bookmaker, market)
      val x12 = state.find(_.getAs[String]("market") == "1x2").get
      assert(x12.getAs[Double]("price_home") == 1.8) // latest capture wins
    } finally q.stop()
  }

  test("OddsStream.movementAlerts: state across batches, only real moves emit (T4)") {
    import graft.streaming.OddsStream
    import graft.streaming.OddsStream.OddsTick
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[OddsTick]
    val alerts = OddsStream.movementAlerts(mem.toDS(), thresholdPct = 10.0)
    val q = alerts.writeStream.format("memory").queryName("odds_alerts")
      .outputMode("append").start()
    try {
      mem.addData(
        OddsTick("m1|b|1x2|home", 2.00, ts("2024-01-01 10:00:00")),
        OddsTick("m1|b|1x2|home", 2.05, ts("2024-01-01 10:05:00"))) // 2.5%: no alert
      q.processAllAvailable()
      mem.addData(
        OddsTick("m1|b|1x2|home", 1.70, ts("2024-01-01 10:10:00")), // -17% vs 2.05: alert
        OddsTick("m2|b|1x2|away", 3.00, ts("2024-01-01 10:10:00"))) // first sight: no alert
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM odds_alerts").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("key") == "m1|b|1x2|home")
      assert(rows.head.getAs[Double]("prev_price") == 2.05)
      assert(rows.head.getAs[Double]("price") == 1.7)
    } finally q.stop()
  }

  test("session windows: gap merges within, splits across; emit on watermark pass (T7)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val sessions = graft.streaming.WindowedAgg.sessions(
      mem.toDF().toDF("ts", "user", "value"),
      timeCol = "ts", keyCol = "user", gap = "10 minutes", watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("session_agg")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), "u1", 1.0),
        (ts("2024-01-01 10:05:00"), "u1", 2.0), // 5 min gap: same session
        (ts("2024-01-01 10:30:00"), "u1", 4.0), // 25 min gap: new session
        (ts("2024-01-01 10:02:00"), "u2", 8.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 11:00:00"), "u1", 0.5)) // advances watermark, closes all
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user, session_start, cnt, value_sum FROM session_agg ORDER BY user, session_start")
        .collect()
      assert(rows.length == 3, rows.mkString("; "))
      // u1 burst 1: two events merged into [10:00, 10:15)
      assert(rows(0).getAs[String]("user") == "u1" &&
        rows(0).getAs[Long]("cnt") == 2L && rows(0).getAs[Double]("value_sum") == 3.0)
      // u1 burst 2: single event
      assert(rows(1).getAs[Timestamp]("session_start") == ts("2024-01-01 10:30:00") &&
        rows(1).getAs[Long]("cnt") == 1L)
      // u2: independent key
      assert(rows(2).getAs[String]("user") == "u2" &&
        rows(2).getAs[Double]("value_sum") == 8.0)
    } finally q.stop()
  }

  test("OddsStream.priceHistory: sliding windows emit OHLC per selection once closed") {
    import graft.streaming.OddsStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawOdds]
    val hist = OddsStream.priceHistory(
      OddsStream.normalize(mem.toDF()),
      windowDur = "10 minutes", slideDur = "5 minutes", watermark = "0 seconds")
    val q = hist.writeStream.format("memory").queryName("odds_hist")
      .outputMode("append").start()
    try {
      mem.addData(
        RawOdds("m1", "b", "1x2", "2.00", "3.00", "4.00", ts("2024-01-01 10:01:00")),
        RawOdds("m1", "b", "1x2", "2.20", "3.00", "3.80", ts("2024-01-01 10:04:00")),
        RawOdds("m1", "b", "1x2", "1.90", "3.10", "4.10", ts("2024-01-01 10:07:00")))
      q.processAllAvailable()
      // watermark 0s: advancing event time past a window end closes it
      mem.addData(
        RawOdds("m1", "b", "1x2", "1.95", "3.10", "4.05", ts("2024-01-01 10:21:00")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT * FROM odds_hist WHERE selection = 'home' ORDER BY window_start").collect()
      // ticks at 10:01/10:04/10:07 → sliding windows [09:55,10:05) (2 ticks),
      // [10:00,10:10) (3), [10:05,10:15) (1); all closed by the 10:21 tick
      assert(rows.length == 3, rows.mkString("; "))
      val w0 = rows(0) // [09:55, 10:05): open 2.00 @10:01, close 2.20 @10:04
      assert(w0.getAs[Long]("ticks") == 2L)
      assert(w0.getAs[Double]("open") == 2.0 && w0.getAs[Double]("close") == 2.2)
      val w1 = rows(1) // [10:00, 10:10): low 1.90, high 2.20
      assert(w1.getAs[Long]("ticks") == 3L)
      assert(w1.getAs[Double]("open") == 2.0 && w1.getAs[Double]("close") == 1.9)
      assert(w1.getAs[Double]("low") == 1.9 && w1.getAs[Double]("high") == 2.2)
      val w2 = rows(2) // [10:05, 10:15): single tick
      assert(w2.getAs[Long]("ticks") == 1L)
      assert(w2.getAs[Double]("open") == 1.9 && w2.getAs[Double]("close") == 1.9)
      // every selection leg is tracked independently
      val draws = spark.sql(
        "SELECT low, high FROM odds_hist WHERE selection = 'draw' " +
        "AND window_start = TIMESTAMP '2024-01-01 10:00:00'").collect()
      assert(draws.length == 1 &&
        draws.head.getDouble(0) == 3.0 && draws.head.getDouble(1) == 3.1)
    } finally q.stop()
  }

  test("StreamDedup.novelDocs: drops in-batch, cross-batch, and historical dups") {
    import graft.streaming.StreamDedup
    import graft.scale.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[RawDoc]
    // historical corpus already holds "seen before"
    val historical = Seq("seen before").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    val q = StreamDedup.novelDocs(mem.toDF(), historical, watermark = "1 hour")
      .writeStream.format("memory").queryName("novel_docs")
      .outputMode("append").start()
    try {
      mem.addData(
        RawDoc(1L, "fresh content one", ts("2024-01-01 10:00:00")),
        RawDoc(2L, "Fresh  Content One", ts("2024-01-01 10:00:30")), // exact dup after normalization
        RawDoc(3L, "seen before", ts("2024-01-01 10:01:00")))        // historical dup
      q.processAllAvailable()
      mem.addData(
        RawDoc(4L, "fresh content one", ts("2024-01-01 10:05:00")),  // cross-batch dup (in watermark)
        RawDoc(5L, "genuinely new", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM novel_docs").collect()
        .map(_.getLong(0)).toSet
      // exactly one of the in-batch dup pair survives; historical (3) and
      // cross-batch (4) dups never emit; the novel doc (5) does
      assert(ids.intersect(Set(1L, 2L)).size == 1, s"got $ids")
      assert(!ids.contains(3L) && !ids.contains(4L), s"got $ids")
      assert(ids.contains(5L), s"got $ids")
    } finally q.stop()
  }

  test("StreamDedup.novelByMinhash: corpus near-dups gated, novel and short docs pass") {
    import graft.streaming.StreamDedup
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val index = corpus.select(
        posexplode(StreamDedup.minhashBandBuckets(col("text"))).as(Seq("band", "bucket")))
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of corpus 100
      (2L, "completely different words entirely unrelated content here now"),
      (3L, "ab")) // shorter than a shingle: null buckets, passes by construction
      .toDF("doc_id", "text")
    val out = StreamDedup.novelByMinhash(batch, index)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L), s"got $out")
  }

  test("StreamDedup.minhashBandBuckets: row expression matches the batch index banding") {
    import graft.scale.Dedup
    import graft.streaming.StreamDedup
    val rowSide = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), StreamDedup.minhashBandBuckets(col("text")).as("bb"))
    val sig = Dedup.minhashSignatures(spark, TestSpark.Sf0001)
    val batchSide = sig.select(col("doc_id"),
      array((0 until Dedup.NumHashes / Dedup.BandWidth).map(b =>
        md5(concat(col(s"m${b * Dedup.BandWidth}"), col(s"m${b * Dedup.BandWidth + 1}")))): _*)
        .as("bb2"))
    val diff = rowSide.join(batchSide, "doc_id")
      .filter(col("bb") =!= col("bb2")).count()
    assert(diff == 0L, "streaming band buckets must equal the batch banding")
  }

  test("streaming debounce equals the batch lag audit on the corpus stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamDedup.DebEvent
    val all = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ms"))
      .orderBy("ts_ms", "event_id").collect()
      .map(r => DebEvent(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val (b1, b2) = all.splitAt(all.length / 2) // state must carry across triggers
    val mem = MemoryStream[DebEvent]
    val ckpt = Files.createTempDirectory("graft_deb").toString
    val query = graft.streaming.StreamDedup.debounce(mem.toDS(), 300000L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("deb_out")
      .start()
    try {
      mem.addData(b1.toIndexedSeq); query.processAllAvailable()
      mem.addData(b2.toIndexedSeq); query.processAllAvailable()
      val streamed = spark.table("deb_out")
        .groupBy("eventType").agg(count(lit(1)).as("kept"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.EventOps
        .debounceStats(spark, TestSpark.Sf0001).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream kept $streamed but batch audit says $batch")
    } finally query.stop()
  }

  test("StreamReplay: micro-batched upsert state equals the batch arg-max") {
    import graft.streaming.StreamReplay
    val before = StreamReplay.batchesExecuted.get()
    val res = StreamReplay.streamUpsertQuery(spark, TestSpark.Sf0001)
    // the replay must really micro-batch (one per file drop), not drain
    // everything in one batch — otherwise it proves nothing about the
    // upsert LOOP
    assert(StreamReplay.batchesExecuted.get() - before >= StreamReplay.Slices,
      "replay collapsed into fewer micro-batches than file slices")
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ms"))
    val expect = graft.operators.Ranking.latestPerKey(ev,
      Seq(col("user_id")), Seq(col("ts_ms"), col("event_id")))
    assert(res.exceptAll(expect).count() == 0 &&
      expect.exceptAll(res).count() == 0,
      "streamed upsert state differs from batch last-writer-wins")
  }

  test("StreamReplay: watermarked window replay equals the batch rollup " +
    "and spans multiple micro-batches") {
    import graft.streaming.StreamReplay
    val trigBefore = StreamReplay.windowTriggers.get()
    val emitBefore = StreamReplay.windowEmissions.get()
    val res = StreamReplay.streamWindowQuery(spark, TestSpark.Sf0001)
    // one trigger per time-span file drop (plus possibly a final
    // no-data flush batch) — the watermark must really advance across
    // micro-batches, not close everything in one pass
    assert(StreamReplay.windowTriggers.get() - trigBefore >= StreamReplay.Slices,
      "window replay collapsed into fewer micro-batches than file slices")
    assert(StreamReplay.windowEmissions.get() - emitBefore >= 2,
      "append-mode emissions all landed in one batch — watermark never " +
        "closed windows mid-stream")
    // emitted rows == batch GROUP BY over the closed-window predicate
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .select(col("ts_ms"), col("event_type"),
        floor(col("value") * 100).cast("long").as("v"))
    val wmRow = ev.agg(max(col("ts_ms"))).head()
    val wm = wmRow.getLong(0) - 86400000L
    val expect = ev
      .groupBy(expr("(ts_ms div 604800000) * 604800000").as("w_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_v"))
      .filter(col("w_start") + 604800000L <= wm)
    assert(res.exceptAll(expect).count() == 0 &&
      expect.exceptAll(res).count() == 0,
      "streamed window emissions differ from the batch rollup")
    // The watermark-monotonicity argument needs FileStreamSource to
    // read slice_k k-th, and the source orders by file mtime — so the
    // slice files must carry strictly increasing mtimes per slice
    // (back-to-back writes can otherwise tie on coarse-granularity
    // filesystems and replay out of order, silently dropping rows).
    val sliceDir = StreamReplay.sliceDirFor(TestSpark.Sf0001)
      .getOrElse(fail("window replay left no cached slice dir"))
    val mtimes = (0 until StreamReplay.Slices).map { k =>
      val files = new java.io.File(s"$sliceDir/slice_$k").listFiles()
      assert(files != null && files.nonEmpty, s"slice_$k missing")
      files.map(_.lastModified()).max
    }
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == mtimes.size,
      s"slice mtimes not strictly increasing: ${mtimes.mkString(", ")}")
  }

  test("replay queries return empty frames, not crashes, on an empty events table") {
    import graft.streaming.StreamReplay
    // Raw-schema empty fixture (the replays derive ts_ms from ts
    // themselves, so the fixture must carry the RAW events schema).
    val corpus = Files.createTempDirectory("graft_empty_corpus").toString
    spark.read.parquet(TestSpark.Sf0001 + "/events.parquet")
      .limit(0).write.parquet(corpus + "/events.parquet")
    // Zero rows → no state dir / no closed windows; both replays must
    // return the batch oracle's empty set instead of PATH_NOT_FOUND
    // (streamWindowQuery formerly also MatchErrored on null min/max).
    assert(StreamReplay.streamUpsertQuery(spark, corpus).count() == 0,
      "empty-corpus upsert replay should produce empty state")
    assert(StreamReplay.streamWindowQuery(spark, corpus).count() == 0,
      "empty-corpus window replay should emit nothing")
  }

  test("upsertBatch is idempotent across replays (retry safety)") {
    val tableDir = Files.createTempDirectory("graft_replay").toString + "/state"
    val batch = LiveScores.normalize(Seq(
      RawScore("X", "Y", "3-2", "FT", "90", "flash", ts("2024-01-02 20:00:00")))
      .toDF())
    LiveScores.upsertBatch(spark, batch, tableDir)
    LiveScores.upsertBatch(spark, batch, tableDir)
    val state = spark.read.parquet(tableDir)
    assert(state.count() == 1)
    assert(state.head().getAs[String]("status") == "finished")
  }

  test("parquetUpsert repairs a swap that crashed between its two renames") {
    val base = Files.createTempDirectory("graft_swapcrash").toString
    val tableDir = base + "/state"
    def batchOf(home: String) = LiveScores.normalize(Seq(
      RawScore(home, "Y", "1-0", "FT", "90", "flash", ts("2024-01-02 20:00:00")))
      .toDF())
    LiveScores.upsertBatch(spark, batchOf("A"), tableDir)
    // Simulate the crash window: live dir renamed away, the fully
    // written merged state still sitting in .next — exactly what a kill
    // between the two renames leaves behind.
    val live = new java.io.File(tableDir)
    assert(live.renameTo(new java.io.File(tableDir + ".next")),
      "test setup: could not stage the crash state")
    // Next batch must FIRST recover the .next state, then merge into it
    // — the old in-place overwrite would have lost key A entirely here.
    LiveScores.upsertBatch(spark, batchOf("B"), tableDir)
    val keys = spark.read.parquet(tableDir)
      .select("external_id").collect().map(_.getString(0)).sorted
    assert(keys.length == 2, s"crash recovery lost state: ${keys.mkString(",")}")
  }

  test("parquetUpsert discards a torn .next (no _SUCCESS) instead of promoting it") {
    val base = Files.createTempDirectory("graft_torncrash").toString
    val tableDir = base + "/state"
    def batchOf(home: String) = LiveScores.normalize(Seq(
      RawScore(home, "Y", "1-0", "FT", "90", "flash", ts("2024-01-02 20:00:00")))
      .toDF())
    // Simulate a FIRST-EVER batch that died mid-write: live never
    // existed, .next holds a torn parquet write with no _SUCCESS marker.
    // Promoting it would resurrect a corrupt table; the repair must
    // delete it and let the incoming batch rebuild from empty.
    val next = new java.io.File(tableDir + ".next")
    assert(next.mkdirs(), "test setup: could not create torn .next")
    java.nio.file.Files.write(next.toPath.resolve("part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52)) // truncated magic, unreadable
    LiveScores.upsertBatch(spark, batchOf("A"), tableDir)
    val keys = spark.read.parquet(tableDir)
      .select("external_id").collect().map(_.getString(0))
    assert(keys.length == 1, s"torn .next leaked into live: ${keys.mkString(",")}")
    assert(!next.exists(), "torn .next should have been deleted")
  }

  test("parquetUpsert writes its own commit marker, independent of committer config") {
    // r12 ADVICE (medium): completeness must not hinge on
    // mapreduce.fileoutputcommitter.marksuccessfuljobs. The engine-owned
    // _GRAFT_COMMIT is written by parquetUpsert itself after the write
    // and rides through the swap into the live dir.
    val base = Files.createTempDirectory("graft_marker").toString
    val tableDir = base + "/state"
    val batch = LiveScores.normalize(Seq(
      RawScore("A", "Y", "1-0", "FT", "90", "flash", ts("2024-01-02 20:00:00")))
      .toDF())
    LiveScores.upsertBatch(spark, batch, tableDir)
    assert(new java.io.File(tableDir, "_GRAFT_COMMIT").exists(),
      "engine-owned commit marker missing from live dir")
  }

  test("crash repair with marksuccessfuljobs=false restores .old instead of wiping state") {
    // The r12 ADVICE failure shape: live missing (crash after
    // rename(live, .old)), .next complete but MARKERLESS (committer
    // configured to skip _SUCCESS, and written by a build without the
    // engine marker), .old holding the only full copy of prior state.
    // The old repair deleted .next AND .old — total state loss. The
    // repair must restore .old to live before discarding the
    // unprovable .next.
    val base = Files.createTempDirectory("graft_oldrestore").toString
    val tableDir = base + "/state"
    def batchOf(home: String) = LiveScores.normalize(Seq(
      RawScore(home, "Y", "1-0", "FT", "90", "flash", ts("2024-01-02 20:00:00")))
      .toDF())
    LiveScores.upsertBatch(spark, batchOf("A"), tableDir)
    val live = new java.io.File(tableDir)
    val old = new java.io.File(tableDir + ".old")
    val next = new java.io.File(tableDir + ".next")
    assert(live.renameTo(old), "test setup: could not stage .old")
    // a complete-looking .next with EVERY completeness marker stripped
    LiveScores.upsertBatch(spark, batchOf("B"), tableDir + ".next.tmp")
    assert(new java.io.File(tableDir + ".next.tmp").renameTo(next))
    new java.io.File(next, "_SUCCESS").delete()
    new java.io.File(next, "_GRAFT_COMMIT").delete()
    LiveScores.upsertBatch(spark, batchOf("C"), tableDir)
    val keys = spark.read.parquet(tableDir)
      .select("external_id").collect().map(_.getString(0)).toSet
    // A (restored from .old) + C (the new batch); B's unprovable .next
    // is discarded — checkpoint replay owns rebuilding it.
    assert(keys.size == 2, s"prior state lost in repair: ${keys.mkString(",")}")
    assert(!next.exists() && !old.exists(), "staging dirs should be gone")
  }

  test("crash repair promotes .old when live and .next are both missing") {
    val base = Files.createTempDirectory("graft_oldonly").toString
    val tableDir = base + "/state"
    def batchOf(home: String) = LiveScores.normalize(Seq(
      RawScore(home, "Y", "1-0", "FT", "90", "flash", ts("2024-01-02 20:00:00")))
      .toDF())
    LiveScores.upsertBatch(spark, batchOf("A"), tableDir)
    assert(new java.io.File(tableDir).renameTo(new java.io.File(tableDir + ".old")))
    LiveScores.upsertBatch(spark, batchOf("B"), tableDir)
    val keys = spark.read.parquet(tableDir)
      .select("external_id").collect().map(_.getString(0)).toSet
    assert(keys.size == 2, s".old-only state lost: ${keys.mkString(",")}")
  }

  test("a rename that fails by RETURNING FALSE aborts the swap instead of " +
      "falling through to the deletes") {
    // The FileSystem.rename CONTRACT signals most failures by returning
    // false, not throwing (javadoc; missing destination parent, some
    // object-store semantics — the local ChecksumFileSystem happens to
    // throw instead, so the false path is exercised via a stub honoring
    // the documented contract). Every rename in parquetUpsert precedes a
    // delete; silently ignoring a false return on a restore/promote
    // would destroy the only surviving copy of the table. The guard must
    // turn false into an abort BEFORE any delete runs.
    val base = Files.createTempDirectory("graft_renamefail").toString
    val falseFs = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Boolean = false
    }
    falseFs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val src = new org.apache.hadoop.fs.Path(base + "/src")
    val dst = new org.apache.hadoop.fs.Path(base + "/dst")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Merge.renameOrAbort(falseFs, src, dst)
    }
    assert(e.getMessage.contains("returned false"), e.getMessage)
  }
}
