package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.apps.DailyAnalytics
import graft.operators.{EntityResolution, Merge, Validate}
import graft.sources.{Bronze, FbrefStats, RestCollectors, SiteParsers}
import graft.streaming.{LiveScores, OddsStream}

/** `daily_etl`: one daily cycle of the reference pipeline per pass, over
  * the bronze files `gen.py` wrote for this seed:
  *
  *  1. `parse` — squad, injury and FBref match HTML pages and REST squad
  *     JSON through `Bronze` + `SiteParsers` / `FbrefStats` /
  *     `RestCollectors`;
  *  2. `validate` — `Validate.validate` quarantines rows without a value;
  *  3. `resolve` — `EntityResolution.resolve` against the player master;
  *  4. `merge` — `Merge.parquetUpsert` of the matched rows into a silver
  *     table whose key set is the same every pass, then the gold total;
  *  5. `analytics` — `DailyAnalytics.run` over the corpus tables;
  *  6. `live_trigger` ×[[LiveDrops]], `odds_trigger` ×1 — a JSON drop
  *     followed by one `LiveScores.runOnce` / `OddsStream.runOnce`; an op
  *     lasts from the drop to its state being readable.
  *
  * Every op's output is checked against `expected.json` (seeded counts
  * and totals) or against a batch recompute made during set-up. Silver,
  * stream input, state and checkpoint dirs live under the run's work dir.
  */
final class DailyEtl(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private val LiveDrops = 1
  private val LiveMatches = 40
  private val OddsMatches = 40
  private val Bookmakers = Seq("bet365", "bwin", "pinnacle")

  private val bronze = s"$data/bronze"
  private val silver = s"$work/silver/players"
  private val live = Seq("in", "state", "ckpt").map(d => s"$work/stream/live/$d")
  private val odds = Seq("in", "state", "ckpt").map(d => s"$work/stream/odds/$d")
  (live.head :: odds.head :: Nil).foreach(d => Files.createDirectories(Paths.get(d)))

  private val expected: Map[String, Double] = {
    val txt = new String(Files.readAllBytes(Paths.get(data, "expected.json")))
    val etl = txt.substring(txt.indexOf("\"etl\""))
    "\"([a-z_]+)\": (-?[0-9.]+)".r.findAllMatchIn(etl.substring(0, etl.indexOf('}')))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }
  private def expect(what: String, got: Double, key: String): Unit =
    if (math.abs(got - expected(key)) > 1e-6)
      throw new IllegalStateException(s"$what: got $got, expected ${expected(key)}")
  private def expect(what: String, got: Long, key: String): Unit =
    expect(what, got.toDouble, key)

  private val master = spark.read.parquet(s"$data/master.parquet")
  private val rules = Seq(Validate.notNull("name"), Validate.notNull("market_value"),
    Validate.atLeast("market_value", 0.0))

  /** Gold stages of `DailyAnalytics.run` with their registry twin: the
    * stage's row count must equal the oracle-checked twin's. */
  private val goldTwins = Map("top_performers" -> "q_top_spenders",
    "transfer_analysis" -> "q_transfers", "weekly_summary" -> "q_weekly_rollup")
  private var stageItems = Map[String, Long]()

  def prepare(rec: Recorder): Unit = {
    val twins = goldTwins.values.toSeq.sorted
    twins.foreach { q =>
      rec.op(q) {
        val df = SparkEntry.queries(q)(spark, data)
        (df.collect(), df.schema)
      } { case (rows, schema) =>
        stageItems += q -> rows.length.toLong
        Oracle.writeResult(spark, work, q, rows, schema)
      }
    }
    Oracle.writeSql(work, twins)
    pass(0, rec)
  }

  private var drop = 0

  def pass(k: Int, rec: Recorder): Unit = {
    val ok = for {
      (squad, _) <- rec.op("parse", release = false) {
        rec.layer("sources.parse") {
          def pages(sub: String) = Bronze.readHtmlSnapshots(spark, s"$bronze/$sub")
          val squad = SiteParsers.squadFromPages(pages("squad"))
            .withColumnRenamed("nationality", "country").localCheckpoint()
          val pm = FbrefStats.playerMatchStats(pages("fbref"))
            .agg(count(lit(1)), sum("minutes")).head()
          (squad, (squad.count(),
            SiteParsers.injuriesFromPages(pages("injuries")).localCheckpoint().count(),
            pm.getLong(0), pm.getLong(1),
            RestCollectors.collectPlayers(pages("rest").withColumnRenamed("html", "body"))
              .localCheckpoint().count()))
        }
      } { case (_, (nSquad, nInj, nPm, minutes, nRest)) =>
        expect("squad rows", nSquad, "squad_rows")
        expect("injury rows", nInj, "injury_rows")
        expect("player-match rows", nPm, "player_match_rows")
        expect("player-match minutes", minutes, "player_match_minutes")
        expect("REST players", nRest, "rest_players")
        rec.count("sources.rows", (nSquad + nInj + nPm + nRest).toDouble)
      }
      (valid, nValid) <- rec.op("validate", release = false) {
        rec.layer("operators.validate") {
          val v = Validate.validate(squad, rules)
          val valid = v.valid.localCheckpoint()
          (valid, valid.count(), v.quarantine.count())
        }
      } { case (_, nValid, nQ) =>
        expect("quarantined rows", nQ, "quarantined")
        expect("valid rows", nValid + expected("quarantined"), "squad_rows")
      }.map(t => (t._1, t._2))
      matched <- rec.op("resolve", release = false) {
        rec.layer("operators.resolve") {
          val r = EntityResolution.resolve(valid, master,
            nameCol = "name", blockCol = "country", idCol = "id")
          val matched = r.matched.localCheckpoint()
          (matched, matched.count(), r.review.count(), r.create.count())
        }
      } { case (_, m, r, c) =>
        expect("matched", m, "matched")
        expect("review", r, "review")
        expect("create", c, "create")
        rec.count("operators.resolve_auto_ratio", m.toDouble / nValid)
      }.map(_._1)
      _ <- rec.op("merge", release = false) {
        rec.layer("operators.merge") {
          Merge.parquetUpsert(spark,
            matched.select(col("entity_id"), col("name"), col("market_value"), lit(k).as("version")),
            silver, keys = Seq("entity_id"), version = Seq("version"))
        }
        spark.read.parquet(silver)
          .agg(count(lit(1)), sum(col("market_value").cast("decimal(18,2)")).cast("double"))
          .head()
      } { gold =>
        expect("silver rows", gold.getLong(0), "silver_rows")
        expect("gold market value", gold.getDouble(1), "gold_market_value")
        rec.count("operators.merge_written_mb", dirMb(silver))
      }
      _ <- rec.op("analytics") {
        rec.layer("apps.daily_analytics")(DailyAnalytics.run(spark, data))
      } { stages =>
        val failedStages = stages.filter(_.status == "failed")
        rec.count("apps.stages_failed", failedStages.size)
        if (failedStages.nonEmpty)
          throw new IllegalStateException("failed stages: " +
            failedStages.map(s => s"${s.stage} (${s.error})").mkString(", "))
        stages.foreach { s =>
          val want = goldTwins.get(s.stage).map(stageItems)
            .getOrElse(stageItems.getOrElse(s.stage, s.items))
          if (s.items != want)
            throw new IllegalStateException(s"stage ${s.stage}: ${s.items} rows, expected $want")
          stageItems += s.stage -> want
        }
      }
    } yield ()
    rec.dropCheckpoints()
    if (ok.isDefined) {
      (1 to LiveDrops).foreach(_ => liveTrigger(rec))
      oddsTrigger(rec)
    }
  }

  private val base = java.time.Instant.parse("2024-06-01T12:00:00Z").getEpochSecond

  /** Write one live-score drop, then drain it into the state table. The
    * state must hold one row per match carrying this drop's scores. */
  private def liveTrigger(rec: Recorder): Unit = {
    drop += 1
    val r = new scala.util.Random(seed * 1000003 + drop)
    val scores = (0 until LiveMatches).map(_ => (r.nextInt(5), r.nextInt(5)))
    val at = java.time.Instant.ofEpochSecond(base + drop * 30L)
    val lines = scores.zipWithIndex.map { case ((h, a), i) =>
      s"""{"home_team":"Home $i","away_team":"Away $i","score_text":"$h-$a",""" +
        s""""status_text":"LIVE","match_time":"${drop % 90}'","source":"flashscore","scraped_at":"$at"}"""
    }
    Files.writeString(Paths.get(live.head, f"drop_$drop%06d.json"), lines.mkString("\n"))
    rec.op("live_trigger")(trigger(rec, () => LiveScores.runOnce(spark, live(0), live(1), live(2)))) { _ =>
      val st = spark.read.parquet(live(1)).agg(count(lit(1)), sum("home_score")).head()
      if (st.getLong(0) != LiveMatches || st.getLong(1) != scores.map(_._1).sum)
        throw new IllegalStateException(s"live state $st after drop $drop")
    }
  }

  /** One odds drop (300 s poller): every (match, bookmaker) 1x2 price. */
  private def oddsTrigger(rec: Recorder): Unit = {
    drop += 1
    val r = new scala.util.Random(seed * 1000033 + drop)
    val at = java.time.Instant.ofEpochSecond(base + drop * 300L)
    val lines = for (i <- 0 until OddsMatches; b <- Bookmakers) yield {
      def price = f"${1.2 + r.nextInt(800) / 100.0}%.2f"
      s"""{"match_id":"m$i","bookmaker":"$b","market":"1x2","odds_home":"$price",""" +
        s""""odds_draw":"$price","odds_away":"$price","captured_at":"$at"}"""
    }
    Files.writeString(Paths.get(odds.head, f"drop_$drop%06d.json"), lines.mkString("\n"))
    rec.op("odds_trigger")(trigger(rec, () => OddsStream.runOnce(spark, odds(0), odds(1), odds(2)))) { _ =>
      val n = spark.read.parquet(odds(1)).filter(col("captured_at") === java.sql.Timestamp.from(at)).count()
      if (n != OddsMatches * Bookmakers.size)
        throw new IllegalStateException(s"odds state has $n rows of drop $drop")
    }
  }

  private def trigger(rec: Recorder, start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    rec.layer("streaming.trigger") {
      val q = start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

  private def dirMb(dir: String): Double = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(_.getName.endsWith(".parquet")).map(_.length).sum / 1048576.0
  }
}
