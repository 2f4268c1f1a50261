package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-trip oracle harnesses: synthesize site-shaped pages from the
  * corpus tables, push them through the real parsers, and emit typed
  * columns the DuckDB oracle recomputes directly from the tables. Any
  * defect in the parser's segmentation, predicates, or coercion breaks
  * the hash match — the same proof pattern as
  * [[FbrefStats.matchStatsFromLineitem]].
  */
object RoundTrip {

  /** Fan expression-dense synthesized pages across the session's cores.
    * The synthetic corpus arrives as ONE small parquet split, so without
    * this a parse-heavy round trip runs as a single task and the bench
    * measures one core of 32 — an artifact of the tiny input, not a
    * scale property (production inputs are many splits and parallelize
    * naturally; the rows here are a few KB each, so the extra exchange
    * is negligible). */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** One synthesized page per nation: the input's `__row` HTML fragments
    * are concatenated in custkey order — `array_sort` on the (ck, html)
    * struct keys the collected rows deterministically, which is what
    * makes every per-nation round trip reproducible — and wrapped in
    * `head`/`foot`, with `prefix<nk>` as the snapshot path. Shared by
    * every per-nation harness so the ordering trick lives in ONE place. */
  private def pagesByNation(rows: DataFrame, prefix: String,
                            head: String, foot: String): DataFrame =
    rows.groupBy(col("nk"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("ck"), col("__row").as("h")))), s => s.getField("h")), "")
        .as("rows"))
      .select(concat(lit(prefix), col("nk")).as("snapshot_path"),
        concat(lit(head), col("rows"), lit(foot)).as("html"))

  /** q_transfers: one Transfermarkt-style transfers page per nation.
    * Even custkeys are listed in the Zugänge (in) table, odd in the
    * Abgänge (out) table; fee text cycles free / loan / €…m by
    * custkey % 3 (exercising F8 fee typing); the bare age cell, position
    * whitelist cell, /verein/ club link, and dd.MM.yyyy date cell
    * exercise the predicate-based field discovery of
    * [[SiteParsers.transfersFromPages]]. */
  def transfersFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val positions = array(lit("GK"), lit("DF"), lit("MF"), lit("FW"))
    val c = Tables.customer(spark, dir)
      .select(
        col("c_custkey").as("ck"),
        col("c_name").as("nm"),
        col("c_nationkey").as("nk"),
        (lit(18) + pmod(col("c_custkey"), lit(30))).cast("int").as("age"),
        element_at(positions, (pmod(col("c_custkey"), lit(4)) + 1).cast("int")).as("pos"),
        abs(col("c_acctbal")).cast("decimal(12,2)").as("fee_m"),
        date_format(date_add(lit("2023-07-01").cast("date"),
          pmod(col("c_custkey"), lit(60)).cast("int")), "dd.MM.yyyy").as("dt"))
    // "Leihe" alone would not match the reference's fee-cell keyword list
    // (fee|ablöse|€|free|loan) — real pages write "Leihe / loan"
    val feeCell = when(pmod(col("ck"), lit(3)) === 0, lit("ablösefrei"))
      .when(pmod(col("ck"), lit(3)) === 1, lit("Leihe / loan"))
      .otherwise(concat(lit("€"), col("fee_m").cast("string"), lit("m")))
    val rowHtml = concat(
      lit("<tr><td><a href=\"/p/profil/spieler/"), col("ck"), lit("\">"), col("nm"),
      lit("</a></td><td>"), col("pos"),
      lit("</td><td>"), col("age").cast("string"),
      lit("</td><td><a href=\"/n/startseite/verein/"), col("nk"), lit("\">Nation "),
      col("nk"), lit("</a></td><td>"), feeCell,
      lit("</td><td>"), col("dt"), lit("</td></tr>"))
    val rows = c.withColumn("__row", rowHtml)
    def tableOf(rowsCol: String): org.apache.spark.sql.Column = concat(
      lit("<table class=\"items\"><tr><th>Spieler</th><th>Pos</th><th>Alter</th>" +
        "<th>Verein</th><th>Ablöse</th><th>Datum</th></tr>"),
      col(rowsCol), lit("</table>"))
    val pages = rows
      .groupBy(col("nk"))
      .agg(
        array_join(transform(array_sort(collect_list(
          struct(col("ck"), when(pmod(col("ck"), lit(2)) === 0, col("__row")).otherwise("").as("h")))),
          s => s.getField("h")), "").as("in_rows"),
        array_join(transform(array_sort(collect_list(
          struct(col("ck"), when(pmod(col("ck"), lit(2)) === 1, col("__row")).otherwise("").as("h")))),
          s => s.getField("h")), "").as("out_rows"))
      .select(col("nk"),
        concat(lit("<html><body><h2>Zugänge</h2>"), tableOf("in_rows"),
          lit("<h3>Abgänge</h3>"), tableOf("out_rows"),
          lit("</body></html>")).as("html"))
      .withColumn("snapshot_path", concat(lit("nation_"), col("nk")))

    SiteParsers.transfersFromPages(pages)
      .select(
        col("direction"), col("player_name"), col("position"), col("age"),
        col("transfer_fee.fee_type").as("fee_type"),
        col("transfer_fee.amount").as("fee_amount"),
        col("club_name"), col("transfer_date"))
      .orderBy("player_name")
  }

  /** q_squad: Transfermarkt squad-table round trip (S8) — one page per
    * nation; exercises the positional cell mapping, dd.MM.yyyy birth
    * dates (F6 parseDateMulti), €…m market values (F7), and the
    * header-row drop in [[SiteParsers.squadFromPages]]. */
  def squadFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val positions = array(lit("GK"), lit("DF"), lit("MF"), lit("FW"))
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"),
      col("c_name").as("nm"),
      col("c_nationkey").as("nk"),
      (pmod(col("c_custkey"), lit(98)) + 1).cast("int").as("num"),
      element_at(positions, (pmod(col("c_custkey"), lit(4)) + 1).cast("int")).as("pos"),
      date_format(date_add(lit("1980-01-01").cast("date"),
        pmod(col("c_custkey"), lit(8000)).cast("int")), "dd.MM.yyyy").as("born"),
      (pmod(col("c_custkey"), lit(90)) + 1).cast("int").as("mv_m"))
    val rowHtml = concat(
      lit("<tr><td>"), col("num"),
      lit("</td><td><a href=\"/p/spieler/"), col("ck"), lit("\">"), col("nm"),
      lit("</a></td><td>"), col("pos"),
      lit("</td><td>"), col("born"),
      lit("</td><td>Nation "), col("nk"),
      lit("</td><td>€"), col("mv_m"), lit(".00m</td></tr>"))
    val pages = pagesByNation(c.withColumn("__row", rowHtml), "nation_",
      "<table class=\"items\"><tr><th>#</th><th>Player</th><th>Pos</th>" +
        "<th>Born</th><th>Nat</th><th>Value</th></tr>",
      "</table>")
    SiteParsers.squadFromPages(pages)
      .select(col("number"), col("name"), col("position"), col("birth_date"),
        col("nationality"), col("market_value"))
      .orderBy("name")
  }

  /** q_injuries: injuries-table round trip (S10) — absence typing (F28)
    * from the reason text, date parsing, missed-games int. */
  def injuriesFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val reasons = array(lit("Hamstring injury"), lit("Rotsperre"),
      lit("Krank"), lit("National team duty"))
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"),
      col("c_name").as("nm"),
      col("c_nationkey").as("nk"),
      element_at(reasons, (pmod(col("c_custkey"), lit(4)) + 1).cast("int")).as("reason"),
      date_format(date_add(lit("2024-01-01").cast("date"),
        pmod(col("c_custkey"), lit(300)).cast("int")), "dd.MM.yyyy").as("start"),
      date_format(date_add(lit("2024-01-15").cast("date"),
        pmod(col("c_custkey"), lit(300)).cast("int")), "dd.MM.yyyy").as("until"),
      pmod(col("c_custkey"), lit(12)).cast("int").as("missed"))
    val rowHtml = concat(
      lit("<tr><td>"), col("nm"),
      lit("</td><td>"), col("reason"),
      lit("</td><td>"), col("start"),
      lit("</td><td>"), col("until"),
      lit("</td><td>"), col("missed"), lit("</td></tr>"))
    val pages = pagesByNation(c.withColumn("__row", rowHtml), "nation_",
      "<table><tr><th>Player</th><th>Reason</th><th>From</th>" +
        "<th>Until</th><th>Games</th></tr>",
      "</table>")
    SiteParsers.injuriesFromPages(pages)
      .select(col("player_name"), col("reason"), col("start_date"),
        col("end_or_expected"), col("missed_games"), col("absence_type"))
      .orderBy("player_name")
  }

  /** q_career_stats: S14-depth round trip — one Bundesliga-style player
    * page per customer carrying a career table (header row, three season
    * rows, a short decoy row that the ≥3-cells filter must drop, and a
    * non-numeric goals cell in season 3 exercising the isdigit guard)
    * plus a season-stat grid: key/value rows for Einsätze / Tore /
    * Laufdistanz (German decimal comma) and stat-box entries for Tore
    * (must LOSE to the grid row) and Sprints (only present as a box —
    * must fill). Parsed by [[BundesligaCrawl.playersFromPages]]; the
    * oracle recomputes every value from `customer` arithmetic. */
  def careerFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"),
      col("c_name").as("nm"),
      col("c_nationkey").as("nk"))
    val seasonNames = Seq("2021/22", "2022/23", "2023/24")
    def careerRow(i: Int): org.apache.spark.sql.Column = {
      val goalsCell =
        if (i == 3) lit("-")
        else pmod(col("ck") * i, lit(20)).cast("string")
      concat(
        lit("<tr><td>"), lit(seasonNames(i - 1)),
        lit("</td><td>Nation "), col("nk"),
        lit("</td><td>Liga "), pmod(col("ck"), lit(3)),
        lit("</td><td>"), pmod(col("ck") + i, lit(40)),
        lit("</td><td>"), goalsCell,
        lit("</td><td>"), pmod(col("ck") + 7 * i, lit(15)),
        lit("</td></tr>"))
    }
    def kvRow(key: String, value: org.apache.spark.sql.Column) = concat(
      lit(s"""<div class="row"><div class="key">$key</div><div class="value">"""),
      value, lit("</div></div>"))
    def statBox(label: String, value: org.apache.spark.sql.Column) = concat(
      lit(s"""<div class="stat-box"><div class="label">$label</div><div class="value">"""),
      value, lit("</div></div>"))
    val html = concat(
      lit("<html><body><h1>"), col("nm"), lit("</h1>"),
      kvRow("Einsätze", concat(pmod(col("ck"), lit(40)), lit(" Spiele"))),
      kvRow("Tore", pmod(col("ck"), lit(20))),
      kvRow("Laufdistanz",
        concat(pmod(col("ck"), lit(400)), lit(","), pmod(col("ck"), lit(10)), lit(" km"))),
      statBox("Tore", pmod(col("ck"), lit(20)) + 1),
      statBox("Sprints", pmod(col("ck"), lit(90))),
      lit("<table class=\"career-history\"><tr><th>Saison</th><th>Team</th>" +
        "<th>Liga</th><th>Spiele</th><th>Tore</th><th>Vorlagen</th></tr>"),
      careerRow(1), careerRow(2), careerRow(3),
      lit("<tr><td>decoy</td><td>short</td></tr></table></body></html>"))
    val pages = fanOut(c.select(
      concat(lit("https://example.test/de/bundesliga/spieler/"), col("ck"))
        .as("player_url"),
      html.as("html")))
    BundesligaCrawl.playersFromPages(pages)
      .select(
        regexp_extract(col("player_url"), "(\\d+)$", 1).cast("long").as("ck"),
        col("season_stats.appearances").as("cur_appearances"),
        col("season_stats.goals").as("cur_goals"),
        col("season_stats.sprints").as("cur_sprints"),
        col("season_stats.distance_km").as("cur_distance_km"),
        // explode_outer, deliberately: plain explode lets
        // InferFiltersFromGenerate add `isnotnull(career) && size>0`,
        // and predicate pushdown inlines the whole career parse into a
        // filter that sinks below the fan-out exchange — re-running the
        // expensive parse in the single-split scan stage. Every page
        // here has 3 career rows, so outer ≡ inner.
        explode_outer(col("senior_career")).as("cs"))
      .select(col("ck"),
        col("cs.season").as("season"), col("cs.team").as("team"),
        col("cs.league").as("league"),
        col("cs.appearances").as("appearances"),
        col("cs.goals").as("goals"), col("cs.assists").as("assists"),
        col("cur_appearances"), col("cur_goals"), col("cur_sprints"),
        col("cur_distance_km"))
      .orderBy("ck", "season")
  }

  /** q_market_value: S11 round trip — one Transfermarkt-style profile
    * page per customer: `/beraterfirma/` agent link, and a market-value
    * block cycling German formats by custkey mod 3 — "a,b Mio." (comma
    * decimal ×1e6), "n Tsd." (×1e3), bare euros — followed by the
    * "Letzte Änderung: dd.MM.yyyy" date. Exercises F7 value scaling,
    * German decimal handling, and date extraction; the oracle recomputes
    * every field from customer arithmetic (value strings are built
    * identically on both sides, so the double parse is bit-equal). */
  def marketValueFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    val a = pmod(col("ck"), lit(90)) + 1
    val b = pmod(col("ck"), lit(10))
    val valBlock = when(pmod(col("ck"), lit(3)) === 0,
        concat(a, lit(","), b, lit(" Mio. €")))
      .when(pmod(col("ck"), lit(3)) === 1,
        concat((pmod(col("ck"), lit(900)) + 100), lit(" Tsd. €")))
      .otherwise(concat((pmod(col("ck"), lit(5000)) + 1), lit(" €")))
    val dt = date_format(date_add(lit("2024-01-01").cast("date"),
      pmod(col("ck"), lit(365)).cast("int")), "dd.MM.yyyy")
    val html = concat(
      lit("<html><body><a href=\"/beraterfirma/agentur-"), pmod(col("ck"), lit(50)),
      lit("/\">Agentur "), pmod(col("ck"), lit(50)), lit("</a>"),
      lit("<div class=\"marktwert\">"), valBlock,
      lit(" Letzte Änderung: "), dt, lit("</div></body></html>"))
    val pages = fanOut(c.select(
      concat(lit("profil_"), col("ck")).as("snapshot_path"), html.as("html")))
    SiteParsers.marketValueFromPages(pages)
      .select(
        regexp_extract(col("snapshot_path"), "(\\d+)$", 1).cast("long").as("ck"),
        col("agent_name"), col("valuation_date"), col("value_eur"), col("currency"))
      .orderBy("ck")
  }

  /** q_odds: S12/S13 round trip — bet365-shaped AND bwin-shaped odds
    * pages synthesized per nation (one match row per customer), pushed
    * through [[SiteParsers.bookmakerOddsFromPages]] with both selector
    * configs. Exercises the row-class segmentation, per-class value
    * extraction, the two-element vs " - "-joined team layouts, and the
    * plain-decimal odds guard (every 3rd customer carries a fractional
    * "1/2" home price, every 5th an "evens" draw — both must null out,
    * like the reference's isdigit rejection). */
  def oddsFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    def oddsStr(base: Column): Column =
      concat((base / 10).cast("int"), lit("."), pmod(base, lit(10)))
    val oh = oddsStr(pmod(col("ck"), lit(80)) + 11)
    val od = oddsStr(pmod(col("ck"), lit(60)) + 21)
    val oa = oddsStr(pmod(col("ck"), lit(90)) + 12)
    val homeCell = when(pmod(col("ck"), lit(3)) === 0, lit("1/2")).otherwise(oh)
    val drawCell = when(pmod(col("ck"), lit(5)) === 0, lit("evens")).otherwise(od)
    def span(cls: String, v: Column): Column =
      concat(lit(s"""<span class="$cls">"""), v, lit("</span>"))
    val bet365Row = concat(
      lit("<div class=\"gl-Market_General\">"),
      span("gl-ParticipantFixtureDetails_TeamNames", concat(lit("Home "), col("ck"))),
      span("gl-ParticipantFixtureDetails_TeamNames", concat(lit("Away "), col("ck"))),
      span("gl-ParticipantOddsOnly_Odds", homeCell),
      span("gl-ParticipantOddsOnly_Odds", drawCell),
      span("gl-ParticipantOddsOnly_Odds", oa),
      lit("</div>"))
    val bwinRow = concat(
      lit("<div class=\"grid-event-wrapper\">"),
      span("participants", concat(lit("Home "), col("ck"), lit(" - Away "), col("ck"))),
      span("option-value", homeCell),
      span("option-value", drawCell),
      span("option-value", oa),
      lit("</div>"))
    def pagesOf(rowCol: Column, tag: String): DataFrame = fanOut(
      pagesByNation(c.withColumn("__row", rowCol), tag,
        "<html><body>", "</body></html>"))
    val out365 = SiteParsers.bookmakerOddsFromPages(
      pagesOf(bet365Row, "b365_"), SiteParsers.Bet365)
    val outBwin = SiteParsers.bookmakerOddsFromPages(
      pagesOf(bwinRow, "bwin_"), SiteParsers.Bwin)
    out365.unionByName(outBwin)
      .select(
        col("bookmaker"),
        regexp_extract(col("home_team"), "(\\d+)$", 1).cast("long").as("ck"),
        col("home_team"), col("away_team"),
        col("odds_home"), col("odds_draw"), col("odds_away"))
      .orderBy("bookmaker", "ck")
  }

  /** q_fixtures: S4/S6 round trip — one FBref-style Scores & Fixtures
    * page per nation (a `sched`-id table with thead/tbody, one row per
    * customer, plus a decoy `stats_misc` table the id filter must skip).
    * Exercises the positional pattern-sniffing: `/en/matches/<id>/`
    * report link, ISO date cell, `h-a` score cell (absent for every 9th
    * customer → null score), and the two `/en/squads/` team links. */
  def fixturesFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    val scoreCell = when(pmod(col("ck"), lit(9)) === 0, lit("—"))
      .otherwise(concat(pmod(col("ck"), lit(7)), lit("-"), pmod(col("ck"), lit(5))))
    val rowHtml = concat(
      lit("<tr><td><a href=\"/en/matches/m"), col("ck"), lit("/report\">Report</a></td><td>"),
      date_format(date_add(lit("2024-03-01").cast("date"),
        pmod(col("ck"), lit(28)).cast("int")), "yyyy-MM-dd"),
      lit("</td><td>"), scoreCell,
      lit("</td><td><a href=\"/en/squads/h"), col("ck"), lit("/\">Home "), col("ck"),
      lit("</a></td><td><a href=\"/en/squads/a"), col("ck"), lit("/\">Away "), col("ck"),
      lit("</a></td></tr>"))
    val pages = fanOut(pagesByNation(c.withColumn("__row", rowHtml), "sched_",
      "<html><body><table id=\"stats_misc\"><tbody><tr><td>" +
        "<a href=\"/en/matches/decoy/x\">decoy</a></td></tr></tbody></table>" +
        "<table id=\"sched_2024_fixtures\"><thead><tr><th>Date</th></tr></thead><tbody>",
      "</tbody></table></body></html>"))
    SiteParsers.fbrefFixturesFromPages(pages)
      .select(
        regexp_extract(col("match_id"), "(\\d+)$", 1).cast("long").as("ck"),
        col("match_id"), col("match_url"), col("match_date"),
        col("score.home_score").as("home_goals"),
        col("score.away_score").as("away_goals"),
        col("home_team"), col("away_team"))
      .orderBy("ck")
  }

  /** Letter-only people names (the referee fallback regex and the
    * labeled-value extractor both reject digits in names). */
  private val PersonNames = Seq(
    "Anna Berg", "Max Hofer", "Lena Vogt", "Paul Krause", "Mia Steiner")

  private def personName(k: Column): Column =
    element_at(
      array(PersonNames.map(lit): _*), (pmod(k, lit(5)) + 1).cast("int"))

  /** q_matchday: S15 round trip — one match-report page per customer,
    * cycling the parser's three extraction paths by custkey mod 3:
    * mode 0 = full ld+json SportsEvent (teams/scores/kickoff/location/
    * referee straight from JSON); mode 1 = partial ld+json (teams and
    * location only) — scores fall back to the FIRST "d - d" body text
    * and the referee to the officiatingCrew role scan (the non-referee
    * crew entry must be skipped); mode 2 = no JSON at all: title
    * "A vs B" teams, body score, labeled Stadium fact row, and the
    * "Schiedsrichter: Name" text. The score div precedes any script so
    * the body-text score regex always hits the real score first. */
  def matchdayFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    val mode = pmod(col("ck"), lit(3))
    val h = pmod(col("ck"), lit(5))
    val a = pmod(col("ck"), lit(4))
    val ref = personName(col("ck"))
    val kickoff = lit("2024-05-04T18:30:00Z")
    val scriptOpen = "<script type=\"application/ld+json\">"
    val fullJson = concat(
      lit(scriptOpen + "{\"@type\":\"SportsEvent\",\"homeTeam\":{\"name\":\"Home "),
      col("ck"), lit("\"},\"awayTeam\":{\"name\":\"Away "), col("ck"),
      lit("\"},\"homeScore\":"), h, lit(",\"awayScore\":"), a,
      lit(",\"startDate\":\""), kickoff,
      lit("\",\"location\":{\"name\":\"Arena "), col("nk"),
      lit("\"},\"referee\":{\"name\":\""), ref, lit("\"}}</script>"))
    val crewJson = concat(
      lit(scriptOpen + "{\"@type\":\"SportsEvent\",\"homeTeam\":{\"name\":\"Home "),
      col("ck"), lit("\"},\"awayTeam\":{\"name\":\"Away "), col("ck"),
      lit("\"},\"location\":{\"name\":\"Arena "), col("nk"),
      lit("\"},\"officiatingCrew\":[{\"name\":\"Jo Stein\",\"roleName\":\"Fourth Official\"}," +
        "{\"name\":\""), ref, lit("\",\"roleName\":\"Referee\"}]}</script>"))
    val scoreDiv = concat(lit("<div class=\"result\">"), h, lit(" - "), a, lit("</div>"))
    val title = concat(lit("<title>Home "), col("ck"), lit(" vs Away "), col("ck"),
      lit("</title>"))
    val body = when(mode === 0, concat(scoreDiv, fullJson))
      .when(mode === 1, concat(scoreDiv, crewJson))
      .otherwise(concat(scoreDiv,
        lit("<table><tr><th>Stadium</th><td>Arena "), col("nk"), lit("</td></tr></table>"),
        lit("<p>Schiedsrichter: "), ref, lit("</p>")))
    val pages = fanOut(c.select(
      concat(lit("match_"), col("ck")).as("snapshot_path"),
      concat(lit("<html><head>"), title, lit("</head><body>"), body,
        lit("</body></html>")).as("html")))
    BundesligaCrawl.matchdayFromPages(pages)
      .select(
        regexp_extract(col("snapshot_path"), "(\\d+)$", 1).cast("long").as("ck"),
        col("home_team"), col("away_team"), col("home_score"), col("away_score"),
        col("kickoff_utc"), col("stadium"), col("referee"), col("source"))
      .orderBy("ck")
  }

  /** q_clubs: S14 stage-1 round trip — club detail pages (h1 name,
    * Gegründet/Stadion/Trainer fact rows, first kader link) recomputed
    * by the oracle from customer arithmetic. */
  def clubsFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    val html = concat(
      lit("<html><body><h1>Club "), col("ck"), lit("</h1><table>"),
      lit("<tr><th>Gegründet</th><td>"), (pmod(col("ck"), lit(120)) + 1900),
      lit("</td></tr><tr><th>Stadion</th><td>Arena "), col("nk"),
      lit("</td></tr><tr><th>Trainer</th><td>"), personName(col("ck")),
      lit("</td></tr></table><a href=\"/de/bundesliga/clubs/c"), col("ck"),
      lit("/kader\">Kader</a></body></html>"))
    val pages = fanOut(c.select(
      concat(lit("club_"), col("ck")).as("source_url"), html.as("html")))
    BundesligaCrawl.clubsFromPages(pages)
      .select(
        regexp_extract(col("source_url"), "(\\d+)$", 1).cast("long").as("ck"),
        col("name"), col("founded_year"), col("stadium"), col("coach"),
        col("squad_url"))
      .orderBy("ck")
  }

  /** q_clubs_json: S20 round trip — static JSON club documents (the
    * reference serves a bundled clubs JSON file from its API layer,
    * src/api/endpoints/clubs.py:24-55) written as REAL multi-line JSON
    * files on local disk and read back through the S20 source
    * ([[Bronze.readJsonSnapshots]]), so the file-based multiLine parse
    * path itself is oracle-witnessed — the other S-series round trips
    * synthesize pages in-plan and never touch the reader. One document
    * per nation; the write is `partitionBy` (one file per key) so no
    * row ever crosses the driver, and the inner object goes through
    * `to_json` for correct escaping. The written files are a pure
    * function of the nation table, so they are a
    * [[graft.scale.Silver.scaffold]]: one dir per nation content per
    * JVM, rewritten after an in-place corpus rewrite. */
  def clubsJsonFromNations(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val doc = concat(
      lit("{\n  \"club\": "),
      to_json(struct(
        col("n_nationkey").cast("long").as("club_id"),
        concat(lit("FC "), col("n_name")).as("name"),
        (pmod(col("n_nationkey"), lit(120)) + 1900).cast("long").as("founded"),
        col("n_regionkey").cast("long").as("region"))),
      lit(",\n  \"active\": "),
      (pmod(col("n_nationkey"), lit(2)) === 0).cast("string"),
      lit("\n}"))
    val tmp = graft.scale.Silver.scaffold(s"$dir/nation.parquet", "clubs_json") { t =>
      n.select(col("n_nationkey").as("k"), doc.as("value"))
        .write.partitionBy("k").mode("overwrite").text(t)
    }
    Bronze.readJsonSnapshots(spark, tmp)
      .select(
        col("club.club_id").as("club_id"), col("club.name").as("name"),
        col("club.founded").as("founded"), col("club.region").as("region"),
        col("active"))
      .orderBy("club_id")
  }

  /** q_game_json: S16/F25/F26 round trip — captured game-node JSON in
    * every shape the normalizer supports, cycled per customer: team
    * layout by custkey mod 4 (home/away objects, homeTeam/awayTeam,
    * nested teams, participants-by-side list) × score layout by custkey
    * mod 3 (score string "h-a", homeScore/awayScore ints, nested
    * scores.ft). Every combination must flatten to the same canonical
    * record, which the oracle recomputes from customer arithmetic. */
  def gameJsonFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("ck"))
    val h = pmod(col("ck"), lit(7))
    val a = pmod(col("ck"), lit(6))
    def teamObj(idPrefix: String, name: String): Column = concat(
      lit("{\"id\":\"" + idPrefix), col("ck"),
      lit("\",\"name\":\"" + name + " "), col("ck"), lit("\"}"))
    val home = teamObj("h", "Home")
    val away = teamObj("a", "Away")
    val teamsPart = when(pmod(col("ck"), lit(4)) === 0,
        concat(lit("\"home\":"), home, lit(",\"away\":"), away))
      .when(pmod(col("ck"), lit(4)) === 1,
        concat(lit("\"homeTeam\":"), home, lit(",\"awayTeam\":"), away))
      .when(pmod(col("ck"), lit(4)) === 2,
        concat(lit("\"teams\":{\"home\":"), home, lit(",\"away\":"), away, lit("}")))
      .otherwise(concat(
        lit("\"participants\":[{\"side\":\"home\",\"id\":\"h"), col("ck"),
        lit("\",\"name\":\"Home "), col("ck"),
        lit("\"},{\"side\":\"away\",\"id\":\"a"), col("ck"),
        lit("\",\"name\":\"Away "), col("ck"), lit("\"}]")))
    val scorePart = when(pmod(col("ck"), lit(3)) === 0,
        concat(lit("\"score\":\""), h, lit("-"), a, lit("\"")))
      .when(pmod(col("ck"), lit(3)) === 1,
        concat(lit("\"homeScore\":"), h, lit(",\"awayScore\":"), a))
      .otherwise(concat(
        lit("\"scores\":{\"ft\":{\"home\":"), h, lit(",\"away\":"), a, lit("}}")))
    val json = concat(lit("{\"id\":\"g"), col("ck"), lit("\","),
      teamsPart, lit(","), scorePart, lit("}"))
    fanOut(c.withColumn("__json", json))
      .select(col("ck"),
        graft.functions.JsonNorm.normalizeGameJson(col("__json")).as("g"))
      .select(col("ck"), col("g.id").as("game_id"),
        col("g.home").as("home"), col("g.away").as("away"),
        col("g.home_id").as("home_id"), col("g.away_id").as("away_id"),
        col("g.home_score").as("home_score"), col("g.away_score").as("away_score"))
      .orderBy("ck")
  }

  /** q_live_norm: S2/S3 round trip — the batch/stream-shared live-score
    * normalization ([[graft.streaming.LiveScores.normalize]]): score
    * split over "h-a" / "h:a" / unparseable text, the F12 status ladder
    * (minute ticks and HT → live, FT/AET → finished, else scheduled,
    * case-insensitive), and the F29 sha-256 external id — recomputed in
    * DuckDB with its own sha256. */
  def liveNormFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("ck"))
    val h = pmod(col("ck"), lit(9))
    val a = pmod(col("ck"), lit(8))
    val scoreText = when(pmod(col("ck"), lit(4)) === 0, concat(h, lit("-"), a))
      .when(pmod(col("ck"), lit(4)) === 1, concat(h, lit(":"), a))
      .when(pmod(col("ck"), lit(4)) === 2, lit("vs"))
      .otherwise(concat(h, lit(" - "), a))
    val statusText = element_at(array(
      lit("45'"), lit("HT"), lit("FT"), lit("aet"), lit("Scheduled"), lit("live")),
      (pmod(col("ck"), lit(6)) + 1).cast("int"))
    val src = when(pmod(col("ck"), lit(2)) === 0, "flashscore").otherwise("sofascore")
    val raw = c.select(
      col("ck"),
      concat(lit("Home "), col("ck")).as("home_team"),
      concat(lit("Away "), col("ck")).as("away_team"),
      scoreText.as("score_text"),
      statusText.as("status_text"),
      lit("45").as("match_time"),
      src.as("source"),
      lit("2024-05-04 18:30:00").cast("timestamp").as("scraped_at"))
    graft.streaming.LiveScores.normalize(raw)
      .select(col("ck"), col("home_team"), col("away_team"),
        col("home_score"), col("away_score"), col("status"), col("external_id"))
      .orderBy("ck")
  }

  /** q_idmap_mapping / q_idmap_conflicts: the J7 external-id registry
    * exercised end-to-end. `current` maps each residue class of custkey
    * to its smallest member; `staged` claims map orderkey residues to the
    * ordering customer — colliding residues create intra-batch conflicts,
    * overlaps with `current` create cross-registry conflicts. */
  private def idmapInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val current = Tables.customer(spark, dir)
      .groupBy(pmod(col("c_custkey"), lit(500)).cast("string").as("external_id"))
      .agg(min(col("c_custkey")).as("internal_id"))
      .select(lit("reg").as("source"), col("external_id"), col("internal_id"))
    val staged = Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 2000)
      .select(lit("reg").as("source"),
        pmod(col("o_orderkey"), lit(700)).cast("string").as("external_id"),
        col("o_custkey").as("internal_id"))
    (current, staged)
  }

  def idmapMapping(spark: SparkSession, dir: String): DataFrame = {
    val (current, staged) = idmapInputs(spark, dir)
    graft.operators.ExternalIdMap.register(current, staged).mapping
      .orderBy("source", "external_id", "internal_id")
  }

  def idmapConflicts(spark: SparkSession, dir: String): DataFrame = {
    val (current, staged) = idmapInputs(spark, dir)
    graft.operators.ExternalIdMap.register(current, staged).conflicts
      .orderBy("source", "external_id", "claimed_internal_id")
  }

  // ---- REST-collector round trips (S18/S19) -------------------------------
  // Synthesize football-data.org-shaped response documents (one JSON doc
  // per nation) from customer rows via to_json — null struct fields are
  // OMITTED from the generated JSON (spark.sql.jsonGenerator.ignoreNullFields
  // default), which is exactly what exercises the collectors' .get()
  // default paths — then push them through RestCollectors and emit typed
  // rows the DuckDB oracle recomputes directly from customer.

  /** Per-customer element structs rolled into one response doc per
    * nation: {"<arrayField>": [...]} (+ optional envelope fields). */
  private def responsesByNation(elems: DataFrame, arrayField: String,
                                envelope: Seq[Column] = Nil): DataFrame =
    fanOut(elems.groupBy(col("nk"))
      .agg(collect_list(col("__elem")).as("items"))
      .select(to_json(struct(
        envelope :+ col("items").as(arrayField): _*)).as("body")))

  /** q_rest_teams: collect_teams branch matrix — absent `area` (ck%13=0
    * → null country), absent `founded` (ck%5=0 → null), absent
    * `shortName`/`tla` (ck%3=0 / ck%4=0 → "" defaults). */
  def restTeamsFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_name").as("nm"),
      col("c_nationkey").as("nk"))
    val elem = struct(
      col("ck").as("id"),
      col("nm").as("name"),
      when(pmod(col("ck"), lit(13)) =!= 0,
        struct(concat(lit("Nation "), col("nk")).as("name"))).as("area"),
      when(pmod(col("ck"), lit(5)) =!= 0,
        lit(1900) + pmod(col("ck"), lit(120))).as("founded"),
      when(pmod(col("ck"), lit(3)) =!= 0, substring(col("nm"), 1, 8)).as("shortName"),
      when(pmod(col("ck"), lit(4)) =!= 0,
        concat(lit("T"), pmod(col("ck"), lit(26)))).as("tla"))
    RestCollectors.collectTeams(
        responsesByNation(c.withColumn("__elem", elem), "teams"))
      .orderBy(col("team_id").cast("long"))
  }

  /** q_rest_players: collect_players name-composition ladder — ck%11=0:
    * no name fields → "Unknown"; ck%11=5: firstName WITHOUT lastName →
    * still "Unknown" (the reference requires both); else ck%4=0:
    * firstName+lastName; else plain `name`. dateOfBirth absent for
    * ck%7=0; position "" (ck%6=0) and absent (ck%6=1) both → null. */
  def restPlayersFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val positions = array(lit("GK"), lit("DF"), lit("MF"), lit("FW"))
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_name").as("nm"),
      col("c_nationkey").as("nk"))
    val m11 = pmod(col("ck"), lit(11))
    val caseB = m11 === 5
    val caseC = m11 =!= 0 && m11 =!= 5 && pmod(col("ck"), lit(4)) === 0
    val caseD = m11 =!= 0 && m11 =!= 5 && pmod(col("ck"), lit(4)) =!= 0
    val elem = struct(
      col("ck").as("id"),
      when(caseD, col("nm")).as("name"),
      when(caseB || caseC, concat(lit("F"), col("ck"))).as("firstName"),
      when(caseC, concat(lit("L"), col("ck"))).as("lastName"),
      when(pmod(col("ck"), lit(7)) =!= 0,
        date_add(lit("1980-01-01").cast("date"),
          pmod(col("ck"), lit(8000)).cast("int")).cast("string")).as("dateOfBirth"),
      concat(lit("Nation "), col("nk")).as("nationality"),
      when(pmod(col("ck"), lit(6)) === 0, lit(""))
        .when(pmod(col("ck"), lit(6)) =!= 1,
          element_at(positions, (pmod(col("ck"), lit(4)) + 1).cast("int")))
        .as("position"))
    RestCollectors.collectPlayers(
        responsesByNation(c.withColumn("__elem", elem), "squad"))
      .orderBy(col("player_id").cast("long"))
  }

  /** q_rest_matches: collect_matches — all 8 ladder statuses plus an
    * unknown ("AWARDED", ck%10=8) and an absent one (ck%10=9), both →
    * "scheduled"; Z-suffixed utcDate; null-safe venue (present ck%3=0);
    * round_label precedence (matchday when even, else round.name —
    * overlap rows where both exist prove matchday wins). */
  def restMatchesFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val statuses = array(Seq("SCHEDULED", "LIVE", "IN_PLAY", "PAUSED",
      "FINISHED", "POSTPONED", "CANCELLED", "SUSPENDED", "AWARDED").map(lit): _*)
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
    val m10 = pmod(col("ck"), lit(10))
    val utcDate = concat(
      date_add(lit("2024-01-01").cast("date"),
        pmod(col("ck"), lit(365)).cast("int")).cast("string"),
      lit("T"), lpad(pmod(col("ck"), lit(24)).cast("string"), 2, "0"),
      lit(":"), lpad(pmod(col("ck"), lit(60)).cast("string"), 2, "0"),
      lit(":00Z"))
    val elem = struct(
      col("ck").as("id"),
      struct(col("ck").as("id")).as("homeTeam"),
      struct((col("ck") + 1).as("id")).as("awayTeam"),
      utcDate.as("utcDate"),
      when(m10 <= 8, element_at(statuses, (m10 + 1).cast("int"))).as("status"),
      when(pmod(col("ck"), lit(3)) === 0,
        struct(concat(lit("Arena "), col("nk")).as("name"))).as("venue"),
      when(pmod(col("ck"), lit(2)) === 0, pmod(col("ck"), lit(34)) + 1).as("matchday"),
      when(pmod(col("ck"), lit(2)) =!= 0 || pmod(col("ck"), lit(6)) === 0,
        struct(concat(lit("Stage "), pmod(col("ck"), lit(5))).as("name"))).as("round"))
    RestCollectors.collectMatches(
        responsesByNation(c.withColumn("__elem", elem), "matches",
          envelope = Seq(
            struct(col("nk").cast("long").as("id")).as("competition"),
            struct(lit("2024").as("season")).as("filters"))))
      .orderBy(col("match_id").cast("long"))
  }

  /** q_game_enrich: the S16 fixture-completeness gate + game-page
    * enrichment coalesce-merge, round-tripped. Captures cycle the gate's
    * four cases by ck%4 — 0: complete (unified score string, must pass
    * through UNTOUCHED even though a page exists); 1: xor-incomplete
    * (homeScore only); 2: away side missing; 3: no score evidence.
    * Pages exist for ck%11≠3 (missing page → enrichment keeps capture
    * values) in the homeTeam/awayTeam + scores.ft node shape, with
    * home_id absent for ck%8=1 (page-null falls back to the capture's
    * id — the coalesce direction proof). */
  def gameEnrichFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("ck"))
    val m4 = pmod(col("ck"), lit(4))
    val raw = concat(
      lit("{\"id\":\"g"), col("ck"),
      lit("\",\"home\":{\"name\":\"CapHome "), col("ck"),
      lit("\",\"id\":\"ch"), col("ck"), lit("\"}"),
      when(m4 =!= 2, concat(
        lit(",\"away\":{\"name\":\"CapAway "), col("ck"),
        lit("\",\"id\":\"ca"), col("ck"), lit("\"}"))).otherwise(lit("")),
      when(m4 === 0, concat(
          lit(",\"score\":\""), pmod(col("ck"), lit(9)),
          lit("-"), pmod(col("ck"), lit(8)), lit("\"")))
        .when(m4 === 1, concat(lit(",\"homeScore\":"), pmod(col("ck"), lit(5))))
        .otherwise(lit("")),
      lit("}"))
    val captures = fanOut(c.select(col("ck"), raw.as("raw")))
    val pageJson = concat(
      lit("{\"id\":\"g"), col("ck"),
      lit("\",\"homeTeam\":{\"name\":\"PgHome "), col("ck"), lit("\""),
      when(pmod(col("ck"), lit(8)) =!= 1,
        concat(lit(",\"id\":\"ph"), col("ck"), lit("\""))).otherwise(lit("")),
      lit("},\"awayTeam\":{\"name\":\"PgAway "), col("ck"),
      lit("\",\"id\":\"pa"), col("ck"),
      lit("\"},\"scores\":{\"ft\":{\"home\":"), pmod(col("ck"), lit(7)),
      lit(",\"away\":"), pmod(col("ck"), lit(6)), lit("}}}"))
    val pages = fanOut(c.filter(pmod(col("ck"), lit(11)) =!= 3)
      .select(concat(lit("<html><script id=\"__NEXT_DATA__\">"),
        pageJson, lit("</script></html>")).as("html")))
    Courtside.enrichFixtures(captures, "raw", pages, "html")
      .orderBy("ck")
  }

  /** q_entity_type: the F27 URL dispatch ladder round-tripped. URLs live
    * on host `spieler-markt.de` — the host itself contains a kind token,
    * so a broken host-strip would classify every row "player" and fail
    * the hash. ck%13 cycles all 12 kind segments (German + English) plus
    * a no-kind path; ck%5=0 prepends a `/verein/` segment, which must
    * only win for the otherwise-unknown rows (ladder precedence, not
    * path position, decides). */
  def entityTypeFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val kinds = array(Seq("match", "spiel", "referee", "schiedsrichter",
      "stadium", "stadion", "player", "spieler", "coach", "trainer",
      "team", "verein").map(lit): _*)
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("ck"))
    val m13 = pmod(col("ck"), lit(13))
    val seg = when(m13 < 12,
        concat(lit("/"), element_at(kinds, (m13 + 1).cast("int")),
          lit("/p"), col("ck")))
      .otherwise(concat(lit("/news/"), col("ck")))
    val pre = when(pmod(col("ck"), lit(5)) === 0,
      concat(lit("/verein/c"), col("ck"))).otherwise(lit(""))
    val url = concat(lit("https://spieler-markt.de"), pre, seg)
    fanOut(c)
      .select(col("ck"), url.as("url"),
        graft.functions.Parsing.entityTypeFromUrl(url).as("entity_type"))
      .orderBy("ck")
  }

  /** q_normalize: the F17 matching normalization round-tripped. Raw
    * names mix a cycled ACCENTED token (restricted to characters where
    * Java's NFD-mark-strip and DuckDB's ICU strip_accents provably
    * agree — é/ü/à/ñ/ç classes; ø and ß intentionally excluded, they
    * diverge between the two), cycled punctuation runs, the customer
    * name (carries '#'), and a trailing digit run — exercising accent
    * fold, case fold, punctuation→space, and whitespace collapse. */
  def normalizeFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val acc = array(Seq("Café", "Über", "Àgua", "Señor", "Çois").map(lit): _*)
    val punct = array(Seq("-", "/", "!!", "  ", "_").map(lit): _*)
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("ck"), col("c_name").as("nm"))
    val raw = concat(
      element_at(acc, (pmod(col("ck"), lit(5)) + 1).cast("int")),
      element_at(punct, (pmod(col("ck"), lit(5)) + 1).cast("int")),
      col("nm"), lit(" "), col("ck"))
    fanOut(c)
      .select(col("ck"), raw.as("raw"),
        graft.functions.Normalize.normalizeForMatching(raw).as("normalized"))
      .orderBy("ck")
  }

  /** q_fuzzy_ratio: the F19 custom Catalyst expression
    * (`graft_fuzzy_ratio`, exact thefuzz semantics: substitution-cost-2
    * edit distance, 100·2M/(|a|+|b|), half-up rounding) checked
    * CROSS-ENGINE — the DuckDB oracle replays the DP itself as a
    * recursive CTE (one recursion step per DP cell, the same
    * unrolled-replay technique as the BPE oracle). Pairs cycle
    * identical / one-delete / one-replace / one-duplicate edits of the
    * customer name at a key-derived position. The rounding agrees
    * bitwise: both engines compute 100.0·(n+m−D₂)/(n+m) in double with
    * the same op order and round half away from zero. */
  /** Typo'd name pairs shared by the two F19 harnesses: identical /
    * one-delete / one-replace / one-duplicate edits of the customer
    * name at a key-derived position. */
  private def typoPairs(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("ck"), col("c_name").as("a"))
    val p = (pmod(col("ck"), length(col("a")) - 2) + 2).cast("int")
    val m4 = pmod(col("ck"), lit(4))
    val b = when(m4 === 0, col("a"))
      .when(m4 === 1, concat(col("a").substr(lit(1), p - 1),
        col("a").substr(p + 1, length(col("a")) - p)))
      .when(m4 === 2, concat(col("a").substr(lit(1), p - 1), lit("x"),
        col("a").substr(p + 1, length(col("a")) - p)))
      .otherwise(concat(col("a").substr(lit(1), p),
        col("a").substr(p, length(col("a")) - p + 1)))
    fanOut(c.withColumn("b", b))
  }

  def fuzzyRatioFromCustomers(spark: SparkSession, dir: String): DataFrame =
    typoPairs(spark, dir)
      .selectExpr("ck", "a", "b", "graft_fuzzy_ratio(a, b) AS ratio")
      .orderBy("ck")

  /** q_fuzzy_approx: the codegen Levenshtein BLOCKING pre-filter
    * ([[graft.functions.Normalize.fuzzyRatioApprox]] — what
    * EntityResolution uses to trim candidates before the exact ratio).
    * Unit-cost Levenshtein and half-away-from-zero rounding agree
    * between Spark and DuckDB, so the oracle is direct. */
  def fuzzyApproxFromCustomers(spark: SparkSession, dir: String): DataFrame =
    typoPairs(spark, dir)
      .select(col("ck"), col("a"), col("b"),
        graft.functions.Normalize.fuzzyRatioApprox(col("a"), col("b"))
          .as("approx_ratio"))
      .orderBy("ck")

  /** q_jaro_winkler: the codegen'd [[graft.plans.JaroWinkler]] expression
    * checked CROSS-ENGINE against DuckDB's independent
    * `jaro_winkler_similarity` implementation (RapidFuzz-derived) — raw
    * doubles, no rounding witness (the evaluation order is pinned
    * bit-exact, fuzz-verified over 20k cases; see the expression's
    * scaladoc). Pairs cycle identical / one-delete / one-replace /
    * one-duplicate / reversed / empty variants of the customer name, so
    * the boost path (shared "Customer#" prefix), the no-common-prefix
    * path (reversed), and the zero path (empty) all cycle. */
  def jaroWinklerFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("ck"), col("c_name").as("a"))
    val p = (pmod(col("ck"), length(col("a")) - 2) + 2).cast("int")
    val m6 = pmod(col("ck"), lit(6))
    val b = when(m6 === 0, col("a"))
      .when(m6 === 1, concat(col("a").substr(lit(1), p - 1),
        col("a").substr(p + 1, length(col("a")) - p)))
      .when(m6 === 2, concat(col("a").substr(lit(1), p - 1), lit("x"),
        col("a").substr(p + 1, length(col("a")) - p)))
      .when(m6 === 3, concat(col("a").substr(lit(1), p),
        col("a").substr(p, length(col("a")) - p + 1)))
      .when(m6 === 4, reverse(col("a")))
      .otherwise(lit(""))
    fanOut(c.withColumn("b", b))
      .selectExpr("ck", "a", "b", "graft_jaro_winkler(a, b) AS jw")
      .orderBy("ck")
  }

  /** q_term_map: the F18 normalize-then-lookup composition round-tripped
    * over the static positions vocabulary. Raw terms cycle decorated
    * synonyms (case noise, punctuation, padding), one cross-CATEGORY
    * decoy ("Links" is a footedness synonym — must NOT map under
    * positions) and one unknown — both land on the null default. The
    * oracle derives the expected code arithmetically from the cycle. */
  def termMapFromCustomers(spark: SparkSession, dir: String): DataFrame = {
    val toks = array(Seq("Goalkeeper!!", "TORWART", " cb ", "Links",
      "  Striker", "Mittelfeld", "??unknown??", "RB").map(lit): _*)
    val c = Tables.customer(spark, dir).select(col("c_custkey").as("ck"))
    val raw = element_at(toks, (pmod(col("ck"), lit(8)) + 1).cast("int"))
    fanOut(c)
      .select(col("ck"), raw.as("raw_term"),
        graft.functions.Normalize.termLookup(raw,
          graft.functions.TermConfig.StaticFallback("positions")).as("position_code"))
      .orderBy("ck")
  }
}
