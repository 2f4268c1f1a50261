package graft

import org.apache.spark.sql.functions._

import graft.functions.JsonNorm
import graft.sources.{Bronze, RestCollectors}

/** Mirrors the reference's JSON-normalization unit tests
  * (tests/unit/test_utils.py:6-55) and HTML-fixture parser tests
  * (tests/conftest.py:31-120 pattern). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def norm(json: String) =
    spark.range(1).select(JsonNorm.normalizeGameJson(lit(json)).as("g"))
      .select("g.*").head()

  test("normalizeGameNode: home/away objects + score string") {
    val r = norm("""{"id":"m1","home":{"name":"A","id":"a1"},
      "away":{"name":"B","id":"b1"},"score":"2-1"}""")
    assert(r.getAs[String]("home") == "A" && r.getAs[String]("away") == "B")
    assert(r.getAs[String]("home_id") == "a1")
    assert(r.getAs[Int]("home_score") == 2 && r.getAs[Int]("away_score") == 1)
  }

  test("normalizeGameNode: homeTeam/awayTeam + homeScore/awayScore") {
    val r = norm("""{"homeTeam":{"name":"A"},"awayTeam":{"name":"B"},
      "homeScore":3,"awayScore":0}""")
    assert(r.getAs[String]("home") == "A")
    assert(r.getAs[Int]("home_score") == 3 && r.getAs[Int]("away_score") == 0)
  }

  test("normalizeGameNode: teams.home/away + scores.ft") {
    val r = norm("""{"teams":{"home":{"name":"A"},"away":{"name":"B"}},
      "scores":{"ft":{"home":1,"away":1}}}""")
    assert(r.getAs[String]("home") == "A")
    assert(r.getAs[Int]("home_score") == 1 && r.getAs[Int]("away_score") == 1)
  }

  test("normalizeGameNode: participants list by side") {
    val r = norm("""{"participants":[{"side":"home","name":"A","id":"x"},
      {"side":"away","name":"B","id":"y"}]}""")
    assert(r.getAs[String]("home") == "A" && r.getAs[String]("away") == "B")
    assert(r.getAs[String]("home_id") == "x" && r.getAs[String]("away_id") == "y")
  }

  test("extractTableRows: header+data rows, nested tags stripped") {
    val html = """<html><body><table class="squad">
      |<tr><th>Name</th><th>Value</th></tr>
      |<tr><td><a href="/p/1">Foo</a></td><td>42</td></tr>
      |<tr><td>Bar</td><td>€50.00m</td></tr>
      |</table></body></html>""".stripMargin
    val rows = spark.range(1).select(Bronze.extractTableRows(lit(html)).as("r"))
      .head().getSeq[scala.collection.Seq[String]](0).map(_.toList)
    assert(rows.length == 3)
    assert(rows(0) == List("Name", "Value"))
    assert(rows(1) == List("Foo", "42"))
    assert(rows(2) == List("Bar", "€50.00m"))
  }

  test("SiteParsers.squadFromPages: typed squad records from raw HTML (S8)") {
    import graft.sources.SiteParsers
    val html = """<table class="items">
      |<tr><th>#</th><th>Player</th><th>Pos</th><th>Born</th><th>Nat</th><th>Value</th></tr>
      |<tr><td>10</td><td><a>Lionel Messi</a></td><td>RW</td><td>24.06.1987</td><td>Argentina</td><td>€50.00m</td></tr>
      |<tr><td>1</td><td>Keeper  Guy</td><td>GK</td><td>01.01.1990</td><td>Germany</td><td>800 Tsd. €</td></tr>
      |</table>""".stripMargin
    val pages = Seq(html).toDF("html").withColumn("snapshot_path", lit("p1"))
    val out = SiteParsers.squadFromPages(pages).orderBy("number").collect()
    assert(out.length == 2)
    val messi = out.find(_.getAs[Int]("number") == 10).get
    assert(messi.getAs[String]("name") == "Lionel Messi")
    assert(messi.getAs[java.sql.Date]("birth_date").toString == "1987-06-24")
    assert(messi.getAs[Double]("market_value") == 5.0e7)
    assert(out.find(_.getAs[Int]("number") == 1).get.getAs[Double]("market_value") == 8.0e5)
  }

  test("SiteParsers.odds1x2FromPages: odds formats + implied probs (S13)") {
    import graft.sources.SiteParsers
    val html = """<table><tr><th>Bookmaker</th><th>1</th><th>X</th><th>2</th></tr>
      |<tr><td>bet365</td><td>2.50</td><td>3,20</td><td>+150</td></tr>
      |<tr><td>pinnacle</td><td>5/2</td><td>3.10</td><td>-110</td></tr>
      |</table>""".stripMargin
    val pages = Seq(html).toDF("html").withColumn("snapshot_path", lit("p1"))
    val out = SiteParsers.odds1x2FromPages(pages).orderBy("bookmaker").collect()
    assert(out.length == 2)
    val b365 = out.head
    assert(b365.getAs[Double]("odds_home") == 2.5)
    assert(b365.getAs[Double]("odds_draw") == 3.2)
    assert(b365.getAs[Double]("odds_away") == 2.5) // +150 American
    assert(math.abs(b365.getAs[Double]("overround") - (1 / 2.5 + 1 / 3.2 + 1 / 2.5)) < 1e-12)
    assert(out(1).getAs[Double]("odds_home") == 3.5) // 5/2 fractional
  }

  test("extractNextData + normalizeGameJson: hydration JSON to game record (S16)") {
    val html = """<html><body><div>stuff</div>
      |<script id="__NEXT_DATA__" type="application/json">{"homeTeam":{"name":"A"},
      |"awayTeam":{"name":"B"},"homeScore":2,"awayScore":2}</script>
      |</body></html>""".stripMargin
    val r = spark.range(1)
      .select(JsonNorm.normalizeGameJson(Bronze.extractNextData(lit(html))).as("g"))
      .select("g.*").head()
    assert(r.getAs[String]("home") == "A" && r.getAs[String]("away") == "B")
    assert(r.getAs[Int]("home_score") == 2)
    val none = spark.range(1)
      .select(Bronze.extractNextData(lit("<html>no hydration</html>"))).head()
    assert(none.isNullAt(0))
  }

  test("entityTypeFromUrl: zerozero dispatch ladder (F27)") {
    import graft.functions.Parsing
    val r = evalExpr(
      Parsing.entityTypeFromUrl(lit("https://www.fussballzz.de/match/12345/report")),
      Parsing.entityTypeFromUrl(lit("https://x.de/spieler/99/profil")),
      Parsing.entityTypeFromUrl(lit("https://x.de/spiel/42")),
      Parsing.entityTypeFromUrl(lit("https://x.de/schiedsrichter/7")),
      Parsing.entityTypeFromUrl(lit("https://x.de/stadion/3/west")),
      Parsing.entityTypeFromUrl(lit("https://x.de/trainer/5")),
      Parsing.entityTypeFromUrl(lit("https://x.de/verein/11/kader")),
      Parsing.entityTypeFromUrl(lit("https://spieler-markt.de/nowhere")),
      Parsing.entityTypeFromUrl(lit("https://x.de/news/today")))
    assert(r.getString(0) == "match")
    assert(r.getString(1) == "player")
    assert(r.getString(2) == "match")     // '/spiel/' ≠ '/spieler/'
    assert(r.getString(3) == "referee")
    assert(r.getString(4) == "stadium")
    assert(r.getString(5) == "coach")
    assert(r.getString(6) == "team")
    assert(r.getString(7) == "unknown")   // host must not dispatch
    assert(r.getString(8) == "unknown")
  }

  test("transfersFromPages: in/out direction, typed fields, fee typing (S9)") {
    import graft.sources.SiteParsers
    val html =
      """<html><body>
        |<h2>Zugänge 24/25</h2>
        |<table class="items responsive">
        |<tr><th>Spieler</th><th>Pos</th><th>Alter</th><th>Von</th><th>Ablöse</th></tr>
        |<tr><td><a href="/jude-bellingham/profil/spieler/581678">Jude Bellingham</a></td>
        |    <td>CM</td><td>20</td>
        |    <td><a href="/bvb/startseite/verein/16">Borussia Dortmund</a></td>
        |    <td>€103.00m</td><td>01.07.2023</td></tr>
        |<tr><td><a href="/x/profil/spieler/1">Free Guy</a></td>
        |    <td>FW</td><td>28</td>
        |    <td><a href="/y/startseite/verein/99">FC Ablösefrei</a></td>
        |    <td>ablösefrei</td><td>15.08.2023</td></tr>
        |</table>
        |<h3>Abgänge 24/25</h3>
        |<table class="items">
        |<tr><th>Spieler</th><th>Pos</th><th>Alter</th><th>Zu</th><th>Ablöse</th></tr>
        |<tr><td><a href="/a/profil/spieler/2">Loan Man</a></td>
        |    <td>GK</td><td>19</td>
        |    <td><a href="/z/startseite/verein/7">Leih FC</a></td>
        |    <td>Leihe / loan</td><td></td></tr>
        |</table>
        |</body></html>""".stripMargin
    val pages = Seq(html).toDF("html").withColumn("snapshot_path", lit("p1"))
    val out = SiteParsers.transfersFromPages(pages).orderBy("player_name").collect()
    assert(out.length == 3)
    val jude = out.find(_.getAs[String]("player_name") == "Jude Bellingham").get
    assert(jude.getAs[String]("direction") == "in")
    assert(jude.getAs[String]("position") == "CM")
    assert(jude.getAs[Int]("age") == 20)
    assert(jude.getAs[String]("club_name") == "Borussia Dortmund")
    assert(jude.getAs[String]("club_url") == "/bvb/startseite/verein/16")
    assert(jude.getAs[java.sql.Date]("transfer_date").toString == "2023-07-01")
    val fee = jude.getStruct(jude.fieldIndex("transfer_fee"))
    assert(fee.getAs[String]("fee_type") == "transfer_fee")
    assert(fee.getAs[Double]("amount") == 1.03e8)
    val free = out.find(_.getAs[String]("player_name") == "Free Guy").get
    assert(free.getStruct(free.fieldIndex("transfer_fee")).getAs[String]("fee_type") == "free")
    val loan = out.find(_.getAs[String]("player_name") == "Loan Man").get
    assert(loan.getAs[String]("direction") == "out")
    assert(loan.getStruct(loan.fieldIndex("transfer_fee")).getAs[String]("fee_type") == "loan")
  }

  test("marketValueFromPages: agent link + Letzte-Änderung value block (S11)") {
    import graft.sources.SiteParsers
    val html =
      """<html><body>
        |<div class="agent"><a href="/top-agency/beraterfirma/berater/123">Top Agency GmbH</a></div>
        |<div class="mv"><span>30,00 Mio. €</span> <span>Letzte Änderung: 05.06.2025</span></div>
        |</body></html>""".stripMargin
    val pages = Seq(html).toDF("html").withColumn("snapshot_path", lit("p1"))
    val r = SiteParsers.marketValueFromPages(pages).head()
    assert(r.getAs[String]("agent_name") == "Top Agency GmbH")
    assert(r.getAs[java.sql.Date]("valuation_date").toString == "2025-06-05")
    assert(r.getAs[Double]("value_eur") == 3.0e7)
    assert(r.getAs[String]("currency") == "EUR")
    // Tsd. scale + no agent
    val html2 = """<p>800,5 Tsd. € Letzte Änderung: 01.02.2024</p>"""
    val r2 = SiteParsers.marketValueFromPages(
      Seq(html2).toDF("html").withColumn("snapshot_path", lit("p2"))).head()
    assert(r2.isNullAt(r2.fieldIndex("agent_name")))
    assert(r2.getAs[Double]("value_eur") == 800500.0)
    // no value block at all
    val r3 = SiteParsers.marketValueFromPages(
      Seq("<p>nothing here</p>").toDF("html").withColumn("snapshot_path", lit("p3"))).head()
    assert(r3.isNullAt(r3.fieldIndex("value_eur")))
    assert(r3.isNullAt(r3.fieldIndex("currency")))
  }

  test("BundesligaCrawl: clubs → squads → players staged join from fixtures (S14)") {
    import graft.sources.BundesligaCrawl
    val clubPage =
      """<html><head><meta property="og:title" content="Borussia Dortmund"/></head><body>
        |<h1>Borussia Dortmund</h1>
        |<table><tr><th>Gegründet</th><td>1909</td></tr>
        |<tr><th>Stadion</th><td>Signal Iduna Park</td></tr>
        |<tr><th>Trainer</th><td>Edin Terzić</td></tr></table>
        |<a href="/de/bundesliga/clubs/bvb/kader">Kader</a>
        |</body></html>""".stripMargin
    val squadPage =
      """<html><body><table>
        |<tr><td>1</td><td><a href="/de/bundesliga/spieler/gregor-kobel">Gregor Kobel</a></td><td>Torwart</td></tr>
        |<tr><td>9</td><td><a href="/de/bundesliga/spieler/serhou-guirassy">Serhou Guirassy</a></td><td>FW</td></tr>
        |<tr><td><a href="/de/bundesliga/spieler/one-word">Mononym</a></td><td>MF</td></tr>
        |<tr><td><a href="/de/bundesliga/news/today">Some News Story</a></td><td>MF</td></tr>
        |<tr><td><a href="/de/bundesliga/spieler/no-pos-ctx">Backroom Staffer</a></td><td>42</td></tr>
        |</table></body></html>""".stripMargin
    val kobelPage =
      """<html><body><h1>Gregor Kobel - Spielerprofil - Bundesliga</h1>
        |<dl><dt>Position</dt><dd>GK</dd><dt>Rückennummer</dt><dd>1</dd>
        |<dt>Nationalität</dt><dd>Schweiz</dd></dl></body></html>""".stripMargin
    val guirassyPage =
      """<html><body><h1>Serhou Guirassy</h1>
        |<script id="__NEXT_DATA__" type="application/json">
        |{"props":{"pageProps":{"player":{"position":"Sturm","shirtNumber":"9","nationality":"Guinea"}}}}
        |</script></body></html>""".stripMargin

    val clubs = Seq(("club1", clubPage)).toDF("source_url", "html")
    val squads = Seq(("/de/bundesliga/clubs/bvb/kader", squadPage)).toDF("squad_url", "html")
    val players = Seq(
      ("/de/bundesliga/spieler/gregor-kobel", kobelPage),
      ("/de/bundesliga/spieler/serhou-guirassy", guirassyPage)).toDF("player_url", "html")

    // stage outputs
    val clubRows = BundesligaCrawl.clubsFromPages(clubs).collect()
    assert(clubRows.length == 1)
    assert(clubRows.head.getAs[String]("name") == "Borussia Dortmund")
    assert(clubRows.head.getAs[Int]("founded_year") == 1909)
    assert(clubRows.head.getAs[String]("squad_url") == "/de/bundesliga/clubs/bvb/kader")
    val links = BundesligaCrawl.playerLinksFromSquadPages(squads).collect()
    // one-word link text, non-spieler href, and no-position-context rows excluded
    assert(links.map(_.getAs[String]("player_url")).sorted.toSeq ==
      Seq("/de/bundesliga/spieler/gregor-kobel", "/de/bundesliga/spieler/serhou-guirassy"))

    // staged join
    val out = BundesligaCrawl.crawl(clubs, squads, players)
      .orderBy("shirt_number").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("club_name") == "Borussia Dortmund"))
    val kobel = out(0)
    assert(kobel.getAs[String]("first_name") == "Gregor")
    assert(kobel.getAs[String]("last_name") == "Kobel")
    assert(kobel.getAs[String]("position") == "Goalkeeper") // GK long-form
    assert(kobel.getAs[Int]("shirt_number") == 1)
    val gui = out(1)
    assert(gui.getAs[String]("position") == "Forward")      // hydration Sturm → Forward
    assert(gui.getAs[Int]("shirt_number") == 9)
    assert(gui.getAs[String]("nationality") == "Guinea")
  }

  test("BundesligaCrawl season-stat grid: German labels, pass-1 overwrite, stat-box fill (S14 depth)") {
    import graft.sources.BundesligaCrawl
    // Mirrors bundesliga_club_scraper.py:1465-1570: key/value grid rows
    // (German + English labels, German number formats), a later row
    // overwriting an earlier one (pass 1 is last-wins), an "Eigentore"
    // key claimed by the earlier 'tore|goals' pattern (the reference's
    // break-on-first-match ordering), and stat-box entries that only
    // fill fields the grid missed.
    val page =
      """<html><body><h1>Test Spieler - Spielerprofil - Bundesliga</h1>
        |<div class="stats">
        |<div class="row"><div class="key">Einsätze</div><div class="value">28 Spiele</div></div>
        |<div class="row"><div class="key">Tore</div><div class="value">7</div></div>
        |<div class="row"><div class="key">Tore</div><div class="value">9</div></div>
        |<div class="row"><div class="key">Eigentore</div><div class="value">2</div></div>
        |<div class="row"><div class="key">Gew. Zweikämpfe</div><div class="value">312</div></div>
        |<div class="row"><div class="key">Laufdistanz</div><div class="value">342,7 km</div></div>
        |<div class="row"><div class="key">Topspeed km/h</div><div class="value">34,91</div></div>
        |<div class="row"><div class="key">Minuten</div><div class="value">2.340</div></div>
        |<div class="row"><div class="key">Penalties scored</div><div class="value">4</div></div>
        |<div class="row"><div class="key">Penalties</div><div class="value">6</div></div>
        |<div class="row"><div class="key">Unmapped Stat</div><div class="value">5</div></div>
        |</div>
        |<div class="stat-box"><div class="label">Tore</div><div class="value">99</div></div>
        |<div class="stat-box"><div class="label">Sprints</div><div class="value">188</div></div>
        |</body></html>""".stripMargin
    val out = BundesligaCrawl.playersFromPages(
        Seq(("p1", page)).toDF("player_url", "html"))
      .select("season_stats.*").collect().head
    assert(out.getAs[Int]("appearances") == 28)
    // "Eigentore" is claimed by the earlier 'tore|goals' pattern (the
    // reference's break-on-first-match), and pass 1 is last-wins — so
    // the Eigentore row OVERWRITES the Tore rows: goals = 2, own_goals
    // stays null (its pattern is never reached for German keys). The
    // stat-box 99 must not override a pass-1 field either.
    assert(out.getAs[Int]("goals") == 2)
    assert(out.isNullAt(out.fieldIndex("own_goals")))
    assert(out.getAs[Int]("duels_won") == 312)
    assert(out.getAs[Double]("distance_km") == 342.7)
    assert(out.getAs[Double]("top_speed_kmh") == 34.91)
    assert(out.getAs[Int]("minutes_played") == 2340) // thousands dot stripped
    // "Penalties scored" is claimed by the earlier 'rote karten|red'
    // pattern ("sco-RED" — the reference's unanchored search does the
    // same), so it lands in red_cards and penalties_scored stays null.
    assert(out.getAs[Int]("red_cards") == 4)
    assert(out.isNullAt(out.fieldIndex("penalties_scored")))
    assert(out.getAs[Int]("penalties_taken") == 6)   // 'penalties$'
    // stat-box fills only the missing field
    assert(out.getAs[Int]("sprints") == 188)
    assert(out.isNullAt(out.fieldIndex("assists")))
    // the single-column convenience form must agree with the staged
    // pipeline inside playersFromPages
    val direct = Seq(page).toDF("html")
      .select(BundesligaCrawl.seasonStats(col("html")).as("s"))
      .select("s.*").collect().head
    assert(direct == out)
  }

  test("BundesligaCrawl career table: header skip, short-row drop, isdigit guard (S14 depth)") {
    import graft.sources.BundesligaCrawl
    // Mirrors _extract_player_career_stats (py:1572-1604): table classed
    // career|history|statistik, rows[1:], >=3 cells, season/team/league
    // positional, appearances/goals/assists only when digit-only.
    val page =
      """<html><body><h1>Test Spieler</h1>
        |<table class="player-career"><tr><th>Saison</th><th>Team</th><th>Liga</th><th>Sp</th><th>T</th><th>V</th></tr>
        |<tr><td>2023/24</td><td>BVB</td><td>Bundesliga</td><td>31</td><td>12</td><td>8</td></tr>
        |<tr><td>2022/23</td><td>VfB</td><td>Bundesliga</td><td>28</td><td>-</td><td>5</td></tr>
        |<tr><td>2021/22</td><td>VfB II</td><td>3. Liga</td></tr>
        |<tr><td>short</td><td>row</td></tr>
        |</table></body></html>""".stripMargin
    val rows = BundesligaCrawl.playersFromPages(
        Seq(("p1", page)).toDF("player_url", "html"))
      .select(explode($"senior_career").as("c")).select("c.*")
      .orderBy(desc("season")).collect()
    assert(rows.length == 3) // short decoy row dropped, 3-cell row kept
    assert(rows(0).getAs[String]("season") == "2023/24")
    assert(rows(0).getAs[String]("team") == "BVB")
    assert(rows(0).getAs[Int]("appearances") == 31)
    assert(rows(0).getAs[Int]("goals") == 12)
    assert(rows(0).getAs[Int]("assists") == 8)
    assert(rows(1).isNullAt(rows(1).fieldIndex("goals"))) // '-' fails isdigit
    assert(rows(1).getAs[Int]("assists") == 5)
    val bare = rows(2) // 3 cells only: stat fields all null
    assert(bare.getAs[String]("league") == "3. Liga")
    assert(bare.isNullAt(bare.fieldIndex("appearances")))
    // page without a career table -> empty array, not null blowup
    val none = BundesligaCrawl.playersFromPages(
        Seq(("p2", "<html><body><h1>No Career</h1></body></html>"))
          .toDF("player_url", "html"))
      .select(size($"senior_career")).collect().head.getInt(0)
    assert(none == 0)
  }

  test("BundesligaCrawl matchday: ld+json event, fallbacks, referee crew scan (S15)") {
    import graft.sources.BundesligaCrawl
    val ldPage =
      """<html><head><title>ignored</title>
        |<script type="application/ld+json">{"@type":"WebPage","name":"nav"}</script>
        |<script type="application/ld+json">{"@type":"SportsEvent",
        |"homeTeam":{"name":"FC Bayern"},"awayTeam":{"name":"BVB"},
        |"homeScore":"3","awayScore":"1","startDate":"2024-03-30T17:30:00Z",
        |"location":{"name":"Allianz Arena"},
        |"officiatingCrew":[{"name":"Some Coach","roleName":"coach"},
        |                   {"name":"Felix Zwayer","roleName":"Referee"}]}</script>
        |</head><body></body></html>""".stripMargin
    val fallbackPage =
      """<html><head><title>Union Berlin vs Heidenheim | Bundesliga</title></head>
        |<body><p>Final score 2 - 2 at full time.</p>
        |<dl><dt>Stadion</dt><dd>An der Alten Försterei</dd></dl>
        |<div>Schiedsrichter: Deniz Aytekin</div></body></html>""".stripMargin
    val pages = Seq(("m1", ldPage), ("m2", fallbackPage)).toDF("snapshot_path", "html")
    val out = BundesligaCrawl.matchdayFromPages(pages).orderBy("snapshot_path").collect()
    assert(out.length == 2)
    val ld = out(0)
    assert(ld.getAs[String]("home_team") == "FC Bayern")
    assert(ld.getAs[String]("away_team") == "BVB")
    assert(ld.getAs[Int]("home_score") == 3 && ld.getAs[Int]("away_score") == 1)
    assert(ld.getAs[String]("kickoff_utc") == "2024-03-30T17:30:00Z")
    assert(ld.getAs[String]("stadium") == "Allianz Arena")
    assert(ld.getAs[String]("referee") == "Felix Zwayer") // crew scan skips the coach
    val fb = out(1)
    assert(fb.getAs[String]("home_team") == "Union Berlin")
    assert(fb.getAs[String]("away_team") == "Heidenheim")
    assert(fb.getAs[Int]("home_score") == 2 && fb.getAs[Int]("away_score") == 2)
    assert(fb.getAs[String]("stadium") == "An der Alten Försterei")
    assert(fb.getAs[String]("referee") == "Deniz Aytekin")

    val overview =
      """<a href="/de/bundesliga/matchday/2023-24/27/bayern-vs-bvb?tab=stats">x</a>
        |<a href="/en/bundesliga/matchday/2023-24/27/union-vs-fch">y</a>
        |<a href="/de/bundesliga/matchday/2023-24/28/other-md">next md</a>
        |<a href="/de/bundesliga/table">nope</a>""".stripMargin
    val links = BundesligaCrawl.matchLinksFromOverview(
      Seq(("o1", overview)).toDF("snapshot_path", "html"), "2023-24", 27).collect()
    assert(links.map(_.getAs[String]("match_url")).toSeq ==
      Seq("/de/bundesliga/matchday/2023-24/27/bayern-vs-bvb",
        "/en/bundesliga/matchday/2023-24/27/union-vs-fch"))
  }

  test("fbrefFixturesFromPages: scores & fixtures table to match rows (S4/S6)") {
    import graft.sources.SiteParsers
    val html =
      """<html><body>
        |<table id="sched_2023-2024_20_1"><caption>nope, id must match</caption></table>
        |<table id="stats_fixtures_all"><thead><tr><th>Date</th></tr></thead><tbody>
        |<tr><td>2023-08-18</td>
        |    <td><a href="/en/squads/054efa67/Bayern">Bayern Munich</a></td>
        |    <td>4-0</td>
        |    <td><a href="/en/squads/0cdc4311/Bremen">Werder Bremen</a></td>
        |    <td><a href="/en/matches/a3c1b2d4/Bayern-Bremen-2023">Match Report</a></td></tr>
        |<tr><td>2023-08-19</td>
        |    <td><a href="/en/squads/add600ae/BVB">Dortmund</a></td>
        |    <td></td>
        |    <td><a href="/en/squads/60b5e41f/Koeln">Koeln</a></td>
        |    <td>no report link yet</td></tr>
        |</tbody></table></body></html>""".stripMargin
    val pages = Seq(html).toDF("html").withColumn("snapshot_path", lit("p1"))
    val out = SiteParsers.fbrefFixturesFromPages(pages).collect()
    assert(out.length == 1) // the linkless row is dropped, like the reference
    val m = out.head
    assert(m.getAs[String]("match_id") == "a3c1b2d4")
    assert(m.getAs[java.sql.Date]("match_date").toString == "2023-08-18")
    assert(m.getAs[String]("home_team") == "Bayern Munich")
    assert(m.getAs[String]("away_team") == "Werder Bremen")
    val sc = m.getStruct(m.fieldIndex("score"))
    assert(sc.getAs[Int]("home_score") == 4 && sc.getAs[Int]("away_score") == 0)
  }

  test("bookmakerOddsFromPages: bet365 two-element teams, bwin joined teams (S12)") {
    import graft.sources.SiteParsers
    val bet365Html =
      """<div class="gl-Market_General">
        |  <span class="gl-ParticipantFixtureDetails_TeamNames">Bayern</span>
        |  <span class="gl-ParticipantFixtureDetails_TeamNames">Dortmund</span>
        |  <span class="gl-ParticipantOddsOnly_Odds">1.80</span>
        |  <span class="gl-ParticipantOddsOnly_Odds">3.90</span>
        |  <span class="gl-ParticipantOddsOnly_Odds">4.20</span>
        |</div>
        |<div class="gl-Market_General">
        |  <span class="gl-ParticipantFixtureDetails_TeamNames">Leipzig</span>
        |  <span class="gl-ParticipantFixtureDetails_TeamNames">Mainz</span>
        |  <span class="gl-ParticipantOddsOnly_Odds">not-a-price</span>
        |  <span class="gl-ParticipantOddsOnly_Odds">3.50</span>
        |  <span class="gl-ParticipantOddsOnly_Odds">5.00</span>
        |</div>""".stripMargin
    val p1 = Seq(bet365Html).toDF("html").withColumn("snapshot_path", lit("p1"))
    val b365 = SiteParsers.bookmakerOddsFromPages(p1, SiteParsers.Bet365)
      .orderBy("home_team").collect()
    assert(b365.length == 2)
    assert(b365(0).getAs[String]("home_team") == "Bayern")
    assert(b365(0).getAs[String]("away_team") == "Dortmund")
    assert(b365(0).getAs[Double]("odds_home") == 1.8)
    assert(b365(0).getAs[Double]("odds_draw") == 3.9)
    assert(b365(1).isNullAt(b365(1).fieldIndex("odds_home"))) // isdigit guard
    assert(b365(1).getAs[Double]("odds_draw") == 3.5)

    val bwinHtml =
      """<div class="grid-event-wrapper">
        |  <div class="participants">Union Berlin - St. Pauli</div>
        |  <div class="option-value">2.10</div>
        |  <div class="option-value">3.30</div>
        |  <div class="option-value">3.60</div>
        |</div>""".stripMargin
    val p2 = Seq(bwinHtml).toDF("html").withColumn("snapshot_path", lit("p2"))
    val bwin = SiteParsers.bookmakerOddsFromPages(p2, SiteParsers.Bwin).head()
    assert(bwin.getAs[String]("bookmaker") == "bwin")
    assert(bwin.getAs[String]("home_team") == "Union Berlin")
    assert(bwin.getAs[String]("away_team") == "St. Pauli")
    assert(bwin.getAs[Double]("odds_away") == 3.6)
  }

  test("scrapedDataFrame: K7 bronze capture shape with JSON payload") {
    val df = Seq(("A", 1), ("B", 2)).toDF("team", "rank")
    val out = Bronze.scrapedDataFrame(df, "test_scraper")
    assert(out.columns.toSeq == Seq("scraper_name", "data", "created_at"))
    val rows = out.collect()
    assert(rows.forall(_.getString(0) == "test_scraper"))
    assert(rows.map(_.getString(1)).contains("""{"team":"A","rank":1}"""))
  }

  test("RestCollectors: degenerate responses — missing array, empty array, malformed doc (S18/S19)") {
    // The branch matrix itself is oracle-checked end-to-end
    // (q_rest_teams/players/matches); this covers the shapes the oracle
    // corpus can't carry: a response with no array key, an empty array,
    // and a non-JSON body — all must yield zero rows, never a crash.
    val docs = Seq("""{"count": 0}""", """{"teams": []}""", "not json at all")
      .toDF("body")
    assert(RestCollectors.collectTeams(docs).count() == 0)
    val squads = Seq("""{"squad": []}""", """{"other": 1}""").toDF("body")
    assert(RestCollectors.collectPlayers(squads).count() == 0)
    val matches = Seq("""{"matches": []}""", """{}""").toDF("body")
    assert(RestCollectors.collectMatches(matches).count() == 0)
    // status ladder default on a minimal real row: unknown status maps
    // to "scheduled", absent venue/round stay null
    val one = Seq(
      """{"matches":[{"id":7,"homeTeam":{"id":1},"awayTeam":{"id":2},
        |"utcDate":"2024-03-01T18:30:00Z","status":"WEIRD"}]}""".stripMargin.replace("\n", ""))
      .toDF("body")
    val r = RestCollectors.collectMatches(one).head()
    assert(r.getAs[String]("status") == "scheduled")
    assert(r.getAs[String]("utc_datetime") == "2024-03-01 18:30:00")
    assert(r.getAs[String]("venue") == null)
    assert(r.getAs[String]("round_label") == null)
  }

  test("Courtside.isIncompleteFixture: score-string, xor, id-only-team gate cases (S16)") {
    // The end-to-end merge is oracle-checked (q_game_enrich); this pins
    // the gate corners: an UNPARSEABLE score string still counts as
    // score evidence (the reference's isinstance(str) check), exactly
    // one individual score is the xor-incomplete case, and a side
    // witnessed only by its id passes the team check.
    import graft.sources.Courtside
    val cases = Seq(
      // (raw, expectIncomplete)
      ("""{"home":{"name":"A"},"away":{"name":"B"},"score":"vs"}""", false),
      ("""{"home":{"name":"A"},"away":{"name":"B"},"homeScore":1}""", true),
      ("""{"home":{"name":"A"},"away":{"name":"B"},"homeScore":1,"awayScore":0}""", false),
      ("""{"home":{"id":"h1"},"away":{"id":"a1"},"score":"2-1"}""", false),
      ("""{"home":{"name":"A"},"score":"2-1"}""", true),
      ("""{"home":{"name":"A"},"away":{"name":"B"}}""", true))
    val df = cases.toDF("raw", "want")
    val node = graft.functions.JsonNorm.parseGameNode(col("raw"))
    val got = df.select(col("want"),
      Courtside.isIncompleteFixture(node,
        graft.functions.JsonNorm.normalizeGameNode(node)).as("got"))
      .collect()
    got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r.toString))
  }

  /** The scaffold dirs `df` scans: every input file outside `corpusDir`
    * must sit in a dir directly under the one [[graft.scale.Silver.root]]. */
  private def scaffoldDirs(df: org.apache.spark.sql.DataFrame, corpusDir: String): Set[String] = {
    val root = graft.scale.Silver.root.toFile.getCanonicalPath + "/"
    val corpusCanon = new java.io.File(corpusDir).getCanonicalPath + "/"
    val files = df.inputFiles.toSeq
      .map(f => new java.io.File(new java.net.URI(f)).getCanonicalPath)
      .filterNot(_.startsWith(corpusCanon))
    assert(files.nonEmpty, "frame scans no scaffold files")
    assert(files.forall(_.startsWith(root)),
      s"scaffold files outside the root $root: ${files.mkString(", ")}")
    files.map(f => root + f.stripPrefix(root).takeWhile(_ != '/')).toSet
  }

  test("clubs-JSON scaffold cache: hit on same content, supersede keeps the " +
      "old dir readable for lazy pre-rewrite readers") {
    // The clubs-JSON files are a Silver.scaffold of the nation table.
    // Spark reads are lazy, so a DataFrame handed out before a corpus
    // rewrite may still reference the superseded scaffold — it must stay
    // READABLE until JVM exit (the root's exit hook deletes it), not be
    // deleted the moment a new content signature replaces it.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.scale.Silver
    val corpus = Files.createTempDirectory("graft_cachetest")
    val srcNation = Paths.get(TestSpark.Sf0001, "nation.parquet")
    def copyNation(): Unit = {
      val dst = corpus.resolve("nation.parquet")
      if (Files.exists(dst)) {
        Files.walk(dst).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.delete(p); () })
      }
      Files.walk(srcNation).forEach { p =>
        val rel = srcNation.relativize(p)
        val t = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def clubsDir(): String = {
      val ds = scaffoldDirs(graft.sources.RoundTrip
        .clubsJsonFromNations(spark, corpus.toString), corpus.toString)
      assert(ds.size == 1, ds.toString)
      ds.head
    }
    // the helper itself: one write per input content
    var writes = 0
    def probe(): String = Silver.scaffold(
      corpus.resolve("nation.parquet").toString, "probe") { _ => writes += 1 }
    copyNation()
    // a LAZY frame captured before the rewrite — nothing has read it yet
    val preRewrite = graft.sources.RoundTrip
      .clubsJsonFromNations(spark, corpus.toString)
    val d1 = clubsDir()
    val p1 = probe()
    assert(clubsDir() == d1, "same content signature should cache-hit")
    assert(probe() == p1 && writes == 1, "same content should not rewrite")
    // rewrite the corpus: same bytes, bumped mtimes → new signature
    copyNation()
    Files.walk(corpus.resolve("nation.parquet")).forEach { p =>
      p.toFile.setLastModified(p.toFile.lastModified() + 10000); ()
    }
    val d2 = clubsDir()
    assert(d2 != d1, "rewritten corpus must miss the cache")
    assert(probe() != p1 && writes == 2, "rewritten input must rebuild")
    assert(new java.io.File(d1).exists() && new java.io.File(p1).exists(),
      s"superseded scaffold dir deleted while lazy readers may hold it: $d1")
    // the pre-rewrite frame still evaluates against its old scaffold
    assert(preRewrite.count() > 0,
      "pre-rewrite lazy frame failed after its scaffold was superseded")
  }

  test("corpus scaffolds are shared by every session and kept under one temp root") {
    // The files depend on the corpus content only, so a second session
    // reads what the first one wrote — the blocking-audit tables were
    // once rebuilt per session (and their dir never deleted).
    val dir = TestSpark.Sf0001
    val clubs = scaffoldDirs(graft.sources.RoundTrip.clubsJsonFromNations(spark, dir), dir)
    assert(scaffoldDirs(graft.sources.RoundTrip
      .clubsJsonFromNations(spark.newSession(), dir), dir) == clubs,
      "clubs JSON rewritten for a second session")
    val audit = scaffoldDirs(graft.scale.Dedup.blockingEvalQuery(spark, dir), dir)
    assert(scaffoldDirs(graft.scale.Dedup.blockingEvalQuery(spark.newSession(), dir),
      dir) == audit, s"audit tables rebuilt for a second session: $audit")
  }
}
