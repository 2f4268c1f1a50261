package graft

/** Scale-smell regression gate: every registered query's physical plan is
  * checked for the failure modes that silently kill a 100 TB run —
  * cartesian products and top-k queries that degenerate into full global
  * sorts. Runs on plans only (sf0.001), so it's cheap enough to keep in
  * the default suite.
  */
class PlanGateSpec extends SparkSpec {

  // Queries whose builder RUNS distributed jobs eagerly (driver-loop
  // training) before returning a driver-local frame: collecting their
  // "plan" would execute full training for a LocalTableScan string the
  // gates can't meaningfully check — excluded to keep this suite
  // plans-only cheap. Their scale shapes are spec-gated in BpeSpec /
  // LmScoreSpec instead. q_stream_upsert likewise runs its whole
  // streaming replay eagerly and returns a checkpointed-state scan;
  // its per-batch plan shape is StreamingSpec's territory. q_stationary
  // (r14) collects its |event types|²-bounded (require-guarded against
  // spark.graft.collect.maxCells, EventOps.stationaryDistribution)
  // transition matrix eagerly and
  // runs the 12-round power iteration driver-side, so its static plan is
  // a bare LocalTableScan with no codegen span by construction; its
  // distributed reduction (the windowed counts pass) stays gate-visible
  // through q_markov_acc, which shares the same frame shape.
  private val eagerDriverQueries =
    Set("q_bpe_merges", "q_bpe_encode", "q_lm_counts", "q_stream_upsert",
      "q_stationary")

  private lazy val executions
      : Map[String, org.apache.spark.sql.execution.QueryExecution] =
    (SparkEntry.queries -- eagerDriverQueries).map { case (name, fn) =>
      name -> fn(spark, TestSpark.Sf0001).queryExecution
    }

  private lazy val plans: Map[String, String] =
    executions.map { case (name, qe) => name -> qe.executedPlan.toString }

  /** Statically planned trees with the deterministic output `orderBy`
    * stripped — the SAME view `tools.ExplainAudit` inspects (shared
    * helpers, so the audit tool and these gates cannot diverge): AQE's
    * printed initial plan carries no codegen wrapping, and every oracle
    * query ends in a global sort BY DESIGN (the hash-compare needs a
    * total order). */
  private lazy val staticPlanTrees
      : Map[String, org.apache.spark.sql.execution.SparkPlan] = {
    val iso = graft.tools.ExplainAudit.staticSession(spark)
    (SparkEntry.queries -- eagerDriverQueries).map { case (name, fn) =>
      name -> graft.tools.ExplainAudit
        .stripOutputSort(iso, fn(iso, TestSpark.Sf0001))
        .queryExecution.executedPlan
    }
  }

  private lazy val staticPlans: Map[String, String] =
    staticPlanTrees.map { case (name, plan) => name -> plan.toString }

  test("every query keeps a whole-stage-codegen span (static plans)") {
    // A query with NO codegen span runs fully interpreted — an easy
    // 2-5× constant-factor regression to introduce silently (e.g. by
    // wrapping the hot path in a non-codegen expression or RDD hop).
    // toString renders codegen spans as "*(n)" operator prefixes.
    val offenders = staticPlans.collect {
      case (name, plan) if !plan.contains("*(") => name
    }
    assert(offenders.isEmpty, s"no codegen span in: $offenders")
  }

  test("no INTERIOR global sort outside the total-order-by-design allowlist") {
    // After stripping the output orderBy, ANY remaining range-partitioned
    // exchange is a mid-plan global sort (no other operator plans one —
    // in particular TakeOrderedAndProject does not, so a query with a
    // legitimate top-k elsewhere can't mask an accidental total order).
    // Exactly three queries rank the FULL set by semantics (deciles /
    // percent_rank / vocabulary rank via the distributed two-pass rank).
    val totalOrderBySemantics = Set("q_ntile", "q_pct_rank", "q_vocab")
    val offenders = (staticPlans -- totalOrderBySemantics).collect {
      case (name, plan) if plan.contains("Exchange rangepartitioning") => name
    }
    assert(offenders.isEmpty, s"unexpected interior global sort in: $offenders")
  }

  test("every registered query has a DuckDB oracle (and no orphans)") {
    // The driver records a weaker rows-only check for any queries entry
    // without oracle SQL — this gate makes that drift impossible to miss,
    // and catches oracle entries whose query was renamed/removed.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"query/oracle drift: missing oracles ${q -- o}, " +
      s"orphan oracles ${o -- q}")
  }

  test("no query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (name, plan) if plan.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("global top-k queries plan TakeOrderedAndProject, not a full sort") {
    val topk = Seq("q_top_spenders", "q_h2h_pairs", "q_knn_cosine",
      "q_argmax_segment", "q_bm25", "q_top_ngrams")
    val offenders = topk.filterNot(n => plans(n).contains("TakeOrderedAndProject"))
    assert(offenders.isEmpty, s"top-k degenerated to full sort in: $offenders")
  }

  test("broadcast-able dimension joins are actually broadcast") {
    // queries joining nation/region must broadcast them, never shuffle
    val dimJoins = Seq("q_top_spenders", "q_standings", "q_region_summary")
    val offenders = dimJoins.filterNot(n => plans(n).contains("BroadcastHashJoin"))
    assert(offenders.isEmpty, s"dimension join not broadcast in: $offenders")
  }

  test("q_region_summary: no Expand — distinct counts never multiply the fact stream") {
    // Two countDistincts in one groupBy make Catalyst Expand every fact
    // row ×3 before the shuffle; the rewritten plan computes them from a
    // slim distinct-custkey set instead.
    assert(!plans("q_region_summary").contains("Expand"),
      s"q_region_summary regressed to an Expand plan:\n${plans("q_region_summary")}")
  }

  test("q_pct_rank: no single-partition exchange, no unpartitioned window") {
    val plan = plans("q_pct_rank")
    assert(!plan.contains("Exchange SinglePartition"),
      s"global rank funnels through one reducer:\n$plan")
    assert(!plan.contains("Window"),
      s"expected two-pass distributed rank, found a window:\n$plan")
  }

  test("dedup/latest-per-key queries aggregate map-side, no ranked window") {
    // min_by/max_by aggregates partially combine before the shuffle; a
    // Window node here means the whole input is shuffled to be discarded
    for (q <- Seq("q_dedup_firstwins", "q_latest_event", "q_fuzzy_match",
        "q_span_dedup")) {
      assert(!plans(q).contains("Window"),
        s"$q regressed to a ranked window:\n${plans(q)}")
      assert(plans(q).contains("partial_"),
        s"$q lost its partial aggregation phase:\n${plans(q)}")
    }
  }

  test("q_contamination: benchmark side broadcast, never shuffled at scale") {
    assert(plans("q_contamination").contains("BroadcastHashJoin"),
      plans("q_contamination"))
  }

  test("q_topk_native: custom operator layering survives planning") {
    val plan = plans("q_topk_native")
    assert(plan.contains("GraftTopKPerKeyPartial") &&
      plan.contains("GraftTopKPerKeyFinal"), plan)
  }

  test("q_bm25: global stats broadcast back, corpus never join-shuffled") {
    val plan = plans("q_bm25")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"one-row stats frame should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"BM25 scoring must not shuffle the corpus into a join:\n$plan")
  }

  test("q_range_join: binned equi-join, never a nested-loop range join") {
    val plan = plans("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join degenerated to a quadratic strategy:\n$plan")
  }

  test("q_vocab: id assignment has no single-partition exchange, no window") {
    val plan = plans("q_vocab")
    assert(!plan.contains("Exchange SinglePartition"),
      s"vocab rank funnels through one reducer:\n$plan")
    assert(!plan.contains("Window"),
      s"expected the two-pass distributed rank, found a window:\n$plan")
  }

  test("late-batch top-k argmax queries stay TakeOrderedAndProject") {
    // youden's threshold argmax, seq3's pattern top-k and dim_corr's
    // |corr| ranking must never degenerate into full global sorts
    for (q <- Seq("q_youden", "q_seq3", "q_dim_corr"))
      assert(plans(q).contains("TakeOrderedAndProject"),
        s"$q top-k degenerated to a full sort:\n${plans(q)}")
  }

  /** All window nodes in `plan` (subqueries included) whose partition
    * spec is empty — the fact itself, read off the plan tree, not its
    * rendering (the r12 gate regexed `toString`, which is coupled to
    * Spark's unstable text format; r12 verdict "what's wrong" #2). */
  private def unpartitionedWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w.nodeName
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty => w.nodeName
    }

  test("unpartitioned-window detector catches a synthetic offender") {
    // the detector is itself gated: a hand-built global-ordered window
    // (no partitionBy) must be seen, and the same frame partitioned must
    // not — so a Spark upgrade that reshapes WindowExec breaks THIS test
    // rather than silently blinding the board gate below.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // same AQE-off session as the board gate: under AQE the executed
    // plan is an AdaptiveSparkPlanExec LEAF whose inner tree collect()
    // cannot see — the detector (like all static-plan gates) is defined
    // over statically planned trees only
    val iso = graft.tools.ExplainAudit.staticSession(spark)
    val df = iso.range(10).toDF("v")
    val global = df.select(col("v"),
      row_number().over(Window.orderBy("v")).as("r"))
    assert(unpartitionedWindows(global.queryExecution.executedPlan).nonEmpty,
      "synthetic unpartitioned window not detected")
    val partitioned = df.select(col("v"),
      row_number().over(Window.partitionBy(col("v") % 2).orderBy("v")).as("r"))
    assert(unpartitionedWindows(partitioned.queryExecution.executedPlan).isEmpty,
      "partitioned window wrongly flagged")
  }

  test("unpartitioned windows only over provably bounded frames") {
    // A WindowExec with no partition spec moves ALL input rows to one
    // reducer — correct only when the input is bounded by construction
    // (a sufficient-statistics frame whose row count is domain-sized,
    // not corpus-sized). Every such window must be whitelisted here WITH
    // its bound; a new global-ordered window over corpus-sized data
    // fails this gate. Detection walks the physical plan tree
    // (partitionSpec.isEmpty on the window nodes) — the fact itself,
    // not the plan's rendered string.
    val boundedByConstruction = Map(
      // stated bound = the largest input the window can ever see
      // (verified in source at the cited sites; corpus-size-invariant)
      "q_bh_fdr" -> "per-brand p-value frame, |brands| = 25 (Distribution.brandPValues)",
      "q_holm" -> "same 25-row per-brand p-value frame as q_bh_fdr",
      "q_drawdown" -> "calendar-bounded daily frame (cummax over |days|, TimeSeries.drawdownQuery)",
      "q_peaks" -> "calendar-bounded daily frame (lag/lead over |days|, TimeSeries.peaksQuery)",
      "q_hodges_lehmann" -> "bounded +/-49 difference domain, <=99 rows (Distribution.hodgesLehmann)",
      "q_rrf" -> "two top-50 retrieval frames, <=50 rows each (Search.rrfQuery)",
      "q_zipf" -> "top-30 token frame (TextAnalysis.zipfQuery)",
      "q_pr_curve" -> "rank-filtered k<=50 frame below the running-tp window (Eval.prCurveQuery)")
    val offenders = staticPlanTrees.flatMap { case (name, plan) =>
      if (unpartitionedWindows(plan).nonEmpty &&
        !boundedByConstruction.contains(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over unproven input in: ${offenders.toList.sorted}")
    // the whitelist must not rot: every entry still plans the window it
    // vouches for (a removed window means a stale bound claim)
    val stale = boundedByConstruction.keys.filter { n =>
      staticPlanTrees.get(n).exists(p => unpartitionedWindows(p).isEmpty)
    }
    assert(stale.isEmpty, s"whitelist entries without an unpartitioned window: $stale")
  }

  test("the bounded-frame WARN quarantine intercepts (test-log noise gate)") {
    // TestLogQuarantine suppresses the 8 whitelisted queries' benign
    // "No Partition Defined" WARNs in test logs so a human scanning for
    // REAL offenders isn't buried in false positives. OFFENDER DETECTION
    // does not ride on the log line — the structural gate above walks
    // all 434 plan trees — but the filter must be provably live, or a
    // Spark logger rename would silently bring the noise back. Execute
    // one whitelisted bounded-frame query and assert the quarantine
    // counted a suppression.
    require(TestLogQuarantine.installed)
    val before = TestLogQuarantine.suppressed.get()
    // collect(), not count(): under count() the optimizer prunes the
    // window (its outputs are unused) and no WARN is ever emitted —
    // measured. The warn fires in requiredChildDistribution at
    // planning, so the full projection must survive optimization.
    SparkEntry.queries("q_bh_fdr")(spark, TestSpark.Sf0001).collect()
    assert(TestLogQuarantine.suppressed.get() > before,
      "whitelisted bounded-frame query executed but the WARN quarantine " +
        "intercepted nothing — logger name or message moved on this Spark")
  }

  test("q_career_stats executes end-to-end with codegen fallback disabled") {
    // The S14 HTML-parse pipeline was the r11 sweep's one Janino
    // "code grows beyond 64 KB" whole-stage fallback: results were
    // right but the stage silently ran interpreted — a real throughput
    // tax at scale. After the CodegenBarrier split (BundesligaCrawl
    // .playersFromPages), every unit compiles; this gate executes the
    // query with fallback DISABLED so any future >64 KB codegen unit
    // throws here instead of degrading silently in production.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.codegen.fallback", "false")
    val n = SparkEntry.queries("q_career_stats")(iso, TestSpark.Sf0001).count()
    assert(n > 0, "q_career_stats returned no rows under codegen-strict mode")
  }

  test("no broadcast hint on a side the analyzer bounds") {
    // A side with a defined maxRows (a global aggregate, a limit, a
    // literal frame) is sized by its row bound, so JoinSelection
    // broadcasts it without a hint; a hint there is a second, hand-kept
    // copy of the planner's decision. Hints stay only on sides whose
    // size the analyzer cannot bound.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val offenders = executions.toSeq.flatMap { case (name, qe) =>
      qe.analyzed.collectWithSubqueries {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
            h.child.maxRows.isDefined => s"$name (maxRows ${h.child.maxRows.get})"
      }
    }.distinct.sorted
    assert(offenders.isEmpty,
      s"broadcast hint over an analyzer-bounded side in: $offenders")
  }

  test("late-batch one-row stat frames broadcast back, never shuffle-join") {
    // the perm-test/fleiss/neyman style: a one-row (or dimension-sized)
    // totals frame must come back as a broadcast, not re-shuffle facts
    for (q <- Seq("q_neyman", "q_vocab_coverage", "q_pr_curve"))
      assert(plans(q).contains("Broadcast"),
        s"$q lost its broadcast totals join:\n${plans(q)}")
  }
}
