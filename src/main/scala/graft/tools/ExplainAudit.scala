package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.Shims

import graft.SparkEntry

/** Dev tool: dump formatted physical plans for every SparkEntry query and
  * flag scale smells — missing parquet filter pushdown, unexpected
  * cartesian products, full-scan sorts where a top-k was intended,
  * queries with no whole-stage-codegen span at all.
  *
  * Usage (cpus via SPARK_GRAFT_CPUS, default all cores):
  *  - `runMain graft.tools.ExplainAudit <sfDir> [namePrefix]` — audit:
  *    print every matching plan with its smells to stdout.
  *  - `runMain graft.tools.ExplainAudit <sfDir> <outDir> <suffix> <q_a,q_b,...>`
  *    — dump: write each named query's static plan to
  *    `<outDir>/<name>_<suffix>.txt`, and the plans it EXECUTED (AQE on,
  *    running the query's `graft.Bench` action, `count()`) to
  *    `<outDir>/<name>_<suffix>_executed.txt` — the before/after plan
  *    evidence the optimization rounds commit under `plans/`. The static
  *    plan shows neither the jobs a [[graft.scale.Silver.materialize]]
  *    runs while the query is built nor AQE's run-time changes; the
  *    executed file lists every action of every session (materializations,
  *    count jobs, stream micro-batches in a cloned session, the final
  *    count) with its final plan, headed by a one-line join summary that
  *    diffs cleanly. It also writes `<outDir>/summary_<suffix>.tsv`, one
  *    line per query: the static plan's joins, the executed actions'
  *    joins (each `kind:build side`), both plans' exchange counts and
  *    the number of actions — the whole-board plan diff in one file.
  *
  * The static-plan VIEW ([[staticSession]] + [[stripOutputSort]]) is
  * shared with `PlanGateSpec` — the audit tool and the regression gates
  * must inspect the same object or they silently diverge. Two
  * measurement details (both bit this tool before):
  *
  *  - AQE prints the INITIAL plan, which carries no WholeStageCodegen
  *    wrapping (codegen is applied per materialized query stage), so a
  *    codegen check fires on everything; the static session disables
  *    AQE. In `toString`, codegen spans print as `*(n)` prefixes — the
  *    literal "WholeStageCodegen" label appears only in
  *    explain("formatted").
  *  - Every oracle query ends in a deterministic output `orderBy` (the
  *    hash-compare needs a total order), which IS a global sort by
  *    design; it is stripped first, so any REMAINING range-partitioned
  *    exchange is an interior global sort — the shape that rewrites a
  *    top-k into a full cluster sort at 100 TB. (No other operator
  *    plans `Exchange rangepartitioning`; in particular
  *    TakeOrderedAndProject does not.)
  */
object ExplainAudit {

  /** Cloned session with AQE off: the statically planned tree is the
    * right object for pushdown / codegen-span / sort inspection. */
  def staticSession(spark: SparkSession): SparkSession = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso
  }

  /** Strip the outermost deterministic output sort, if any. */
  def stripOutputSort(iso: SparkSession, df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case s: Sort if s.global => Shims.ofRows(iso, s.child)
      case _ => df
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.local(cpus = cpus)
    val iso = staticSession(spark)
    iso.sparkContext.setLogLevel("ERROR")
    if (args.length >= 4) dump(spark, iso, sfDir, args(1), args(2),
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    else audit(iso, sfDir, if (args.length > 1) args(1) else "")
    iso.stop()
  }

  private def audit(iso: SparkSession, sfDir: String, prefix: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (name, fn) =>
        val audited = stripOutputSort(iso, fn(iso, sfDir))
        val plan = audited.queryExecution.executedPlan.toString
        val smells = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "InteriorGlobalSort" -> plan.contains("Exchange rangepartitioning"),
          "NoWholeStageCodegen" -> !plan.contains("*("))
          .collect { case (s, true) => s }
        println(s"\n========== $name ${if (smells.isEmpty) "" else "SMELLS: " + smells.mkString(",")}")
        audited.explain("formatted")
      }

  private def dump(spark: SparkSession, iso: SparkSession, sfDir: String,
                   outDir: String, suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    // one listener on the context hears every session's executions,
    // including micro-batches in a stream's cloned session
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          Shims.executed(end).foreach { case (f, qe) => executed.add(f -> qe.executedPlan) }
        case _ =>
      }
    })
    val board = Paths.get(outDir, s"summary_$suffix.tsv")
    Files.writeString(board,
      "query\tstatic_joins\texecuted_joins\tstatic_exchanges\texecuted_exchanges\tactions\n")
    names.foreach { n =>
      // executed pass first, so it runs what a query's first call in a
      // JVM runs (scaffold builds included)
      Shims.drainListeners(spark)
      executed.clear()
      SparkEntry.queries(n)(spark, sfDir).count()
      Shims.drainListeners(spark)
      val runs = Iterator.continually(executed.poll()).takeWhile(_ != null).toSeq
        .map { case (f, p) => (f, finalPlan(p)) }
      val summary = runs.map { case (f, p) => s"$f[${joins(p).mkString(",")}]" }
      Files.writeString(Paths.get(outDir, s"${n}_${suffix}_executed.txt"),
        (s"# joins: ${summary.mkString(" ")}" +: runs.zipWithIndex.map {
          case ((f, p), i) => s"== ${i + 1} $f ==\n$p"
        }).mkString("\n"))
      val static = stripOutputSort(iso, SparkEntry.queries(n)(iso, sfDir)).queryExecution
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"),
        static.explainString(org.apache.spark.sql.execution.FormattedMode))
      Files.writeString(board, Seq(n, joins(static.executedPlan).mkString(","),
        summary.mkString(" "), exchanges(static.executedPlan),
        runs.map(r => exchanges(r._2)).sum, runs.size).mkString("", "\t", "\n"),
        java.nio.file.StandardOpenOption.APPEND)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      println(s"wrote $outDir/${n}_$suffix.txt and ${n}_${suffix}_executed.txt")
    }
  }

  /** AQE's final plan (the one that ran) in place of its wrapper. */
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Join operators of a plan, inside query stages and subqueries too:
    * BHJ broadcast hash, SMJ sort-merge, SHJ shuffled hash, BNLJ
    * broadcast nested loop, CP cartesian product; a `:L`/`:R` suffix
    * names the build side. */
  private def joins(p: SparkPlan): Seq[String] = PlanWalk.collectWithSubqueries(p) {
    case j: BroadcastHashJoinExec => s"BHJ:${side(j.buildSide)}"
    case _: SortMergeJoinExec => "SMJ"
    case j: ShuffledHashJoinExec => s"SHJ:${side(j.buildSide)}"
    case j: BroadcastNestedLoopJoinExec => s"BNLJ:${side(j.buildSide)}"
    case _: CartesianProductExec => "CP"
  }

  private def side(b: BuildSide): String = if (b == BuildLeft) "L" else "R"

  /** Shuffle and broadcast exchanges of a plan (reuses not counted). */
  private def exchanges(p: SparkPlan): Int =
    PlanWalk.collectWithSubqueries(p) { case e: Exchange => e }.size

  private object PlanWalk extends AdaptiveSparkPlanHelper
}
