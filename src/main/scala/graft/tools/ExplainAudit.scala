package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
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
  *    — dump: write each named query's plan to
  *    `<outDir>/<name>_<suffix>.txt`, the before/after plan evidence the
  *    optimization rounds commit under `plans/`.
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
    val iso = staticSession(graft.GraftSession.local(cpus = cpus))
    iso.sparkContext.setLogLevel("ERROR")
    if (args.length >= 4) dump(iso, sfDir, args(1), args(2),
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

  private def dump(iso: SparkSession, sfDir: String, outDir: String,
                   suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val txt = stripOutputSort(iso, SparkEntry.queries(n)(iso, sfDir))
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"wrote $outDir/${n}_$suffix.txt")
    }
  }
}
