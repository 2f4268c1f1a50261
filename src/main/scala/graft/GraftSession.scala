package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows how a graft session must be configured —
  * library users call [[builder]] instead of memorizing the conf set:
  *
  *  - `spark.sql.extensions=graft.plans.GraftExtensions`: the custom
  *    expressions (`graft_fold_accents`, `graft_fuzzy_ratio`,
  *    `graft_simhash60`), the FuzzyRatioFolding optimizer rule, and the
  *    TopKPerKey planner strategy
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the events corpus
  *    carries parquet TIMESTAMP(NANOS), which Spark 4 otherwise rejects
  *    (`Tables.events` checks this and fails fast with a pointer here)
  *  - UTC session timezone: date/timestamp determinism across engines
  *  - shuffle partitions default to the local core count rather than
  *    200 — on a real cluster, size to ~2-3× total executor cores
  *  - `spark.sql.codegen.cache.maxEntries=2000`: a daily cycle (parse,
  *    validate, resolve, merge, analytics, two stream triggers) cycles
  *    through about 260 generated classes, and Spark's default LRU cache
  *    of 100 recompiled nearly all of them every pass; 2000 is about 7×
  *    that working set. A STATIC conf: `CodeGenerator` sizes its cache
  *    once, when the JVM first generates code, so the JVM's first
  *    session decides it
  *
  * `Verify`, `Bench`, and the test harness all build through this.
  */
object GraftSession {

  def builder(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** Local session sized to `cpus` threads (the shape Verify/Bench use). */
  def local(cpus: Int, ui: Boolean = false): SparkSession = {
    val s = builder(cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
