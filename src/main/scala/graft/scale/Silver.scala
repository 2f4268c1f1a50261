package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** Materialization point for intermediates that feed multiple plan
  * branches (shingle rows, LSH signatures, ANN index assignments).
  *
  * Self-joins and banding re-execute the producing subtree once per plan
  * branch (~10× for the signature joins), so these frames must be
  * materialized once. Two strategies:
  *
  *  - default: eager `localCheckpoint` — fast, zero I/O setup, right for
  *    a single-JVM/local run. NOT fault-tolerant: executor-local blocks
  *    die with the executor, so on a real cluster a lost node kills the
  *    job instead of recomputing. The leaf carries the row count the
  *    checkpoint job observed ([[org.apache.spark.sql.graft.Shims.withRowCount]]),
  *    so the planner broadcasts a small materialized frame on its own
  *    under `spark.sql.autoBroadcastJoinThreshold`.
  *  - `spark.graft.silver.dir` set: write-then-read a parquet silver
  *    table under that directory — the production path. Survives executor
  *    loss, is inspectable/reusable across jobs, and scans back columnar.
  *
  * The strategy is a session conf (not a parameter) so the choice is a
  * deployment decision, not plumbed through every operator signature.
  */
object Silver {

  /** Materialize `df` under `name`. With `spark.graft.silver.dir` set the
    * frame is persisted to `dir/name` (overwrite — content is
    * deterministic per query) and read back; otherwise eager
    * localCheckpoint with its observed row count. */
  def materialize(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.silver.dir") match {
      case Some(dir) =>
        val path = s"$dir/$name"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      case None =>
        // the checkpoint job counts its rows on the side (the FixedPoint
        // device, no extra job), read back from its own executed plan
        // rather than through an Observation, which waits on listeners
        val tag = s"silver_rows_${java.util.UUID.randomUUID().toString.take(8)}"
        val observed = df.observe(tag, count(lit(1)))
        val ck = observed.localCheckpoint(true)
        org.apache.spark.sql.graft.Shims.withRowCount(
          ck, observed.queryExecution.observedMetrics(tag).getLong(0))
    }
  }

  /** [[materialize]] under a per-call unique name (`prefix_<uuid8>`).
    * For CALL-SCOPED scratch intermediates: a fixed name means two
    * concurrent runs sharing one `spark.graft.silver.dir` overwrite each
    * other's parquet mid-read. Named silver tables that are deliberately
    * reusable across jobs (e.g. minhash signatures) keep fixed names. */
  def scratch(df: DataFrame, prefix: String): DataFrame =
    materialize(df, s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
}
