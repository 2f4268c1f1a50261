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
  *
  * Files DERIVED from a corpus table (replay slices, audit tables,
  * round-trip JSON) go through [[scaffold]] instead: written once per
  * input content per JVM, under one temp root that one exit hook
  * deletes.
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

  /** Delete the silver table behind a [[scratch]] frame once its caller
    * is done with it: under `spark.graft.silver.dir` every call leaves a
    * `prefix_<uuid8>` table that nothing else removes. A no-op on the
    * local path (a checkpoint leaf has no table), and for a frame that
    * does not read a table directly under the silver dir. */
  def release(df: DataFrame): Unit =
    df.sparkSession.conf.getOption("spark.graft.silver.dir").foreach { dir =>
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val silver = new org.apache.hadoop.fs.Path(dir)
      val fs = silver.getFileSystem(conf)
      val parent = fs.makeQualified(silver)
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.collect {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths
      }.flatten.filter(p => fs.makeQualified(p).getParent == parent)
        .foreach(fs.delete(_, true))
    }

  /** Row count of `df`: free for a [[materialize]]d checkpoint leaf,
    * whose job counted it; a count job otherwise. */
  def rows(df: DataFrame): Long =
    org.apache.spark.sql.graft.Shims.leafRowCount(df).getOrElse(df.count())

  /** The JVM's one temp root for scaffolds and call-scoped scratch dirs,
    * created on first use; one shutdown hook deletes it whole. */
  private[graft] lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_scaffold_")
    sys.addShutdownHook(deleteTree(r.toString))
    r
  }

  /** A fresh directory under [[root]] for one call's scratch files;
    * the caller may [[deleteTree]] it early, the exit hook otherwise. */
  private[graft] def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** Recursive delete (a no-op on a missing path). */
  private[graft] def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** One build per key: the lazy val is the lock, so a key is written
    * once while distinct keys (and a build that asks for another
    * scaffold) proceed; a build that throws is retried on the next call. */
  private final class Built(build: => String) { lazy val dir: String = build }

  private val scaffolds =
    scala.collection.concurrent.TrieMap.empty[(String, Long, String), Built]

  private def key(input: String, what: String): (String, Long, String) = {
    val in = new java.io.File(input).getCanonicalPath
    (in, graft.sources.Tables.contentSignature(in), what)
  }

  /** Directory of the `what` files derived from the local corpus table
    * at `input`: `write(dir)` fills a fresh dir under [[root]] the first
    * time this JVM sees `input` with its current content, and every
    * later call — any session — gets that dir back. The key holds the
    * table's content signature, so an in-place rewrite misses; the
    * superseded dir stays on disk until exit, because a lazily-read
    * frame handed out before the rewrite may still scan it. */
  def scaffold(input: String, what: String)(write: String => Unit): String =
    scaffolds.getOrElseUpdate(key(input, what),
      new Built({ val d = tempDir(what); write(d); d })).dir

  /** The [[scaffold]] dir for `input`'s current content, if built. */
  private[graft] def scaffolded(input: String, what: String): Option[String] =
    scaffolds.get(key(input, what)).map(_.dir)
}
