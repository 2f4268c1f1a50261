package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run in a fresh JVM: set up, warm to steady state, then
  * run whole passes of one workload for a fixed time with a single client
  * thread and write the raw measurements to `<work>/result.json`
  * (`run.py` turns them into metrics).
  *
  * Arguments (all required): `--workload --seed --seconds --trace --data
  * --work --launch-ms --warm-passes --min-passes --cpus`; `--trace-out` names the span
  * file of a traced run.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = a("cpus").toInt
    val minPasses = a("min-passes").toInt
    val spark = GraftSession.builder(cpus)
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder(spark)
    val wl: Workload = workload match {
      case "query_mix" => new Registry(spark, a("data"), work, seed, Workloads.QueryMix)
      case "daily_etl" => new DailyEtl(spark, a("data"), work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: first execution (reference results) + warm passes ----
    wl.prepare(rec)
    rec.endPass()
    val warm = (1 to a("warm-passes").toInt).map { k => wl.pass(k, rec); rec.endPass() }
    val setupS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3
    val setupFailed = rec.failed
    rec.reset()

    // ---- timed passes -----------------------------------------------------
    // A traced run measures half its time untraced and half traced, so the
    // tracing overhead is a ratio of two medians from one JVM.
    var k = warm.size
    def passesFor(s: Double): Seq[Double] = {
      val out = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < s) {
        k += 1; wl.pass(k, rec); out += rec.endPass()
      }
      out.toSeq
    }
    val untraced = passesFor(if (traced) seconds / 2 else seconds)
    val tracedPasses = if (!traced) Nil else {
      rec.tracer = Some(new Tracer(spark))
      passesFor(seconds / 2)
    }
    rec.tracer.foreach { t => t.write(a("trace-out")); t.close() }

    val json = new StringBuilder("{")
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
    // peak resident set of this JVM over the whole run (set-up included)
    val peakKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)
    json ++= s""""workload":"$workload","setup_s":${num(setupS)},"warm_pass_s":${arr(warm)},"""
    json ++= s""""peak_rss_mb":${num(peakKb / 1024)},"""
    json ++= s""""pass_s":${arr(untraced)},"traced_pass_s":${arr(tracedPasses)},"""
    json ++= s""""ops":${rec.opTimes.map { case (n, t, tr) => s"""["$n",${num(t)},$tr]""" }
      .mkString("[", ",", "]")},"attempted":${rec.attempted},"""
    json ++= s""""failed":${rec.failed + setupFailed},"errors":${rec.errors.take(5)
      .map(e => "\"" + e.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\"").mkString("[", ",", "]")},"""
    json ++= s""""layers":${rec.layerPasses.map(m =>
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")).mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "result.json"), json.toString)
    spark.stop()
  }
}

/** Runs and times ops, checks their outputs, and counts failures. */
final class Recorder(spark: SparkSession) {
  var tracer: Option[Tracer] = None
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()
  /** (op name, seconds, traced) of every op since the last reset. */
  val opTimes = mutable.ArrayBuffer[(String, Double, Boolean)]()
  val layerPasses = mutable.ArrayBuffer[Map[String, Double]]()
  private var passS = 0.0

  def reset(): Unit = { attempted = 0; failed = 0; opTimes.clear(); passS = 0 }

  /** Time `body` as one op; `check` runs outside the timed interval and
    * throws on a wrong output. An exception in either counts the op as
    * failed. Returns the body's value when the op succeeded. Persisted
    * RDDs the op created are counted (materializations) and, when
    * `release`, unpersisted after the op, outside its time. */
  def op[T](name: String, release: Boolean = true)(body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    val before = spark.sparkContext.getPersistentRDDs.keySet
    tracer.foreach(_.opStart(name))
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach { t =>
      t.opEnd(wall)
      t.count("scale.materializations",
        spark.sparkContext.getPersistentRDDs.keys.count(id => !before.contains(id)))
      t.count(s"op.${name}_s", wall)
    }
    if (release) dropCheckpoints()
    passS += wall
    opTimes += ((name, wall, tracer.isDefined))
    val checked = result.flatMap(v => try { check(v); Right(v) } catch { case e: Throwable => Left(e) })
    checked.left.foreach { e =>
      failed += 1
      errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    }
    checked.toOption
  }

  /** A layer call inside an op: a span and a `<name>_s` counter when traced. */
  def layer[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.layer(name)(body)
    case None => body
  }

  def count(k: String, v: Double): Unit = tracer.foreach(_.count(k, v))

  /** Blocking unpersist of every persisted RDD, as `graft.Bench` does
    * between queries. */
  def dropCheckpoints(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Close a pass: returns its time (sum of its op times). */
  def endPass(): Double = {
    tracer.foreach(t => layerPasses += t.passEnd())
    val s = passS
    passS = 0
    s
  }
}

trait Workload {
  /** First execution of every op: records the reference outputs. */
  def prepare(rec: Recorder): Unit
  /** One pass; `k` seeds its op order and names its stream drops. */
  def pass(k: Int, rec: Recorder): Unit
}

object Workloads {
  /** Sub-second gold-registry queries that read no bronze text. */
  val QueryMix: Seq[String] = Seq(
    "q_top_spenders", "q_standings", "q_latest_event", "q_sessions")

  /** Order-sensitive content hash of a fully collected result. */
  def checksum(rows: Array[Row]): Int = MurmurHash3.orderedHash(rows.iterator.map(_.toString))
}

/** `query_mix`: registry queries in a seeded order per
  * pass. An op is one query from building its plan to the last row of its
  * fully collected, ordered result. The first execution's rows are written
  * out for the DuckDB oracle check and every later op must reproduce their
  * checksum exactly. */
final class Registry(spark: SparkSession, data: String, work: String, seed: Long,
                     queries: Seq[String]) extends Workload {
  private val expected = mutable.Map[String, (Int, Int)]()

  private def run(q: String): Array[Row] = SparkEntry.queries(q)(spark, data).collect()

  def prepare(rec: Recorder): Unit = {
    queries.foreach { q =>
      rec.op(q) {
        val df = SparkEntry.queries(q)(spark, data)
        (df.collect(), df.schema)
      } { case (rows, schema) =>
        expected(q) = (rows.length, Workloads.checksum(rows))
        Oracle.writeResult(spark, work, q, rows, schema)
      }
    }
    Oracle.writeSql(work, queries)
  }

  def pass(k: Int, rec: Recorder): Unit =
    new Random(seed * 7919 + k).shuffle(queries).foreach { q =>
      rec.op(q)(run(q)) { rows =>
        val got = (rows.length, Workloads.checksum(rows))
        if (got != expected(q))
          throw new IllegalStateException(s"result ${got} differs from the oracle-checked ${expected(q)}")
      }
    }
}

/** Writes reference results and their oracle SQL for `run.py`'s DuckDB
  * comparison (the same canonical comparison as `tools/compare.py`). */
object Oracle {
  def writeResult(spark: SparkSession, work: String, name: String, rows: Array[Row],
                  schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/oracle/$name")

  def writeSql(work: String, names: Seq[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "oracle", "oracle_sql.json"), json)
  }
}
