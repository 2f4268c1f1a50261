package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds; `parent` is 0 for
  * an op's root span; every span of one op carries that op's id. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Double, endMs: Double)

/** Span recorder plus the Spark, SQL and streaming listeners behind the
  * per-layer metrics. Listener events arrive on Spark's listener-bus
  * thread; [[opEnd]] drains the bus before it reads them, so everything
  * an op caused is attributed to that op and to nothing else (the
  * benchmark has one client thread). Counters accumulate into the pass
  * map that [[passEnd]] hands back; spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var opSpan: Span = _
  private val open = mutable.Stack[Long]()

  // ---- written on the listener-bus thread, read after a drain ----------
  private val pass = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val progress = mutable.ArrayBuffer[java.util.Map[String, java.lang.Long]]()
  private var stateRows = 0L

  private def add(k: String, v: Double): Unit = pass.synchronized { pass(k) += v }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = pass.synchronized {
      jobStart(e.jobId) = e.time
      pass("spark.jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = pass.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((e.jobId, s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = pass.synchronized {
      val m = e.taskMetrics
      pass("spark.tasks") += 1
      if (m != null) {
        val info = e.taskInfo
        pass("spark.executor_cpu_s") += m.executorCpuTime / 1e9
        pass("spark.gc_s") += m.jvmGCTime / 1e3
        pass("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        pass("spark.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        pass("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        pass("spark.scheduler_delay_s") += math.max(0L, info.duration -
          m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime) / 1e3
        val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
          m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
        if (records == 0) pass("spark.empty_tasks") += 1
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var phases = 0L
      qe.tracker.phases.values.foreach(p => phases += p.durationMs)
      add("spark.planning_ms", phases.toDouble)
      countPlan(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Count operators of the final (post-AQE) executed plan, descending
    * into query stages and subqueries; reused exchanges are not counted
    * twice. */
  private def countPlan(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => countPlan(a.executedPlan)
    case s: QueryStageExec => countPlan(s.plan)
    case _: ReusedExchangeExec =>
    case _ =>
      p match {
        case _: ShuffleExchangeLike => add("plan.exchanges", 1)
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          add("plan.broadcast_joins", 1)
        case _: SortMergeJoinExec => add("plan.sort_merge_joins", 1)
        case _ =>
      }
      p.children.foreach(countPlan)
      p.subqueries.foreach(countPlan)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      pass.synchronized {
        if (e.progress.numInputRows > 0) {
          progress += e.progress.durationMs
          stateRows = e.progress.stateOperators.map(_.numRowsTotal).sum
        }
      }
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(sqlListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- spans ------------------------------------------------------------
  private var opStartMs = 0.0
  private var opCompileNs = 0L

  def opStart(name: String): Unit = {
    Internals.drainListenerBus(sc)
    nextId += 1
    opSpan = Span(nextId, name, 0, nextId, nowMs, 0)
    open.push(opSpan.id)
    opStartMs = opSpan.startMs
    opCompileNs = Internals.codegenCompileNs
  }

  /** Close the op: drain the bus, turn its job intervals into child spans
    * and charge the op's wall time not covered by any job to the driver. */
  def opEnd(wallS: Double): Unit = {
    val endMs = opStartMs + wallS * 1e3
    spans += opSpan.copy(endMs = endMs)
    open.pop()
    Internals.drainListenerBus(sc)
    add("spark.codegen_compile_ms", (Internals.codegenCompileNs - opCompileNs) / 1e6)
    val jobs = pass.synchronized { val j = jobSpans.toList; jobSpans.clear(); j }
    // a job's parent is the innermost layer span it started in
    val layers = spans.filter(l => l.op == opSpan.id && l.id != opSpan.id).toList
    jobs.foreach { case (jobId, s, e) =>
      val parent = layers.filter(l => l.startMs <= s && s <= l.endMs)
        .maxByOption(_.startMs).fold(opSpan.id)(_.id)
      nextId += 1
      spans += Span(nextId, s"spark.job.$jobId", parent, opSpan.id, s.toDouble, e.toDouble)
    }
    val covered = union(jobs.map { case (_, s, e) =>
      (math.max(s.toDouble, opStartMs), math.min(e.toDouble, endMs)) })
    add("spark.driver_gap_s", math.max(0.0, wallS - covered / 1e3))
  }

  /** A layer call inside the current op (e.g. `operators.resolve`). */
  def layer[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val s = nowMs
    open.push(id)
    try body finally {
      open.pop()
      val e = nowMs
      spans += Span(id, name, open.headOption.getOrElse(0L), opSpan.id, s, e)
      add(name + "_s", (e - s) / 1e3)
    }
  }

  def count(k: String, v: Double): Unit = add(k, v)

  /** Counters of the pass that just ended, derived ratios included. */
  def passEnd(): Map[String, Double] = {
    Internals.drainListenerBus(sc)
    pass.synchronized {
      val m = pass.toMap.withDefaultValue(0.0)
      val out = mutable.Map[String, Double]() ++ m
      out("spark.empty_task_ratio") =
        if (m("spark.tasks") > 0) m("spark.empty_tasks") / m("spark.tasks") else 0.0
      if (progress.nonEmpty) {
        def total(k: String) = progress.map(d => Option(d.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        Seq("addBatch" -> "streaming.add_batch_ms", "queryPlanning" -> "streaming.query_planning_ms",
            "walCommit" -> "streaming.wal_commit_ms", "latestOffset" -> "streaming.latest_offset_ms")
          .foreach { case (k, n) => out(n) = total(k) }
        out("streaming.state_rows") = stateRows.toDouble
      }
      pass.clear(); progress.clear()
      out.toMap
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var first = true
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > end) { total += e - s; end = e; first = false }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part of it that its child spans cover. */
  def write(path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val lines = spans.sortBy(s => (s.op, s.startMs)).map { s =>
      val cover = union(kids.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${s.endMs - s.startMs - cover}%.3f}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}
