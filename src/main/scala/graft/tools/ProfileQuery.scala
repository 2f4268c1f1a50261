package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.Shims

import graft.SparkEntry

/** Dev profiling main: run named queries and report where the wall time
  * goes — per-Spark-job wall segments (with stage/task counts and
  * shuffle bytes) plus the driver-side gaps between jobs (planning,
  * analysis, checkpoint bookkeeping). This is the §1 "measure first"
  * harness for the optimization rounds: per-query seconds come from the
  * bench; THIS tool answers "which jobs inside the query cost what".
  *
  * Listener events arrive asynchronously, so nothing is keyed on arrival
  * order: each job is filed under the rep named by its job description,
  * each stage under the job whose `stageIds` listed it first, and the
  * report prints after `stop()` has drained the listener bus.
  *
  * Each rep line also carries the rep's codegen compile time and the
  * number of classes Janino compiled (generated-class cache misses): 0
  * after the first rep means the query's working set stays cached.
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <q_a,q_b,...> [reps]
  * (cpus via SPARK_GRAFT_CPUS, default all cores).
  */
object ProfileQuery {

  private final case class Job(id: Int, rep: String, t0: Long,
                               stages: Int, tasks: Int) {
    var t1 = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.builder(cpus)
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val rep = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, rep, e.time,
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum))
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        Option(stageJob.get(e.stageInfo.stageId))
          .flatMap(id => Option(jobs.get(id)))
          .filter(_ => m != null)
          .foreach { j =>
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
      }
    })

    val walls = for (n <- names.toSeq; r <- 1 to reps) yield {
      val rep = s"$n rep$r"
      spark.sparkContext.setJobDescription(rep)
      val (c0, k0) = (Shims.codegenCompileNs, Shims.codegenClassesCompiled)
      val w0 = System.currentTimeMillis()
      SparkEntry.queries(n)(spark, sfDir).count()
      val wall = System.currentTimeMillis() - w0
      val compile = (Shims.codegenCompileNs - c0) / 1e6
      val classes = Shims.codegenClassesCompiled - k0
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      (rep, wall, compile, classes)
    }
    spark.stop() // drains the listener bus: every event below has arrived

    import scala.jdk.CollectionConverters._
    val byRep = jobs.values.asScala.toSeq.groupBy(_.rep)
    walls.foreach { case (rep, wallMs, compileMs, classes) =>
      // per-job segments in start order, plus inter-job driver gaps
      val js = byRep.getOrElse(rep, Nil).sortBy(_.id)
      val wall = wallMs / 1e3
      val jobSum = js.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"== $rep wall=$wall%.3f s, ${js.size} jobs " +
        f"(sum ${jobSum}%.3f s, driver gaps ${wall - jobSum}%.3f s), " +
        f"codegen compile $compileMs%.1f ms, $classes classes")
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = j.t1
        println(f"   job ${j.id}%3d  ${(j.t1 - j.t0) / 1e3}%7.3f s  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  " +
          f"shufR=${j.shuffleRead / 1024}%8d KB shufW=${j.shuffleWrite / 1024}%8d KB" +
          (if (gap > 0.05) f"   [gap before: $gap%.3f s]" else ""))
      }
    }
  }
}
