package graft

import graft.scale.Silver

/** Contract tests for the silver materialization seam. */
class SilverSpec extends SparkSpec {

  test("scratch: two runs sharing one silver dir do not overwrite each other") {
    // newSession(): own conf over the shared context, so setting the
    // silver dir cannot leak into other suites.
    val s2 = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft_silver").toString
    s2.conf.set("spark.graft.silver.dir", tmp)
    val df1 = Silver.scratch(s2.range(10).toDF("v"), "scratch_test")
    val df2 = Silver.scratch(s2.range(20).toDF("v"), "scratch_test")
    // With a FIXED name the second write would have clobbered df1's
    // parquet mid-read; per-call suffixes keep both frames intact.
    assert(df1.count() == 10)
    assert(df2.count() == 20)
    val dirs = new java.io.File(tmp).list().count(_.startsWith("scratch_test_"))
    assert(dirs == 2, s"expected two distinct scratch tables, saw $dirs")
  }

  test("materialize: fixed-name silver tables land at the configured path") {
    val s2 = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft_silver2").toString
    s2.conf.set("spark.graft.silver.dir", tmp)
    val df = Silver.materialize(s2.range(5).toDF("v"), "named_table")
    assert(df.count() == 5)
    assert(new java.io.File(s"$tmp/named_table").isDirectory)
  }

  test("release: upserts and the model stage leave no scratch table in the silver dir") {
    import java.nio.file.{Files, Path}
    val s2 = spark.newSession()
    val silver = Files.createTempDirectory("graft_silver_release").toString
    s2.conf.set("spark.graft.silver.dir", silver)
    val in = Files.createTempDirectory("graft_release_in").toString
    val state = Files.createTempDirectory("graft_release_tbl").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_release_ckpt").toString
    (1 to 3).foreach { i =>
      Files.writeString(Path.of(in, s"snap$i.json"),
        s"""{"home_team":"A","away_team":"B","score_text":"$i-0","status_text":"FT",""" +
          s""""match_time":"90","source":"flash","scraped_at":"2024-01-0${i}T20:00:00.000Z"}""")
      val q = graft.streaming.LiveScores.runOnce(s2, in, state, ckpt)
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    assert(s2.read.parquet(state).head().getAs[Int]("home_score") == 3)
    val stages = graft.apps.DailyAnalytics.run(s2, TestSpark.Sf0001)
    assert(stages.forall(_.status == "ok"), stages.mkString("; "))
    val left = new java.io.File(silver).list().toSeq
      .filter(n => n.startsWith("upsert_batch_") || n.startsWith("model_features_"))
    assert(left.isEmpty, s"scratch tables left in the silver dir: $left")
    // a frame that does not read a scratch table is never deleted
    Silver.release(s2.read.parquet(state))
    assert(new java.io.File(state).isDirectory)
  }

  test("materialize: the local leaf carries its observed size; the planner broadcasts it") {
    import org.apache.spark.sql.functions._
    // AQE off: the statically planned join is the planner's own choice
    val iso = graft.tools.ExplainAudit.staticSession(spark)
    val noBc = graft.tools.ExplainAudit.staticSession(spark)
    noBc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def input(s: org.apache.spark.sql.SparkSession) =
      s.range(0, 2000000).select(col("id"), (col("id") % 1000).as("k"))
    def agg(s: org.apache.spark.sql.SparkSession) =
      input(s).groupBy("k").agg(count(lit(1)).as("c"))
    val leaf = Silver.materialize(agg(iso), "stats_leaf")
    val estimate = agg(iso).queryExecution.optimizedPlan.stats.sizeInBytes
    val measured = leaf.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(leaf.count() == 1000)
    // the graph operators' bounds read this count instead of running a job
    assert(org.apache.spark.sql.graft.Shims.leafRowCount(leaf).contains(1000L))
    assert(org.apache.spark.sql.graft.Shims.leafRowCount(leaf.select("k")).isEmpty)
    assert(estimate > BigInt(org.apache.spark.sql.graft.Shims.autoBroadcastThreshold(iso)),
      s"input estimate $estimate alone would broadcast")
    assert(measured * 50 < estimate,
      s"leaf size $measured is not far below the input estimate $estimate")
    val bhj = input(iso).join(leaf, "k").queryExecution.executedPlan.toString
    assert(bhj.contains("BroadcastHashJoin") && !bhj.contains("SortMergeJoin"),
      s"join against the measured leaf did not broadcast:\n$bhj")
    val leafOff = Silver.materialize(agg(noBc), "stats_leaf_off")
    val smj = input(noBc).join(leafOff, "k").queryExecution.executedPlan.toString
    assert(smj.contains("SortMergeJoin") && !smj.contains("BroadcastHashJoin"),
      s"threshold -1 did not pin the shuffle join:\n$smj")
  }
}
