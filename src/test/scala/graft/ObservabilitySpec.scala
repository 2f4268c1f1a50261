package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.tools.{Observability, Stages}

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("QueryMetrics records action durations and output rows") {
    val m = new Observability.QueryMetrics
    spark.listenerManager.register(m)
    try {
      Seq(1, 2, 3).toDF("x").filter(col("x") > 1).count()
      val recs = m.awaitRecords(1)
      assert(recs.nonEmpty, "listener saw no query executions")
      val ok = recs.filter(_.status == "ok")
      assert(ok.nonEmpty)
      assert(ok.forall(_.durationMs >= 0.0))
      // metrics are queryable as data
      val df = m.toDF(spark)
      assert(df.columns.toSet ==
        Set("action", "durationMs", "outputRows", "status", "error"))
      assert(df.count() == recs.length.toLong)
    } finally spark.listenerManager.unregister(m)
  }

  test("Stages.runAll: isolated error capture, pipeline continues") {
    val results = Stages.runAll(Seq(
      "good" -> (() => Seq(1, 2, 3).toDF("x")),
      "bad" -> (() => Seq(1).toDF("x")
        .select((col("x") / 0).cast("int").as("boom"))), // ANSI divide-by-zero
      "after" -> (() => Seq(4, 5).toDF("x"))))
    assert(results.map(_.stage) == Seq("good", "bad", "after"))
    assert(results(0).status == "ok" && results(0).items == 3L)
    assert(results(1).status == "failed" && results(1).items == -1L)
    assert(results(1).error.nonEmpty)
    assert(results(2).status == "ok" && results(2).items == 2L,
      "a failed stage must not stop later stages")
    val df = Stages.toDF(spark, results)
    assert(df.filter(col("status") === "ok").count() == 2)
  }

  test("DailyAnalytics.run: all four reference stages succeed on the corpus") {
    val results = graft.apps.DailyAnalytics.run(spark, TestSpark.Sf0001)
    assert(results.map(_.stage) ==
      Seq("model_update", "top_performers", "transfer_analysis", "weekly_summary"))
    results.foreach { r =>
      assert(r.status == "ok", s"stage ${r.stage} failed: ${r.error}")
      assert(r.items > 0L, s"stage ${r.stage} produced no rows")
    }
    // the model stage fits and scores from its materialized features;
    // the scores must be exactly those of the same pipeline fitted on
    // the unmaterialized aggregate
    import graft.apps.DailyAnalytics
    def scored(feats: org.apache.spark.sql.DataFrame) =
      DailyAnalytics.scoreHeldOut(feats).select("o_custkey", "prediction")
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val feats = DailyAnalytics.customerFeatures(spark, TestSpark.Sf0001)
    val fromLeaf = scored(graft.scale.Silver.scratch(feats, "model_features"))
    assert(fromLeaf.size.toLong == results.head.items)
    assert(fromLeaf == scored(feats),
      "scores from the materialized features differ from the unmaterialized fit")
  }

  test("HealthCheck: healthy on the corpus, unhealthy on a missing dir") {
    import graft.tools.HealthCheck
    val (overall, checks) = HealthCheck.checkAll(spark, TestSpark.Sf0001)
    assert(overall == "healthy", checks.filter(_.status != "healthy").mkString(";"))
    assert(checks.map(_.component).toSet.contains("table:documents"))
    assert(checks.forall(_.latencyMs >= 0.0))
    val (bad, badChecks) = HealthCheck.checkAll(spark, "/nonexistent/corpus")
    assert(bad == "unhealthy")
    // the session itself is still fine; only table components degrade
    assert(badChecks.find(_.component == "session").get.status == "healthy")
    assert(badChecks.exists(c => c.component.startsWith("table:") &&
      c.status == "unhealthy"))
  }

  test("BatchRates observes micro-batch throughput of a stream") {
    val listener = new Observability.BatchRates
    spark.streams.addListener(listener)
    val input = MemoryStream[Int](spark)
    val q = input.toDF().writeStream
      .queryName("obs_rate_test")
      .format("memory")
      .outputMode("append")
      .start()
    try {
      input.addData(1 to 50: _*)
      q.processAllAvailable()
      input.addData(51 to 80: _*)
      q.processAllAvailable()
      val recs = listener.awaitRecords(2)
      val mine = recs.filter(_.queryName == "obs_rate_test")
      assert(mine.nonEmpty, s"no progress events for the test query: $recs")
      assert(mine.map(_.numInputRows).sum == 80L,
        s"input rows accounted: ${mine.map(_.numInputRows).sum}")
      assert(mine.forall(_.processedRowsPerSecond >= 0.0))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
