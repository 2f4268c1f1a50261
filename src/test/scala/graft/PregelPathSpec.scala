package graft

import org.apache.spark.sql.DataFrame

/** The iterative graph operators pick a per-round join strategy at
  * runtime (graft.scale.Pregel): broadcast the node-sized state frame
  * when the node space fits `Pregel.MaxStateRows` and broadcasting is
  * allowed, else keep the co-partitioned shuffle path. The two paths MUST be
  * result-identical (all round arithmetic is exact integer aggregation)
  * — this spec pins that by running representative queries of every
  * iterative shape on both paths at sf0.001 and exact-comparing rows.
  * Without it the shuffle path (the 100 TB regime) would be dead code
  * under every oracle run, since the test corpora always fit the cap.
  */
class PregelPathSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // one query per iterative shape: scoring (pagerank), mutual
  // reinforcement (hits), vote argmax (label_prop), frontier relaxation
  // (bfs via diameter's double sweep), weighted relaxation (sssp),
  // labeled relaxation (closeness), walk argmin (walks), walk counting
  // (katz), iterated filter (kcore)
  private val queries = Seq("q_pagerank", "q_hits", "q_label_prop",
    "q_diameter", "q_sssp", "q_closeness", "q_walks", "q_katz", "q_kcore")

  test("broadcast and shuffle state paths are result-identical") {
    val bcSession = spark.newSession()
    val shSession = spark.newSession()
    // every sf0.001 graph fits MaxStateRows, so the default session takes
    // the broadcast path; Spark's "no broadcast" setting pins the shuffle
    // path
    shSession.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (q <- queries) {
      val fn = SparkEntry.queries(q)
      val bc = rows(fn(bcSession, TestSpark.Sf0001))
      val sh = rows(fn(shSession, TestSpark.Sf0001))
      assert(bc == sh, s"$q: broadcast vs shuffle state path diverged")
      assert(bc.nonEmpty, s"$q returned no rows")
    }
  }
}
