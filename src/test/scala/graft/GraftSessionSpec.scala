package graft

import org.apache.spark.sql.graft.Shims

/** The session [[GraftSession.builder]] configures: its generated-class
  * cache must hold a working set wider than Spark's default 100 classes,
  * so a cycle of queries run again recompiles nothing. */
class GraftSessionSpec extends SparkSpec {

  /** Registry queries that compile the most generated classes per run. */
  private val Queries = Seq("q_semantic_keep", "q_component_sizes",
    "q_cosine_dups", "q_dedup_sweep")

  test("a second round of the same queries compiles no generated class") {
    // The JVM-wide cache keys a class by the classloader it was compiled
    // under as well as its code, and a new session's queries compile
    // under their own, so round one compiles this session's working set
    // whatever other suites left in the cache.
    val s = spark.newSession()
    def round(): Long = {
      val before = Shims.codegenClassesCompiled
      Queries.foreach(q => SparkEntry.queries(q)(s, TestSpark.Sf0001)
        .write.format("noop").mode("overwrite").save())
      Shims.codegenClassesCompiled - before
    }
    val first = round()
    assert(first > 100, s"round one compiled only $first classes: too few to overflow a 100-class cache")
    val second = round()
    assert(second == 0, s"round two recompiled $second of round one's $first classes")
    info(s"round one compiled $first classes")
  }
}
