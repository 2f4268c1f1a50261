package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The two Spark-internal reads the tracer needs, kept in a Spark package
  * because both are package-private. */
object Internals {

  /** Block until every event posted so far has reached every listener, so
    * an op's counters are complete before the next op starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Process-wide cumulative Janino compile time, in nanoseconds. */
  def codegenCompileNs: Long = CodeGenerator.compileTime
}
