package org.apache.spark

/** The two Spark internals the harness reads: draining the listener bus, so
  * that counts taken at a span boundary include every event posted before
  * it, and the cumulative codegen compile time. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
