package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark's tracer reads: draining the
  * listener bus before spans are attributed, and the JVM-wide codegen
  * counters (janino compilations and their summed compile time). */
object PerfBenchShim {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenCompileNanos: Long = CodeGenerator.compileTime
}
