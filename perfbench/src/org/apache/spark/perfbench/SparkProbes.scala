package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the traced run needs, kept in Spark's
  * package because both are `private[spark]`. */
object SparkProbes {
  /** Blocks until every listener event posted so far has been delivered,
    * so a traced operation's jobs, stages, tasks and query-execution
    * callbacks are all in hand before the next operation starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression codegen compilations so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
