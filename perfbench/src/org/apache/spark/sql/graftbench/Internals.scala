package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-internal readouts the benchmark tracer needs. They are
  * `private[spark]`/`private[sql]`, so this object lives inside that
  * package namespace (the same bridge technique as the engine's
  * `graftbridge` package). */
object Internals {
  /** Total Janino compile time so far, nanoseconds (process-global): the
    * exact sum of what `CodegenMetrics`' compile-time histogram samples. */
  def compileNanos: Long = CodeGenerator.compileTime

  /** The query execution an SQL execution ran (null when not attached). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
