package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.util.NonFateSharingCache

/** The engine-internal calls the benchmark needs, hence this package. */
object SparkInternals {

  /** The listener bus delivers events asynchronously; a traced pass reads
    * its counters only after every event posted so far has been handled.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drop every generated class, as a fresh JVM would start. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }

  /** The action name ("collect", "save", "head", ...) and executed query of
    * an ended SQL execution: what a `QueryExecutionListener` receives, but
    * with the execution id that the execution's jobs carry.
    */
  def endedQuery(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    Option(e.qe).map(qe => (e.executionName.getOrElse(""), qe))
}
