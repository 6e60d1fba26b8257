package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test-only bridge to Spark internals the specs need:
  *   - `SparkSessionExtensions.registerFunctions` is private[sql]
  *     (session construction calls it); the extensions spec exercises
  *     the injection path inside the shared-JVM suite.
  *   - the listener bus delivers job events to the status tracker
  *     asynchronously and `waitUntilEmpty` is private[spark]; the
  *     failure specs drain it before asking which jobs are still active.
  */
object GraftExtTestBridge {
  def register(ext: SparkSessionExtensions, reg: FunctionRegistry): Unit =
    ext.registerFunctions(reg)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
