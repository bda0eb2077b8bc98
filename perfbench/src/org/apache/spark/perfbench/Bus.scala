package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and is private to
  * Spark; the tracer drains it before detaching so no job of a traced
  * pass is lost. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
