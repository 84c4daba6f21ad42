package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the harness drains it
  * so task-end and query-execution events land in the span that caused
  * them before the span closes.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(60000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
