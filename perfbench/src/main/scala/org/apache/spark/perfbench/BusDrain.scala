package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the traced run drains it
  * after each operation, so every job, stage and task event of that
  * operation is attributed before the next one starts.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
