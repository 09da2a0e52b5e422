package org.apache.spark.cohortbench

import org.apache.spark.SparkContext

/** Task-end events reach listeners asynchronously, after the action that
  * produced them returns. `waitUntilEmpty` is `private[spark]`, hence this
  * object's package. */
object Bus {
  def flush(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
