package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * until every event of a finished call has been delivered before it
  * closes that call's span. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
