package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Waits, up to `timeoutMs`, until every event posted to the context's
  * listener bus has been delivered — the bounded wait for a listener's
  * view of jobs that already returned. The bus is `private[spark]`, so
  * the bridge lives in this package. Throws a `TimeoutException` when
  * the bus does not drain in time. */
object ListenerBus {
  def drain(spark: SparkSession, timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
