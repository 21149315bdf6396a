package org.apache.spark.graftbridge

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.SparkSession

/** Posts an application-end event on the session's listener bus and
  * waits until every listener has seen it, without stopping the
  * shared test context. Lives under `org.apache.spark` to reach the
  * bus. */
object ApplicationEnd {
  def post(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.listenerBus
    bus.post(SparkListenerApplicationEnd(System.currentTimeMillis()))
    bus.waitUntilEmpty()
  }
}
