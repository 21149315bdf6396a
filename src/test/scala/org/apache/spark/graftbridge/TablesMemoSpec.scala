package org.apache.spark.graftbridge

import org.apache.spark.scheduler.SparkListenerApplicationEnd

import graft.SparkTestBase
import graft.sources.Tables

/** The `Tables` plan memo must not pin sessions past their
  * application: every memoized DataFrame references its session, so
  * only an explicit eviction can release them. This spec lives under
  * `org.apache.spark` to post an application-end event on the shared
  * test context's listener bus without stopping the context. */
class TablesMemoSpec extends SparkTestBase {
  test("memo is per session and released at application end") {
    val other = spark.newSession()
    val orders = Tables.table(other, sf, "orders")
    assert(Tables.table(other, sf, "orders") eq orders, "plan not memoized")
    assert(!(Tables.table(spark, sf, "orders") eq orders),
      "two sessions share one memoized plan")

    val bus = spark.sparkContext.listenerBus
    bus.post(SparkListenerApplicationEnd(System.currentTimeMillis()))
    bus.waitUntilEmpty()

    val again = Tables.table(other, sf, "orders")
    assert(!(again eq orders), "application end left the plan memoized")
    assert(again.count() == orders.count())
  }
}
