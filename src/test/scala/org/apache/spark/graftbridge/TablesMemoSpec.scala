package org.apache.spark.graftbridge

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkTestBase
import graft.sources.{HeadlineData, Tables}

/** The `Tables` memo must not pin sessions past their application:
  * every memoized DataFrame references its session, so only an
  * explicit eviction can release them. The derived silver frame
  * shares the memo, so it obeys the same lifetime. This spec lives
  * under `org.apache.spark` to post an application-end event on the
  * shared test context's listener bus without stopping the context. */
class TablesMemoSpec extends SparkTestBase {
  test("memo is per session and released at application end") {
    val readers: Seq[(String, SparkSession => DataFrame)] = Seq(
      "orders" -> (s => Tables.table(s, sf, "orders")),
      "silver" -> (s => HeadlineData.silverCached(s, sf)))
    readers.foreach { case (name, read) =>
      val other = spark.newSession()
      val first = read(other)
      assert(read(other) eq first, s"$name not memoized")
      assert(!(read(spark) eq first), s"two sessions share one memoized $name")

      val bus = spark.sparkContext.listenerBus
      bus.post(SparkListenerApplicationEnd(System.currentTimeMillis()))
      bus.waitUntilEmpty()

      val again = read(other)
      assert(!(again eq first), s"application end left $name memoized")
      assert(again.count() == first.count())
    }
  }

  test("memoized silver whose blocks are lost is rebuilt") {
    val session = spark.newSession()
    val first = HeadlineData.silverCached(session, sf)
    val n = first.count()
    assert(HeadlineData.silverCached(session, sf) eq first)

    // drop the stored blocks, as losing the executor holding them would
    val stored = first.queryExecution.logical match { case r: LogicalRDD => r.rdd }
    stored.unpersist(blocking = true)
    assert(scala.util.Try(first.count()).isFailure, "lost blocks still readable")

    val again = HeadlineData.silverCached(session, sf)
    assert(!(again eq first), "silver with lost blocks stayed memoized")
    assert(again.count() == n)
    assert(HeadlineData.silverCached(session, sf) eq again)
  }
}
