package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Bridge to the `private[sql]` session id of Spark 4's classic
  * session: a key that, unlike the session itself, cached plans do
  * not reference. */
object SessionBridge {
  def uuid(s: SparkSession): String = s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Waits until the `private[spark]` listener bus has delivered every
    * event posted so far, query-execution listeners' included. */
  def drainListeners(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
