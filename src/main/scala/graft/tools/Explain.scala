package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection helper: runs each named query once, in full and
  * collecting its result to the driver, then prints its formatted
  * physical plan — after the run, so the plan is AQE's final plan,
  * with the re-planned joins and coalesced shuffles the query
  * actually executed. A barrier ([[graft.Barrier]]) shows in that plan
  * only as `Scan ExistingRDD`, so the plan of every barrier the query
  * stored prints first, in the order they were planned. At least one
  * query name is required. Reads testdata from SPARK_GRAFT_SF_DIR
  * (default sf0.001) and sizes local parallelism from
  * SPARK_GRAFT_CPUS, like Bench and Verify. Usage:
  *   sbt "runMain graft.tools.Explain q1_agg o3_recent_headlines"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Explain <query> [<query> ...]")
    val spark = graft.LocalSpark.session("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val barriers = new ConcurrentLinkedQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (action == "localCheckpoint") barriers.add(qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def formatted(qe: QueryExecution) =
      qe.explainString(ExplainMode.fromString("formatted"))
    args.foreach { n =>
      println(s"\n===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.collect()
      SessionBridge.drainListeners(spark)
      Iterator.continually(barriers.poll()).takeWhile(_ != null).zipWithIndex
        .foreach { case (qe, i) => println(s"----- barrier ${i + 1} -----\n${formatted(qe)}") }
      println(s"----- $n -----\n${formatted(df.queryExecution)}")
    }
    spark.stop()
  }
}
