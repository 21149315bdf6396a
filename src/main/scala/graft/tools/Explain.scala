package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection helper: runs each named query once, in full and
  * collecting its result to the driver, then prints its formatted
  * physical plan — after the run, so the plan is AQE's final plan,
  * with the re-planned joins and coalesced shuffles the query
  * actually executed. At least one query name is required. Reads
  * testdata from SPARK_GRAFT_SF_DIR (default sf0.001) and sizes local
  * parallelism from SPARK_GRAFT_CPUS, like Bench and Verify. Usage:
  *   sbt "runMain graft.tools.Explain q1_agg o3_recent_headlines"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Explain <query> [<query> ...]")
    val spark = graft.LocalSpark.session("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.foreach { n =>
      println(s"\n===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.collect()
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
