package graft

import org.apache.spark.sql.SparkSession

/** The local session the mains run on: SPARK_GRAFT_CPUS cores
  * (default 4) and as many shuffle partitions, UTC, no UI. `master`
  * replaces the `local[N]` master when given. */
object LocalSpark {
  def session(logLevel: String, master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
