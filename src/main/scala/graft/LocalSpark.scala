package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** The local session the mains run on: SPARK_GRAFT_CPUS cores
  * (default 4) and as many shuffle partitions, UTC, no UI, a codegen
  * cache sized to the registry's working set. `master` replaces the
  * `local[N]` master when given. */
object LocalSpark {
  /** Generated classes the session keeps compiled
    * (`spark.sql.codegen.cache.maxEntries`, a static conf; Spark's
    * default is 100, held in 4 LRU segments). A full-registry
    * `graft.Bench` run at sf0.01 compiles 5029 distinct classes by the
    * end of pass 1. At 100 entries it compiled 10082 there and 9532
    * more in the later passes, and its Σbest was 178.6 s; with room
    * for all of them, 103 later compiles and 100.4 s (4-core host,
    * one run each). 8192 holds that working set with headroom. */
  private val CodegenCacheEntries = 8192

  def session(logLevel: String, master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
