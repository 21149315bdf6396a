package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry module: a family of named queries, each with the
  * DuckDB SQL that checks it. [[SparkEntry]] merges the modules it
  * lists; RegistrySpec pins that their keys are disjoint, that every
  * query has an oracle, and that each key carries one of its module's
  * `prefixes`.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame

  /** Key prefixes this module owns, e.g. `dedup_`. No other module may
    * declare them. Empty only for [[graft.serve.Queries]], whose keys
    * are the reference's own query ids (`a1_`, `q2_`, ...). */
  def prefixes: Seq[String]

  def queries: Map[String, Q]

  /** For each key in `queries`, equivalent SQL that DuckDB runs on the
    * same parquet tables. */
  def oracles: Map[String, String]
}
