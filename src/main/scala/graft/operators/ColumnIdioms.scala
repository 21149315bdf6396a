package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Table and column idioms shared by the query modules. */
object ColumnIdioms {
  /** Testdata table `n` under `dir`. */
  def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.table(s, dir, n)

  /** The documents corpus. */
  def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  def d(c: Column): Column = c.cast("double")

  /** Exact money: sums stay DECIMAL(18,2) until the final double cast. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Abramowitz & Stegun 7.1.26 erf for x ≥ 0 (|error| < 1.5e-7). */
  def erfAS(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) +
      t * (lit(-0.284496736) +
        t * (lit(1.421413741) +
          t * (lit(-1.453152027) + t * lit(1.061405429)))))
    lit(1.0) - poly * exp(-(x * x))
  }
}
