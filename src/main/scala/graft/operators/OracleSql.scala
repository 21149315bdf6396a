package graft.operators

/** DuckDB SQL idioms shared by the oracle strings of the query
  * modules: each is the SQL twin of a Spark expression the queries
  * use, spelled so both engines fold in the same order.
  */
object OracleSql {
  /** Dot product of two equal-length list columns. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  /** Cosine similarity, the Similarity.cosine twin (same fold order). */
  def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Integer value of `n` hex digits of md5(x) starting at digit
    * `from` (1-based): the twin of conv(substr(md5(x), from, n), 16, 10). */
  def hexN(x: String, from: Int, n: Int): String =
    s"list_reduce(list_transform(string_split(substr(md5($x), $from, $n), '')," +
      s" c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))," +
      s" (a, b) -> a * 16 + b)"

  /** Integer value of the first `n` hex digits of md5(x). */
  def hexSql(x: String, n: Int): String = hexN(x, 1, n)

  /** Integer value of the first 15 hex digits of md5(x). */
  def hex15(x: String): String = hexSql(x, 15)

  /** Order total in integer cents. */
  val centsX = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Acklam's inverse normal CDF (the Spark-side probit twin). */
  def probitSql(p: String): String = {
    val central =
      s"""((((((-39.69683028665376) * (($p - 0.5) * ($p - 0.5))
         |  + 220.9460984245205) * (($p - 0.5) * ($p - 0.5))
         |  + (-275.9285104469687)) * (($p - 0.5) * ($p - 0.5))
         |  + 138.357751867269) * (($p - 0.5) * ($p - 0.5))
         |  + (-30.66479806614716)) * (($p - 0.5) * ($p - 0.5))
         |  + 2.506628277459239) * ($p - 0.5)
         |/ ((((((-54.47609879822406) * (($p - 0.5) * ($p - 0.5))
         |  + 161.5858368580409) * (($p - 0.5) * ($p - 0.5))
         |  + (-155.6989798598866)) * (($p - 0.5) * ($p - 0.5))
         |  + 66.80131188771972) * (($p - 0.5) * ($p - 0.5))
         |  + (-13.28068155288572)) * (($p - 0.5) * ($p - 0.5)) + 1.0)"""
        .stripMargin.replaceAll("\n", " ")
    def tail(pp: String) =
      s"""(((((((-0.007784894002430293) * sqrt(-2.0 * ln($pp))
         |  + (-0.3223964580411365)) * sqrt(-2.0 * ln($pp))
         |  + (-2.400758277161838)) * sqrt(-2.0 * ln($pp))
         |  + (-2.549732539343734)) * sqrt(-2.0 * ln($pp))
         |  + 4.374664141464968) * sqrt(-2.0 * ln($pp))
         |  + 2.938163982698783)
         |/ (((((0.007784695709041462 * sqrt(-2.0 * ln($pp))
         |  + 0.3224671290700398) * sqrt(-2.0 * ln($pp))
         |  + 2.445134137142996) * sqrt(-2.0 * ln($pp))
         |  + 3.754408661907416) * sqrt(-2.0 * ln($pp))) + 1.0))"""
        .stripMargin.replaceAll("\n", " ")
    s"""CASE WHEN $p < 0.02425 THEN ${tail(p)}
       |     WHEN $p > 0.97575 THEN -${tail(s"(1.0 - $p)")}
       |     ELSE $central END""".stripMargin
  }}
