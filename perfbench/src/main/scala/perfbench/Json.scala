package perfbench

/** Minimal JSON writer for the driver's result file. Values are
  * strings, numbers, booleans, null/None, sequences, maps and Spark
  * rows; `java.sql.Date` and `java.sql.Timestamp` are written as ISO
  * strings (timestamps in UTC). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case t: java.sql.Timestamp => str(t.toInstant.toString)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case r: org.apache.spark.sql.Row => value(r.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case RawJson(text) => text
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
