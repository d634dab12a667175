package perfbench

import org.apache.spark.sql.Row

/** Just enough JSON writing for the result file and op outputs. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  /** One cell. Temporal values become epoch microseconds (UTC) so both
    * engines' values compare as integers; decimals keep every digit as a
    * tagged string; nested values recurse. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => obj(Seq("dec" -> str(d.toPlainString)))
    case d: scala.math.BigDecimal => obj(Seq("dec" -> str(d.bigDecimal.toPlainString)))
    case s: String => str(s)
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => (d.toLocalDate.toEpochDay * 86400000000L).toString
    case d: java.time.LocalDate => (d.toEpochDay * 86400000000L).toString
    case r: Row => arr(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      arr(m.toSeq.map { case (k, x) => arr(Seq(value(k), value(x))) })
    case xs: Iterable[_] => arr(xs.map(value))
    case a: Array[Byte] => str(a.map("%02x".format(_)).mkString)
    case other => str(other.toString)
  }

  private def micros(i: java.time.Instant): String =
    (i.getEpochSecond * 1000000L + i.getNano / 1000).toString

  /** Column names, then one JSON array per row. */
  def rows(columns: Seq[String], rs: Array[Row]): String =
    (arr(columns.map(str)) +: rs.toSeq.map(r => arr(r.toSeq.map(value))))
      .mkString("", "\n", "\n")
}
