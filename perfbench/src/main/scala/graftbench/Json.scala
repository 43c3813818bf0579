package graftbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the benchmark's own output files.
  *
  * Result values are written in one canonical form that run.py rebuilds from
  * DuckDB rows: integers as numbers, doubles as Java's shortest round-trip
  * decimal, timestamps as epoch microseconds, dates as epoch days, decimals as
  * plain strings, structs and arrays as JSON arrays.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString

  /** Any value: plain Scala values for the driver's own records, Spark
    * values in the canonical result form. */
  def apply(v: Any): String = v match {
    case null                          => "null"
    case s: String                     => str(s)
    case b: Boolean                    => b.toString
    case b: Byte                       => b.toString
    case s: Short                      => s.toString
    case i: Int                        => i.toString
    case l: Long                       => l.toString
    case f: Float                      => num(f.toDouble)
    case d: Double                     => num(d)
    case d: java.math.BigDecimal       => str(d.toPlainString)
    case d: scala.math.BigDecimal      => str(d.bigDecimal.toPlainString)
    case t: java.sql.Timestamp         =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant          =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime    =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case d: java.sql.Date              => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate        => d.toEpochDay.toString
    case r: Row                        => r.toSeq.map(apply).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_]                => s.map(apply).mkString("[", ",", "]")
    case a: Array[_]                   => a.map(apply).mkString("[", ",", "]")
    case o                             => str(o.toString)
  }

  def rows(rs: Iterable[Row]): String = apply(rs)
}
