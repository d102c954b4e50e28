package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

/** Result checking inside the JVM: every later result of a query must
  * equal its first, which run.py compares with the DuckDB oracle. A result
  * is turned into a canonical table — columns sorted by name, every value
  * reduced to null, Boolean, Long, Double, String or a Seq of those — so
  * that two results compare regardless of row order.
  *
  * Timestamps become microseconds since the epoch, dates days since the
  * epoch, structs the list of their fields, maps the key-sorted list of
  * their entries. Floating-point values compare with the tolerance the
  * repository's oracle check uses (1e-9 absolute plus 1e-9 relative).
  */
object Check {

  final case class Table(columns: Seq[String], rows: Seq[Seq[Any]])

  def canonical(columns: Seq[String], rows: Array[Row]): Table = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val canonRows = rows.toSeq.map(r => order.map { case (_, i) => value(r.get(i)) })
    Table(order.map(_._1), canonRows.map(r => (sortKey(r), r)).sortBy(_._1).map(_._2))
  }

  def value(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case s: String => s
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(value(k), value(x)) }.sortBy(e => json(e.head))
    case s: scala.collection.Seq[_] => s.map(value).toSeq
    case other => other.toString
  }

  /** Row order key: integral numbers exactly, other floats rounded to six
    * significant digits, so that a last-bit difference between runs does
    * not reorder rows; the exact form breaks ties. */
  private def sortKey(row: Seq[Any]): (String, String) = (json(row, round = true), json(row))

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 + 1e-9 * math.abs(y)
    case (x: Long, y: Double) => same(x.toDouble, y)
    case (x: Double, y: Long) => same(x, y.toDouble)
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  def sameTable(a: Table, b: Table): Boolean =
    a.columns == b.columns && same(a.rows, b.rows)

  def json(v: Any, round: Boolean = false): String = {
    val sb = new StringBuilder
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case b: Boolean => sb.append(b)
      case l: Long => sb.append(l)
      case d: Double =>
        if (d.isNaN) sb.append("NaN")
        else if (d.isInfinite) sb.append(if (d > 0) "Infinity" else "-Infinity")
        else if (round && d.isWhole && math.abs(d) < 9.007199254740992e15) sb.append(d.toLong)
        else if (round) sb.append(f"$d%.5e")
        else sb.append(java.lang.Double.toString(d))
      case s: String => quote(s, sb)
      case s: Seq[_] =>
        sb.append('[')
        s.iterator.zipWithIndex.foreach { case (e, i) => if (i > 0) sb.append(','); go(e) }
        sb.append(']')
      case m: Map[_, _] =>
        sb.append('{')
        m.iterator.zipWithIndex.foreach { case ((k, e), i) =>
          if (i > 0) sb.append(','); quote(k.toString, sb); sb.append(':'); go(e)
        }
        sb.append('}')
      case i: Int => sb.append(i)
      case other => quote(other.toString, sb)
    }
    go(v)
    sb.toString
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}
