package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Engine-neutral hash of a query result, matching `pin.py`'s `canon`:
  * columns in name order, numbers rounded to 9 decimals from their exact
  * binary value, timestamps as UTC wall time to the microsecond, rows
  * sorted; SHA-256 of the lines. */
object Canon {

  def value(v: Any): String = v match {
    case null                        => "NULL"
    case b: Boolean                  => b.toString
    case i: Byte                     => i.toString
    case i: Short                    => i.toString
    case i: Int                      => i.toString
    case l: Long                     => l.toString
    case f: Float                    => num(new JBigDecimal(f.toDouble))
    case d: Double                   => num(new JBigDecimal(d))
    case d: JBigDecimal              => num(d)
    case d: scala.math.BigDecimal    => num(d.bigDecimal)
    case t: java.sql.Timestamp       => ts(t.toLocalDateTime)
    case t: java.time.LocalDateTime  => ts(t)
    case t: java.time.Instant        => ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date            => d.toLocalDate.toString
    case d: java.time.LocalDate      => d.toString
    case r: Row                      => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case xs: Iterable[_]             => xs.map(value).mkString("[", ",", "]")
    case a: Array[_]                 => a.map(value).mkString("[", ",", "]")
    case s: String                   => s
    case other                       => other.toString
  }

  private def num(d: JBigDecimal): String = {
    val q = d.setScale(9, RoundingMode.HALF_EVEN)
    if (q.signum == 0) "0" else q.stripTrailingZeros.toPlainString
  }

  private def ts(t: java.time.LocalDateTime): String =
    t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** (sha256 hex, row count) of `rows` whose columns are named `cols`. */
  def hash(cols: Seq[String], rows: Seq[Row]): (String, Int) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes(UTF_8))
    (md.digest().map(b => f"$b%02x").mkString, rows.size)
  }
}
