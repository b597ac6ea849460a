package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result, computed the same way
  * by `perfbench/results.py` over DuckDB's answer: columns in name order,
  * each value in a type-tagged text form (doubles by their IEEE bits,
  * timestamps as epoch microseconds), rows sorted by their UTF-8 bytes,
  * SHA-256 over the rows joined by newlines. Holding only the digest keeps
  * result rows out of the heap the benchmark measures. */
object Digest {

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val encoded = rows.map { r =>
      order.map(i => value(r.get(i))).mkString("\u0001").getBytes(UTF_8)
    }
    java.util.Arrays.sort(encoded, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    encoded.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(e)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def value(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => if (b) "B1" else "B0"
    case x: java.lang.Byte => "I" + x
    case x: java.lang.Short => "I" + x
    case x: java.lang.Integer => "I" + x
    case x: java.lang.Long => "I" + x
    case x: java.lang.Float => dbl(x.doubleValue)
    case x: java.lang.Double => dbl(x)
    case x: java.math.BigDecimal => "M" + plain(x)
    case x: scala.math.BigDecimal => "M" + plain(x.bigDecimal)
    case s: String => "S" + s
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "A" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "A" + d.toEpochDay
    case other => "X" + other.toString
  }

  private def dbl(d: Double): String =
    "D" + java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(if (d == 0.0) 0.0 else d))

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
}
