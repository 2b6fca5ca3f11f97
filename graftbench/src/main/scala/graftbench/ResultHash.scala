package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent, type-stable digest of a query result.
  *
  * Each value is rendered canonically, so equal values of different
  * physical types render the same (Int 2, Long 2, Decimal 2.00 and
  * Double 2.0 are all "2"; a Timestamp and the Instant it denotes are
  * the same microsecond count). A row hashes to the first 8 bytes of
  * the MD5 of its rendering, and a result is the row count plus the
  * wrapping sum of its row hashes: the multiset of rows, independent
  * of their order.
  */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object ResultHash {

  private def number(b: java.math.BigDecimal): String = {
    val s = b.stripTrailingZeros
    (if (s.scale < 0) s.setScale(0) else s).toPlainString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def canon(v: Any): String = v match {
    case null => "␀"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => canon(x.toDouble)
    case x: Double =>
      if (x.isNaN || x.isInfinite) x.toString
      else number(new java.math.BigDecimal(x))
    case x: java.math.BigDecimal => number(x)
    case x: scala.math.BigDecimal => number(x.bigDecimal)
    case x: java.math.BigInteger => x.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case t: java.sql.Timestamp => "ts" + micros(t.toInstant)
    case t: java.time.Instant => "ts" + micros(t)
    case t: java.time.LocalDateTime => "ts" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val d = MessageDigest.getInstance("MD5").digest(canon(r).getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def of(rows: Iterable[Row]): Digest = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Digest(n, sum)
  }
}
