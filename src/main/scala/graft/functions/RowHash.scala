package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateFormatter, TimestampFormatter}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's row hash (O-8, utils/dataframe_operations.py:73-90)
  * in ONE codegen'd pass: the bytes of
  * `md5(concat('(', concat_ws(',', coalesce(cast(c as string), '')…), ')'))`
  * without a per-column string, a concat or a second copy.
  *
  * Each row's reference text is written into one reused per-task
  * buffer ([[RowHashBuffer]]), digested by a reused MD5 and
  * hex-encoded into a 32-byte string. The types the reference tables
  * carry are formatted straight into the buffer, exactly as
  * `Cast(_, StringType)` would print them: integral, boolean, string,
  * decimals of precision <= 18, dates, and timestamps in a fixed-offset
  * session zone. Every other type (double, float, wide decimals,
  * timestamps in a zone with transitions, TIMESTAMP_NTZ, binary, nested
  * types) goes through Spark's own `Cast(_, StringType)` and its bytes
  * are copied; so are date and timestamp values outside years 1-9999,
  * through the formatters that cast uses.
  *
  * `evalMode` and `legacyDates` pin the two session settings that
  * change a cast's text (plain vs scientific decimals; the legacy date
  * formatter), read on the driver when the column is built, as the
  * Column API's own `cast` does.
  */
case class RowHash(children: Seq[Expression], evalMode: EvalMode.Value,
                   legacyDates: Boolean, timeZoneId: Option[String] = None)
    extends Expression with TimeZoneAwareExpression {
  import RowHash._

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "row_hash"

  override def withTimeZone(tz: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(tz))

  /** Offset of a fixed-offset session zone in microseconds. */
  @transient private lazy val fixedOffsetMicros: Option[Long] = {
    val rules = zoneId.getRules
    if (rules.isFixedOffset)
      Some(rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000000L)
    else None
  }

  @transient private lazy val kinds: Array[Int] = children.map(c => c.dataType match {
    case ByteType | ShortType | IntegerType | LongType => Integral
    case BooleanType => Bool
    case _: StringType => Text
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => Dec
    case DateType if !legacyDates => Date
    case TimestampType if fixedOffsetMicros.isDefined => Timestamp
    case _ => Fallback
  }).toArray

  /** What each column's value comes from: the column, or its cast. */
  @transient private lazy val parts: Array[Expression] = children.zip(kinds).map {
    case (c, Fallback) => Cast(c, StringType, timeZoneId, evalMode)
    case (c, _) => c
  }.toArray

  /** A fresh per-task buffer; called once per generated class or per
    * deserialized expression, never per row. */
  def newBuffer(): RowHashBuffer =
    new RowHashBuffer(evalMode == EvalMode.ANSI, zoneId, fixedOffsetMicros.getOrElse(0L))

  @transient private lazy val buffer = newBuffer()

  override def eval(input: InternalRow): Any = {
    val b = buffer
    b.open()
    var i = 0
    while (i < parts.length) {
      if (i > 0) b.comma()
      val v = parts(i).eval(input)
      if (v != null) kinds(i) match {
        case Integral => b.appendLong(v.asInstanceOf[Number].longValue)
        case Bool => b.appendBoolean(v.asInstanceOf[Boolean])
        case Dec => b.appendDecimal(v.asInstanceOf[Decimal])
        case Date => b.appendDate(v.asInstanceOf[Int])
        case Timestamp => b.appendTimestamp(v.asInstanceOf[Long])
        case _ => b.appendUTF8(v.asInstanceOf[UTF8String])
      }
      i += 1
    }
    b.close()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rowHash", this)
    val buf = ctx.addMutableState(classOf[RowHashBuffer].getName, "rowHashBuf",
      v => s"$v = $self.newBuffer();")
    val columns = parts.indices.map { i =>
      val e = parts(i).genCode(ctx)
      val append = kinds(i) match {
        case Integral => "appendLong"
        case Bool => "appendBoolean"
        case Dec => "appendDecimal"
        case Date => "appendDate"
        case Timestamp => "appendTimestamp"
        case _ => "appendUTF8"
      }
      s"""${if (i > 0) s"$buf.comma();" else ""}
         |${e.code}
         |if (!${e.isNull}) { $buf.$append(${e.value}); }""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(columns, funcName = "rowHashColumns")
    ev.copy(code = code"""
      |$buf.open();
      |$body
      |UTF8String ${ev.value} = $buf.close();""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RowHash = copy(children = newChildren)
}

object RowHash {
  private final val Integral = 0
  private final val Bool = 1
  private final val Text = 2
  private final val Dec = 3
  private final val Date = 4
  private final val Timestamp = 5
  private final val Fallback = 6

  /** Column API: the reference's md5 row hash over `cols`. */
  def rowHash(cols: Seq[Column]): Column = {
    val conf = SQLConf.get
    ColumnBridge.column(RowHash(cols.map(ColumnBridge.expression),
      EvalMode.fromSQLConf(conf),
      conf.legacyTimeParserPolicy == LegacyBehaviorPolicy.LEGACY))
  }
}

/** One task's scratch for [[RowHash]]: the row's text, its digest and
  * the formatters of out-of-range dates. Not thread-safe; one per task.
  *
  * @param plainDecimals print decimals as `toPlainString` (ANSI casts)
  *                      rather than `toString` (scientific below 1e-6)
  * @param zone          the session zone, for out-of-range timestamps
  * @param offsetMicros  the zone's fixed offset
  */
final class RowHashBuffer(plainDecimals: Boolean, zone: java.time.ZoneId,
                          offsetMicros: Long) {
  private var buf = new Array[Byte](256)
  private var len = 0
  private val md5 = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  private lazy val dateFormatter = DateFormatter()
  private lazy val timestampFormatter = TimestampFormatter.getFractionFormatter(zone)

  private def reserve(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  private def put(b: Char): Unit = { reserve(1); buf(len) = b.toByte; len += 1 }

  private def putAscii(s: String): Unit = {
    reserve(s.length)
    var i = 0
    while (i < s.length) { buf(len + i) = s.charAt(i).toByte; i += 1 }
    len += s.length
  }

  /** `v` (>= 0) as exactly `width` digits, zero-padded on the left. */
  private def putDigits(v: Long, width: Int): Unit = {
    reserve(width)
    var x = v
    var i = len + width - 1
    while (i >= len) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    len += width
  }

  private def digitCount(v: Long): Int = {
    var n = 1
    var x = v
    while (x >= 10) { x /= 10; n += 1 }
    n
  }

  def open(): Unit = { len = 0; put('(') }

  def comma(): Unit = put(',')

  /** Closes the row and returns its lower-case hex MD5. */
  def close(): UTF8String = {
    put(')')
    md5.update(buf, 0, len)
    md5.digest(digest, 0, 16)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = RowHashBuffer.Hex((digest(i) >> 4) & 0xf)
      hex(2 * i + 1) = RowHashBuffer.Hex(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  def appendLong(v: Long): Unit =
    if (v == Long.MinValue) putAscii("-9223372036854775808")
    else {
      if (v < 0) put('-')
      val a = math.abs(v)
      putDigits(a, digitCount(a))
    }

  def appendBoolean(v: Boolean): Unit = putAscii(if (v) "true" else "false")

  def appendUTF8(s: UTF8String): Unit = {
    val n = s.numBytes()
    reserve(n)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
    len += n
  }

  /** A decimal of precision <= 18 as `java.math.BigDecimal` prints it:
    * `toPlainString`, or `toString`'s E-notation once the adjusted
    * exponent falls below -6. */
  def appendDecimal(d: Decimal): Unit = {
    val unscaled = d.toUnscaledLong
    val scale = d.scale
    if (scale == 0) { appendLong(unscaled); return }
    if (unscaled < 0) put('-')
    val a = math.abs(unscaled)
    val digits = digitCount(a)
    val adjusted = digits - 1 - scale
    if (!plainDecimals && adjusted < -6) {
      val lead = RowHashBuffer.Pow10(digits - 1)
      putDigits(a / lead, 1)
      if (digits > 1) { put('.'); putDigits(a % lead, digits - 1) }
      put('E')
      appendLong(adjusted)
    } else if (digits <= scale) {
      putAscii("0.")
      putDigits(a, scale)
    } else {
      val unit = RowHashBuffer.Pow10(scale)
      putDigits(a / unit, digits - scale)
      put('.')
      putDigits(a % unit, scale)
    }
  }

  /** `yyyy-MM-dd` of a proleptic Gregorian epoch day in years 1-9999. */
  private def putCivilDate(days: Long): Unit = {
    // days-to-civil over 400-year eras (Howard Hinnant's algorithm)
    val z = days + 719468
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    putDigits(year, 4); put('-'); putDigits(month, 2); put('-'); putDigits(day, 2)
  }

  private def inYearRange(days: Long): Boolean =
    days >= RowHashBuffer.FirstDay && days <= RowHashBuffer.LastDay

  def appendDate(days: Int): Unit =
    if (inYearRange(days)) putCivilDate(days)
    else appendUTF8(UTF8String.fromString(dateFormatter.format(days)))

  /** `yyyy-MM-dd HH:mm:ss[.ffffff]` in the fixed-offset zone, trailing
    * zeros of the fraction dropped. */
  def appendTimestamp(micros: Long): Unit = {
    val perDay = 86400000000L
    val local = Math.floorMod(micros, perDay) + offsetMicros
    val days = Math.floorDiv(micros, perDay) + Math.floorDiv(local, perDay)
    if (!inYearRange(days)) {
      appendUTF8(UTF8String.fromString(timestampFormatter.format(micros)))
      return
    }
    val ofDay = Math.floorMod(local, perDay)
    putCivilDate(days)
    put(' ')
    val secs = ofDay / 1000000
    putDigits(secs / 3600, 2); put(':'); putDigits(secs / 60 % 60, 2); put(':')
    putDigits(secs % 60, 2)
    var frac = ofDay % 1000000
    if (frac != 0) {
      var width = 6
      while (frac % 10 == 0) { frac /= 10; width -= 1 }
      put('.')
      putDigits(frac, width)
    }
  }
}

object RowHashBuffer {
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")
  private val Pow10 = Array.iterate(1L, 19)(_ * 10)
  /** Epoch days of 0001-01-01 and 9999-12-31. */
  private val FirstDay = -719162L
  private val LastDay = 2932896L
}
