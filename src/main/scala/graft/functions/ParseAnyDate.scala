package graft.functions

import java.text.ParseException
import java.time.{DateTimeException, LocalDateTime, ZoneId, ZonedDateTime}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Lenient timestamp parsing in one pass — dateparse's `ParseAny`
  * (reference: sql/lparser.go:137): recognize the layout once from the
  * string's width and separator positions, then parse it once.
  *
  * The layouts and their resolution (the contract [[DateScanner]]
  * keeps; any other shape is NULL):
  *  - `yyyy-MM-dd HH:mm:ss`, `yyyy/MM/dd HH:mm:ss`,
  *    `yyyy-MM-ddTHH:mm:ss`, each optionally with a 1-9 digit fraction
  *    (7-9 digits truncate to µs; 10 or more is NULL); the `T` form also
  *    with a zone `Z` or `±HH:MM`
  *  - `yyyy-MM-dd`, `yyyy/MM/dd`, `MM/dd/yyyy HH:mm:ss`, `yyyyMMdd`
  *  - 9-10 digit epoch seconds, 13 digit epoch millis
  *  - `dd/MMM/yyyy:HH:mm:ss ±HHMM` (access log), `d MMM yyyy HH:mm:ss`
  *    with or without `±HHMM`, RFC1123 `EEE, d MMM yyyy HH:mm:ss ±HHMM`
  *    (the day name is dropped, not checked), RFC822
  *    `dd MMM yy HH:mm ±HHMM`, and the US forms `MMM d, yyyy H:mm:ss`,
  *    `MMM d, yyyy`, `MMMM d, yyyy`; month names are English and
  *    case-insensitive
  *
  * A recognized shape with an impossible value (month 13, Feb 30, hour
  * 24, an offset past ±18:00) is NULL. Input without a zone resolves in
  * the session time zone exactly as Spark's own parser does
  * (`ZonedDateTime.of`: a local time in a DST gap moves forward by the
  * gap, one in an overlap takes the earlier offset).
  *
  * Numeric layouts are read digit by digit: no regex, no string
  * rewrite, no formatter. Zoned input computes µs directly
  * (days-from-civil + time + fraction − offset); zone-less input makes
  * the one `ZonedDateTime.of` call.
  * Month-name layouts make one parse with Spark's own timestamp
  * formatter for the recognized layout, cached per task. Both paths
  * run inside whole-stage codegen.
  */
case class ParseAnyDate(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  @transient private lazy val scanner = new DateScanner(zoneId)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_any_date expects a string argument, got ${child.dataType}")

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "parse_any_date"

  override def withTimeZone(timeZoneId: String): ParseAnyDate =
    copy(timeZoneId = Option(timeZoneId))

  override def nullSafeEval(input: Any): Any = {
    val us = scanner.micros(input.asInstanceOf[UTF8String])
    if (us == DateScanner.NoDate) null else us
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sc = ctx.addReferenceObj("dateScanner", scanner, classOf[DateScanner].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"""
        ${ev.value} = $sc.micros($s);
        ${ev.isNull} = ${ev.value} == ${DateScanner.NoDate}L;
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseAnyDate =
    copy(child = newChild)
}

object ParseAnyDate {
  def apply(c: Column): Column = ColumnShim.column(ParseAnyDate(ColumnShim.expression(c)))
}

/** The layout scanner behind [[ParseAnyDate]], bound to the zone that
  * zone-less input resolves in. `micros` returns [[DateScanner.NoDate]]
  * for anything that is not a valid date in a supported layout.
  */
final class DateScanner(zone: ZoneId) extends Serializable {
  import DateScanner._

  @transient private lazy val formatters = new Array[TimestampFormatter](MonthLayouts.length)

  def micros(s: UTF8String): Long = {
    val b = s.getBytes
    val n = b.length
    if (n < 8) NoDate
    else if (isDigit(b(0)) && isDigit(b(1))) {
      if (n >= 10 && isDigit(b(2)) && isDigit(b(3)) && (b(4) == '-' || b(4) == '/')) isoLike(b, n)
      else if (b(2) == '/' && isDigit(b(3))) usNumeric(b, n)
      else if (isDigit(b(2))) epochOrCompact(b, n)
      else monthName(s, b)
    } else monthName(s, b)
  }

  /** `yyyy?MM?dd` with `?` one of `-` `/`, then optionally
    * ` HH:mm:ss` (either separator) or `THH:mm:ss` (`-` only), a
    * fraction, and with `T` a zone.
    */
  private def isoLike(b: Array[Byte], n: Int): Long = {
    val sep = b(4)
    if (b(7) != sep) return NoDate
    val y = num(b, 0, 4)
    val mo = num(b, 5, 2)
    val d = num(b, 8, 2)
    if (y < 0 || mo < 0 || d < 0) return NoDate
    if (n == 10) return local(y, mo, d, 0, 0, 0, 0)
    val t = b(10)
    if (n < 19 || !(t == ' ' || (t == 'T' && sep == '-')) || b(13) != ':' || b(16) != ':')
      return NoDate
    val h = num(b, 11, 2)
    val mi = num(b, 14, 2)
    val sec = num(b, 17, 2)
    if (h < 0 || mi < 0 || sec < 0) return NoDate
    var i = 19
    var us = 0
    if (i < n && b(i) == '.') {
      i += 1
      val from = i
      while (i < n && isDigit(b(i))) {
        if (i - from < 6) us = us * 10 + (b(i) - '0')
        i += 1
      }
      val k = i - from
      if (k == 0 || k > 9) return NoDate
      if (k < 6) us *= Pow10(6 - k)
    }
    if (i == n) local(y, mo, d, h, mi, sec, us)
    else if (t != 'T') NoDate
    else {
      val off = zoneOffset(b, i, n)
      if (off == NoDate) NoDate else offset(y, mo, d, h, mi, sec, us, off)
    }
  }

  /** `MM/dd/yyyy HH:mm:ss`. */
  private def usNumeric(b: Array[Byte], n: Int): Long = {
    if (n != 19 || b(5) != '/' || b(10) != ' ' || b(13) != ':' || b(16) != ':') return NoDate
    val mo = num(b, 0, 2)
    val d = num(b, 3, 2)
    val y = num(b, 6, 4)
    val h = num(b, 11, 2)
    val mi = num(b, 14, 2)
    val sec = num(b, 17, 2)
    if (mo < 0 || d < 0 || y < 0 || h < 0 || mi < 0 || sec < 0) NoDate
    else local(y, mo, d, h, mi, sec, 0)
  }

  /** A digit run: `yyyyMMdd` (8), epoch seconds (9-10) or epoch millis
    * (13). An epoch may end in one line terminator, which the integer
    * read trims.
    */
  private def epochOrCompact(b: Array[Byte], n: Int): Long = {
    var k = 0
    while (k < n && isDigit(b(k))) k += 1
    if (k == 8 && n == 8) {
      val y = num(b, 0, 4)
      val mo = num(b, 4, 2)
      val d = num(b, 6, 2)
      local(y, mo, d, 0, 0, 0, 0)
    } else if ((k == 9 || k == 10 || k == 13) && lineEnd(b, k, n)) {
      var v = 0L
      var i = 0
      while (i < k) { v = v * 10 + (b(i) - '0'); i += 1 }
      if (k == 13) v * 1000L else v * MicrosPerSecond
    } else NoDate
  }

  /** The month-name layouts: one shape check, then one parse with the
    * layout's formatter.
    */
  private def monthName(s: UTF8String, b: Array[Byte]): Long = {
    var i = 0
    while (i < MonthLayouts.length && !MonthLayouts(i).matches(b)) i += 1
    if (i == MonthLayouts.length) return NoDate
    val layout = MonthLayouts(i)
    var f = formatters(i)
    if (f == null) {
      f = TimestampFormatter(layout.format, zone, LegacyDateFormats.SIMPLE_DATE_FORMAT,
        isParsing = true, forTimestampNTZ = false)
      formatters(i) = f
    }
    try f.parse(s.toString.substring(layout.skip))
    catch { case _: DateTimeException | _: ParseException => NoDate }
  }

  /** A zone-less local time, resolved in `zone` by the call Spark's
    * parser makes.
    */
  private def local(y: Int, mo: Int, d: Int, h: Int, mi: Int, sec: Int, us: Int): Long =
    if (!valid(y, mo, d, h, mi, sec)) NoDate
    else ZonedDateTime.of(LocalDateTime.of(y, mo, d, h, mi, sec), zone).toEpochSecond *
      MicrosPerSecond + us

  private def offset(y: Int, mo: Int, d: Int, h: Int, mi: Int, sec: Int, us: Int,
                     offSec: Long): Long =
    if (!valid(y, mo, d, h, mi, sec)) NoDate
    else epochMicros(y, mo, d, h, mi, sec, us, offSec)
}

object DateScanner {
  /** "Not a date": no supported layout, or an impossible value. */
  final val NoDate = Long.MinValue

  private final val MicrosPerSecond = 1000000L
  private val Pow10 = Array(1, 10, 100, 1000, 10000, 100000, 1000000)

  /** A month-name layout: its shape (`9` a digit, `#` an optional
    * digit, `A` a letter, `~` an optional letter, `+` a sign, anything
    * else itself), the Spark datetime pattern that parses it, and how
    * many leading bytes the parse skips.
    */
  private final case class MonthLayout(shape: String, format: String, skip: Int = 0) {
    def matches(b: Array[Byte]): Boolean = {
      var i = 0
      var j = 0
      while (j < shape.length) {
        val c = shape.charAt(j)
        val here = if (i < b.length) b(i) else 0.toByte
        val ok = c match {
          case '9' | '#' => isDigit(here)
          case 'A' | '~' => isLetter(here)
          case '+'       => here == '+' || here == '-'
          case _         => here == c
        }
        if (ok) i += 1
        else if (c != '#' && c != '~') return false
        j += 1
      }
      i == b.length
    }
  }

  private val MonthLayouts = Array(
    MonthLayout("99/AAA/9999:99:99:99 +9999", "dd/MMM/yyyy:HH:mm:ss Z"),
    MonthLayout("9# AAA 9999 99:99:99", "d MMM yyyy HH:mm:ss"),
    MonthLayout("9# AAA 9999 99:99:99 +9999", "d MMM yyyy HH:mm:ss Z"),
    MonthLayout("AAA, 9# AAA 9999 99:99:99 +9999", "d MMM yyyy HH:mm:ss Z", skip = 5),
    MonthLayout("99 AAA 99 99:99 +9999", "dd MMM yy HH:mm Z"),
    MonthLayout("AAA 9#, 9999 9#:99:99", "MMM d, yyyy H:mm:ss"),
    MonthLayout("AAA 9#, 9999", "MMM d, yyyy"),
    MonthLayout("AAAA~~~~~ 9#, 9999", "MMMM d, yyyy"))

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isLetter(c: Byte): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** `len` digits at `from` as a number, or -1. */
  private def num(b: Array[Byte], from: Int, len: Int): Int = {
    var v = 0
    var i = from
    while (i < from + len) {
      if (!isDigit(b(i))) return -1
      v = v * 10 + (b(i) - '0')
      i += 1
    }
    v
  }

  /** Nothing, or one line terminator, from `i` to the end. */
  private def lineEnd(b: Array[Byte], i: Int, n: Int): Boolean =
    i == n || (i + 1 == n && (b(i) == '\n' || b(i) == '\r')) ||
      (i + 2 == n && b(i) == '\r' && b(i + 1) == '\n')

  /** `Z` or `±HH:MM` from `i` to the end, as offset seconds, or NoDate. */
  private def zoneOffset(b: Array[Byte], i: Int, n: Int): Long =
    if (i + 1 == n && b(i) == 'Z') 0L
    else if (i + 6 == n && (b(i) == '+' || b(i) == '-') && b(i + 3) == ':') {
      val h = num(b, i + 1, 2)
      val m = num(b, i + 4, 2)
      val total = h * 3600 + m * 60
      if (h < 0 || m < 0 || m > 59 || total > 18 * 3600) NoDate
      else if (b(i) == '-') -total else total
    } else NoDate

  private def valid(y: Int, mo: Int, d: Int, h: Int, mi: Int, sec: Int): Boolean =
    y >= 0 && mo >= 1 && mo <= 12 && d >= 1 && d <= monthLength(y, mo) &&
      h >= 0 && h <= 23 && mi >= 0 && mi <= 59 && sec >= 0 && sec <= 59

  private def monthLength(y: Int, mo: Int): Int = mo match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date (y >= 0). */
  private def epochDay(y: Int, mo: Int, d: Int): Long = {
    val yy = if (mo <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * ((mo + 9) % 12) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  private def epochMicros(y: Int, mo: Int, d: Int, h: Int, mi: Int, sec: Int, us: Int,
                          offSec: Long): Long =
    (epochDay(y, mo, d) * 86400L + h * 3600L + mi * 60L + sec - offSec) * MicrosPerSecond + us
}
