package graft.functions

import java.time.{Instant, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.sources.LogSource

/** `parse_any_date` against the shape-gated `try_to_timestamp` cascade
  * it replaced, which lives on here only, as the oracle.
  */
object DateCascade {
  def parseAnyDate(c0: Column): Column = {
    val c = regexp_replace(c0, "(\\.\\d{6})\\d{1,3}", "$1")
    def shaped(shape: String, fmt: String): Column =
      when(c.rlike(shape), try_to_timestamp(c, lit(fmt)))
    coalesce(
      shaped("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$", "yyyy-MM-dd HH:mm:ss"),
      shaped("^\\d{4}/\\d{2}/\\d{2} \\d{2}:\\d{2}:\\d{2}$", "yyyy/MM/dd HH:mm:ss"),
      shaped("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$", "yyyy-MM-dd'T'HH:mm:ss"),
      shaped("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(Z|[+-]\\d{2}:?\\d{2})$",
        "yyyy-MM-dd'T'HH:mm:ssXXX"),
      shaped("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{1,6}$",
        "yyyy-MM-dd HH:mm:ss.SSSSSS"),
      shaped("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{1,6}$",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
      shaped("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{1,6}(Z|[+-]\\d{2}:?\\d{2})$",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
      shaped("^\\d{4}/\\d{2}/\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{1,6}$",
        "yyyy/MM/dd HH:mm:ss.SSSSSS"),
      shaped("^\\d{2}/\\d{2}/\\d{4} \\d{2}:\\d{2}:\\d{2}$", "MM/dd/yyyy HH:mm:ss"),
      shaped("^\\d{4}-\\d{2}-\\d{2}$", "yyyy-MM-dd"),
      shaped("^\\d{4}/\\d{2}/\\d{2}$", "yyyy/MM/dd"),
      shaped("^\\d{2}/[A-Za-z]{3}/\\d{4}:\\d{2}:\\d{2}:\\d{2} [+-]\\d{4}$",
        "dd/MMM/yyyy:HH:mm:ss Z"),
      shaped("^\\d{1,2} [A-Za-z]{3} \\d{4} \\d{2}:\\d{2}:\\d{2}$",
        "d MMM yyyy HH:mm:ss"),
      shaped("^\\d{1,2} [A-Za-z]{3} \\d{4} \\d{2}:\\d{2}:\\d{2} [+-]\\d{4}$",
        "d MMM yyyy HH:mm:ss Z"),
      when(c.rlike("^[A-Za-z]{3}, \\d{1,2} [A-Za-z]{3} \\d{4} \\d{2}:\\d{2}:\\d{2} [+-]\\d{4}$"),
        try_to_timestamp(regexp_replace(c, "^[A-Za-z]{3}, ", ""),
          lit("d MMM yyyy HH:mm:ss Z"))),
      shaped("^\\d{2} [A-Za-z]{3} \\d{2} \\d{2}:\\d{2} [+-]\\d{4}$",
        "dd MMM yy HH:mm Z"),
      shaped("^[A-Za-z]{3} \\d{1,2}, \\d{4} \\d{1,2}:\\d{2}:\\d{2}$",
        "MMM d, yyyy H:mm:ss"),
      shaped("^[A-Za-z]{3} \\d{1,2}, \\d{4}$", "MMM d, yyyy"),
      shaped("^[A-Za-z]{4,9} \\d{1,2}, \\d{4}$", "MMMM d, yyyy"),
      shaped("^\\d{8}$", "yyyyMMdd"),
      when(c.rlike("^\\d{13}$"), timestamp_millis(c.cast(LongType))),
      when(c.rlike("^\\d{9,10}$"), to_timestamp(c.cast(LongType).cast("timestamp"))))
  }
}

class ParseAnyDateSpec extends SparkSpec {
  import spark.implicits._

  private val Zones = Seq("UTC", "America/New_York")

  private def inZone[T](tz: String)(body: => T): T = {
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Every layout the cascade recognizes, from the r02 key and the
    * `LogSourceSpec` fixtures.
    */
  private val Fixtures = Seq(
    "2024-03-05 06:07:08", "2024/03/05 06:07:08", "2024-03-05T06:07:08",
    "2024-03-05", "2024/03/05", "03/05/2024 06:07:08",
    "2024-03-05 06:07:08.123456", "1709618828",
    "05/Mar/2024:06:07:08 +0000", "not a date",
    "1709618828123", "2024-03-05T06:07:08.123456789Z", "2024-03-05T06:07:08.123456789",
    "2024-03-05T06:07:08.123+02:00", "5 Mar 2024 06:07:08", "05 Mar 2024 06:07:08 +0000",
    "Tue, 05 Mar 2024 06:07:08 +0000", "Tue, 05 Mar 2024 08:07:08 +0200",
    "05 Mar 24 06:07 +0000", "05 Mar 24 08:07 +0200", "20240305", "20241399",
    "Mar 5, 2024 06:07:08", "Mar 5, 2024", "January 5, 2024",
    "2024/03/05 06:07:08.5", "2024-03-05T06:07:08+05:30", "2024-03-05T06:07:08Z",
    "Mar 05, 2024 06:07:08")

  /** Malformed and boundary strings. */
  private val Edges = Seq(
    // impossible values in a recognized shape
    "2024-13-05 06:07:08", "2023-02-29 00:00:00", "2024-02-29 00:00:00", "2024-02-30",
    "2024-04-31", "2024-00-10", "2024-01-00", "2024-03-05 24:00:00", "2024-03-05 23:60:00",
    "2024-03-05 23:59:60", "13/05/2024 06:07:08", "20230229", "20241301", "00000101",
    "0000-01-01 00:00:00", "9999-12-31 23:59:59.999999", "32/Mar/2024:06:07:08 +0000",
    "30 Feb 2024 06:07:08", "Feb 30, 2024", "Xyz, 05 Mar 2024 06:07:08 +0000",
    // fraction widths
    "2024-03-05 06:07:08.1", "2024-03-05 06:07:08.12", "2024-03-05 06:07:08.1234567",
    "2024-03-05 06:07:08.12345678", "2024-03-05 06:07:08.123456789",
    "2024-03-05 06:07:08.1234567890", "2024-03-05 06:07:08.", "2024-03-05T06:07:08.1234567+01:00",
    "2024-03-05T06:07:08.12345678Z", "2024/03/05 06:07:08.123456789",
    "2024-03-05T06:07:08.000000001Z",
    // zones
    "2024-03-05T06:07:08+0700", "2024-03-05T06:07:08+07:00", "2024-03-05T06:07:08Z",
    "2024-03-05T06:07:08-07:00", "2024-03-05T06:07:08z", "2024-03-05T06:07:08+18:00",
    "2024-03-05T06:07:08+18:01", "2024-03-05T06:07:08+19:00", "2024-03-05T06:07:08+07:60",
    "2024-03-05T06:07:08-00:00", "2024-03-05 06:07:08Z", "2024-03-05 06:07:08+07:00",
    "2024-03-05T06:07:08.5+0530", "05 Mar 2024 06:07:08 +1800", "05 Mar 2024 06:07:08 +1900",
    "05 Mar 2024 06:07:08 -0000", "05/Mar/2024:06:07:08 +05:30",
    // month-name case and width
    "5 mar 2024 06:07:08", "5 MAR 2024 06:07:08", "mar 5, 2024", "MAR 5, 2024 06:07:08",
    "JANUARY 5, 2024", "january 5, 2024", "Sept 5, 2024", "May 5, 2024", "June 5, 2024",
    "September 30, 2024", "Septembers 5, 2024", "Foo 5, 2024", "05/mar/2024:06:07:08 +0000",
    "tue, 05 mar 2024 06:07:08 +0000", "05 MAR 24 06:07 +0000",
    // 1-digit day / hour
    "Mar 5, 2024 6:07:08", "5 Mar 2024 6:07:08", "2024-3-5", "2024-03-05 6:07:08",
    "3/5/2024 06:07:08", "Mar 5, 2024 06:7:08", "05 Mar 24 6:07 +0000",
    // digit runs
    "170961882", "1709618828", "17096188281", "170961882812", "1709618828123",
    "17096188281234", "000000000", "0000000000000", "1709618828\n", "1709618828123\r\n",
    "20240305\n", "2024030", "202403051",
    // other separators, T-case, whitespace and junk
    "2024/03/05T06:07:08", "2024-03/05", "2024-03-05t06:07:08", "2024-03-05_06:07:08",
    "2024-03-05 06:07:08 ", " 2024-03-05 06:07:08", "2024-03-05 06:07:08\n",
    "", " ", "   ", "\t", "\n", "junk", "2024-03-05 junk!", "１７０９６１８８２８",
    "2024-03-05 06:07:08.12345６", "Mär 5, 2024", "null")

  /** DST boundaries of America/New_York: the 2024 spring gap
    * (02:00-03:00 local does not exist) and fall overlap (01:00-02:00
    * local happens twice), in every zone-less layout.
    */
  private val DstEdges = Seq(
    "2024-03-10 02:30:00", "2024/03/10 02:30:00.250", "2024-03-10T02:00:00", "03/10/2024 02:59:59",
    "10 Mar 2024 02:30:00", "Mar 10, 2024 2:30:00", "2024-03-10 03:00:00",
    "2024-11-03 01:30:00", "2024-11-03T01:30:00.5", "11/03/2024 01:00:00", "3 Nov 2024 01:30:00",
    "Nov 3, 2024 1:59:59", "2024-11-03 02:00:00", "2024-03-10", "20241103")

  /** (scanner, cascade) as epoch µs per input, NULL as None, through
    * generated code (an RDD scan, so nothing folds to a local relation).
    */
  private def both(inputs: Seq[String]): Seq[(String, Option[Long], Option[Long])] = {
    val df: DataFrame = spark.sparkContext.parallelize(inputs, 2).toDF("s")
    df.select(col("s"),
        unix_micros(LogSource.parseAnyDate(col("s"))).as("got"),
        unix_micros(DateCascade.parseAnyDate(col("s"))).as("want"))
      .collect().toSeq
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
  }

  /** The same scanner through interpreted evaluation. */
  private def interpreted(s: String, tz: String): Option[Long] =
    Option(ParseAnyDate(Literal(UTF8String.fromString(s)), Some(tz)).eval())
      .map(_.asInstanceOf[Long])

  private def assertSame(inputs: Seq[String], tz: String): Unit = {
    val rows = both(inputs)
    assert(rows.length == inputs.length)
    val diffs = rows.filter { case (_, got, want) => got != want }
    assert(diffs.isEmpty, s"[$tz] scanner != cascade: ${diffs.mkString("; ")}")
    val interp = rows.filter { case (s, got, _) => interpreted(s, tz) != got }
    assert(interp.isEmpty, s"[$tz] interpreted != generated: ${interp.mkString("; ")}")
  }

  for (tz <- Zones) {
    test(s"parse_any_date equals the cascade on every fixture layout ($tz)") {
      inZone(tz) {
        assertSame(Fixtures, tz)
        val unparsed = both(Fixtures).filter(_._2.isEmpty).map(_._1)
        assert(unparsed == Seq("not a date", "20241399"),
          "every fixture but the two invalid ones must parse")
      }
    }

    test(s"parse_any_date equals the cascade on malformed and edge strings ($tz)") {
      inZone(tz)(assertSame(Edges ++ DstEdges, tz))
    }
  }

  test("DST gap moves forward, overlap takes the earlier offset, as Spark's parser does") {
    inZone("America/New_York") {
      val got = both(Seq("2024-03-10 02:30:00", "2024-11-03 01:30:00")).map(_._2)
      // 02:30 EST does not exist: 03:30 EDT = 07:30Z; 01:30 happens twice:
      // the first, EDT = 05:30Z
      assert(got == Seq(
        Some(Instant.parse("2024-03-10T07:30:00Z").toEpochMilli * 1000),
        Some(Instant.parse("2024-11-03T05:30:00Z").toEpochMilli * 1000)))
    }
  }

  /** Render one instant in every supported layout: zone-less layouts in
    * `zone`, zoned layouts at `offset`.
    */
  private def renderings(us: Long, zone: ZoneId, offset: ZoneOffset): Seq[String] = {
    val inst = Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    val local = inst.atZone(zone)
    val zoned = inst.atOffset(offset)
    def f(p: String) = DateTimeFormatter.ofPattern(p, Locale.US)
    val zoneLess = Seq("yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
      "yyyy-MM-dd HH:mm:ss.SSSSSS", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS", "yyyy/MM/dd HH:mm:ss.SSS",
      "yyyy-MM-dd HH:mm:ss.SSSSSSSSS", "MM/dd/yyyy HH:mm:ss", "yyyy-MM-dd", "yyyy/MM/dd",
      "yyyyMMdd", "d MMM yyyy HH:mm:ss", "dd MMM yyyy HH:mm:ss", "MMM d, yyyy H:mm:ss",
      "MMM d, yyyy", "MMMM d, yyyy").map(p => f(p).format(local))
    val withZone = Seq("yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
      "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX", "yyyy-MM-dd'T'HH:mm:ss.SSXXX",
      "dd/MMM/yyyy:HH:mm:ss Z", "d MMM yyyy HH:mm:ss Z", "EEE, dd MMM yyyy HH:mm:ss Z",
      "dd MMM yy HH:mm Z").map(p => f(p).format(zoned))
    val epochs = Seq((us / 1000000L).toString, (us / 1000L).toString)
    zoneLess ++ withZone ++ epochs
  }

  private val instant: Gen[Long] =
    // 1970 .. 2100 in µs, so epoch seconds have 9-10 digits or fewer
    Gen.choose(0L, 4102444800L * 1000000L)
  private val offset: Gen[ZoneOffset] =
    Gen.choose(-12 * 4, 14 * 4).map(q => ZoneOffset.ofTotalSeconds(q * 900))

  for (tz <- Zones) {
    test(s"property: random instants in every layout parse as the cascade parses them ($tz)") {
      val zone = ZoneId.of(tz)
      val batch = Gen.listOfN(60, Gen.zip(instant, offset))
      val prop = Prop.forAll(batch) { pairs =>
        val inputs = pairs.flatMap { case (us, off) => renderings(us, zone, off) }
        inZone(tz) {
          val rows = both(inputs)
          rows.forall { case (_, got, want) => got == want } &&
            rows.forall { case (s, got, _) => interpreted(s, tz) == got }
        }
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8), prop)
      assert(res.passed, res.status.toString)
    }
  }
}
