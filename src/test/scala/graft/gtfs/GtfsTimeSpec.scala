package graft.gtfs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SURVEY.md §5.2: GTFS time >24:00:00 and DST transitions (§7.4 hard
  * part #1). */
class GtfsTimeSpec extends SparkSpec {
  import spark.implicits._

  private def secondsOf(t: String): Long =
    Seq(t).toDF("t").select(GtfsTime.toSeconds(col("t"))).as[Long].head()

  test("parses plain and >24:00:00 GTFS times") {
    assert(secondsOf("08:00:00") == 8 * 3600)
    assert(secondsOf("25:10:00") == 25 * 3600 + 600)
    assert(secondsOf("7:05:09") == 7 * 3600 + 5 * 60 + 9)
    assert(secondsOf("48:00:01") == 48 * 3600 + 1)
  }

  test("renders seconds back to GTFS strings without wrapping") {
    val out = Seq(25 * 3600 + 610L, 8 * 3600L).toDF("s")
      .select(GtfsTime.toGtfsString(col("s"))).as[String].collect()
    assert(out.toSeq == Seq("25:10:10", "08:00:00"))
  }

  private def epochOf(date: String, t: String, tz: String): Long =
    Seq((date, t)).toDF("d", "t")
      .select(GtfsTime.absoluteUtc(to_date(col("d")), GtfsTime.toSeconds(col("t")), lit(tz))
        .cast("long"))
      .as[Long].head()

  test("normal day: anchor is local midnight (Berlin CET = UTC+1)") {
    // 2024-03-30 08:00 Berlin (CET) = 07:00 UTC
    assert(epochOf("2024-03-30", "08:00:00", "Europe/Berlin") ==
      java.time.Instant.parse("2024-03-30T07:00:00Z").getEpochSecond)
  }

  test("DST spring-forward day: noon−12h anchor, not midnight") {
    // 2024-03-31 Berlin: noon is 12:00 CEST = 10:00Z; anchor = 10:00Z−12h
    // = 2024-03-30T22:00Z. A "04:00:00" departure is anchor + 4h =
    // 02:00Z = 04:00 CEST — 3h of real time after "01:00:00", because
    // the 02:00 CET wall-clock hour does not exist.
    val anchor = java.time.Instant.parse("2024-03-30T22:00:00Z").getEpochSecond
    assert(epochOf("2024-03-31", "04:00:00", "Europe/Berlin") == anchor + 4 * 3600)
    assert(epochOf("2024-03-31", "01:00:00", "Europe/Berlin") == anchor + 1 * 3600)
  }

  test("DST fall-back day: 25h day, >24:00:00 rolls into the next day") {
    // 2024-10-27 Berlin: noon is 12:00 CET = 11:00Z; anchor = 23:00Z on
    // 10-26. "25:00:00" = anchor + 25h = 2024-10-28T00:00Z = 01:00 CET.
    val anchor = java.time.Instant.parse("2024-10-26T23:00:00Z").getEpochSecond
    assert(epochOf("2024-10-27", "25:00:00", "Europe/Berlin") == anchor + 25 * 3600)
  }

  test(">24:00 time lands on the service day, not the calendar day") {
    // 25:10 on service day 2024-03-04 (UTC tz) = 01:10 on 03-05
    assert(epochOf("2024-03-04", "25:10:00", "UTC") ==
      java.time.Instant.parse("2024-03-05T01:10:00Z").getEpochSecond)
  }
}
