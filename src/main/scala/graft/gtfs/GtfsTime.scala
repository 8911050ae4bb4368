package graft.gtfs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** GTFS time semantics (SURVEY.md §7.4 hard part #1).
  *
  * A GTFS time is `H:MM:SS` or `HH:MM:SS` with HH ≥ 24 allowed — it is
  * measured from "noon minus 12h" on the service day, NOT from midnight.
  * For a service day without a DST transition the anchor equals
  * midnight; on a DST day it does not: e.g. Europe/Berlin 2024-03-31
  * (spring forward, day is 23h long) — noon−12h is 00:00 CET, and a
  * departure at 04:00:00 GTFS occurs at 04:00 CEST = 3h of real time
  * after 01:00 CET, i.e. the absolute instant is anchor + 4h regardless
  * of the skipped wall-clock hour.
  *
  * Everything here is plain codegen'd column arithmetic — no UDFs.
  */
object GtfsTime {

  /** Parse a GTFS time string to seconds since the noon−12h anchor.
    * Accepts H:MM:SS and HH+:MM:SS (HH unbounded). NULL-safe. */
  def toSeconds(t: Column): Column = {
    val p = split(t, ":")
    (p.getItem(0).cast("long") * 3600 +
      p.getItem(1).cast("long") * 60 +
      p.getItem(2).cast("long"))
  }

  /** Render seconds back to a zero-padded GTFS time string (HH may
    * exceed 24 — never wrapped). Integer division via floor (secs ≥ 0). */
  def toGtfsString(secs: Column): Column =
    concat(
      lpad(floor(secs / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad(floor((secs % 3600) / 60).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad((secs % 60).cast("long").cast("string"), 2, "0"))

  /** The noon−12h anchor of `serviceDate` in `tz`, as a UTC timestamp:
    * local noon on the service date minus 12 hours. DST-correct: local
    * noon is unambiguous on DST days (transitions happen at night), so
    * anchor = to_utc_timestamp(date + " 12:00:00", tz) − 12h. */
  def anchorUtc(serviceDate: Column, tz: Column): Column =
    to_utc_timestamp(
      concat(date_format(serviceDate, "yyyy-MM-dd"), lit(" 12:00:00")), tz) -
      expr("INTERVAL 12 HOURS")

  /** Absolute UTC event timestamp of `secs` seconds since the noon−12h
    * anchor of a service day in an agency timezone: anchor + seconds of
    * real time (GTFS times are whole seconds, so epoch-long arithmetic
    * is exact). V2 computes both `t_arrival` and `t_departure` here. */
  def absoluteUtc(serviceDate: Column, secs: Column, tz: Column): Column =
    (anchorUtc(serviceDate, tz).cast("long") + secs).cast("timestamp")
}
