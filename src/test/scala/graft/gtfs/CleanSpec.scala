package graft.gtfs

import java.nio.file.Files
import graft.SparkSpec
import graft.pipeline.Import
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Cleaning transforms C2-C16 against the FIXTURES.md §B feed. */
class CleanSpec extends SparkSpec {

  implicit lazy val s: SparkSession = spark

  private lazy val rawFeed: Clean.Feed = {
    val dir = TestFeed.writeTo(Files.createTempDirectory("feed"))
    Import.readFeed(spark, dir)
  }

  private def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[String] = {
    import spark.implicits._
    df.select(c).as[String].collect().toSet
  }

  test("C4 drops the (0,0)-coordinate stop") {
    val f = Clean.checkNullCoords(rawFeed)
    assert(!ids(f("stops"), "stop_id").contains("szero"))
    assert(ids(f("stops"), "stop_id").contains("s1"))
  }

  test("C11 merges attribute-equal agencies and remaps routes") {
    val f = Clean.removeRedundantAgencies(rawFeed)
    assert(ids(f("agency"), "agency_id") == Set("a1"))
    assert(ids(f("routes"), "agency_id") == Set("a1"))
  }

  test("C11 keeps agencies that differ only in a NULL vs a '\u2400null' attribute") {
    import spark.implicits._
    val agency = Seq(("a1", None), ("a2", Some("\u2400null")))
      .map { case (id, phone) => (id, "Transit", phone, "Europe/Berlin") }
      .toDF("agency_id", "agency_name", "agency_phone", "agency_timezone")
    val f = Clean.removeRedundantAgencies(Map("agency" -> agency))
    assert(ids(f("agency"), "agency_id") == Set("a1", "a2"))
  }

  test("C12 merges routes equal after agency remap") {
    val f = Clean.removeRedundantRoutes(Clean.removeRedundantAgencies(rawFeed))
    assert(ids(f("routes"), "route_id") == Set("r1"))
    assert(ids(f("trips"), "route_id") == Set("r1"))
  }

  test("C15 merges duplicate stops and remaps transfers") {
    val f = Clean.removeRedundantStops(rawFeed)
    assert(!ids(f("stops"), "stop_id").contains("s9dup"))
    assert(ids(f("transfers"), "from_stop_id") == Set("s2"))
  }

  test("C13 merges services with identical date sets") {
    val f = Clean.removeRedundantServices(rawFeed)
    val svc = ids(f("calendar_dates"), "service_id")
    assert(svc.contains("svc2") && !svc.contains("svc3"))
  }

  test("C16 merges trips identical in route/service/stop-time sequence") {
    val merged = Clean.removeRedundantTrips(
      Clean.removeRedundantRoutes(Clean.removeRedundantAgencies(rawFeed)))
    val trips = ids(merged("trips"), "trip_id")
    assert(trips.contains("t1") && !trips.contains("t2"))
    assert(!ids(merged("stop_times"), "trip_id").contains("t2"))
  }

  test("C7 simplifies collinear shapes to endpoints") {
    val f = Clean.minShapes(rawFeed, 1e-6)
    val sh1 = f("shapes").where("shape_id = 'sh1'")
    assert(sh1.count() == 2)
  }

  test("C14 merges identical polylines and remaps trips") {
    val f = Clean.removeRedundantShapes(rawFeed)
    assert(ids(f("shapes"), "shape_id") == Set("sh1"))
    import spark.implicits._
    val t4shape = f("trips").where("trip_id = 't4'")
      .select("shape_id").as[String].head()
    assert(t4shape == "sh1")
  }

  test("C10 cascades orphan deletion (missing service → trip → stop_times)") {
    val f = Clean.deleteOrphans(rawFeed)
    assert(!ids(f("trips"), "trip_id").contains("torphan"))
    assert(!ids(f("stop_times"), "trip_id").contains("torphan"))
  }

  test("C10 keeps a used stop's parent chain: boarding area → platform → station") {
    import spark.implicits._
    val stops = Seq[(String, String)](("S", null), ("P", "S"), ("B", "P"), ("X", null))
      .toDF("stop_id", "parent_station")
    def keptStops(usedStop: String): Set[String] = ids(Clean.deleteOrphans(Map(
      "stops" -> stops,
      "routes" -> Seq("r1").toDF("route_id"),
      "calendar_dates" -> Seq(("svc1", "20240101")).toDF("service_id", "date"),
      "trips" -> Seq(("t1", "r1", "svc1")).toDF("trip_id", "route_id", "service_id"),
      "stop_times" -> Seq(("t1", usedStop, 1)).toDF("trip_id", "stop_id", "stop_sequence")
    ))("stops"), "stop_id")
    assert(keptStops("B") == Set("B", "P", "S"))
    assert(keptStops("X") == Set("X"),
      "a station whose platform and boarding area are both unused is an orphan")
  }

  test("C8 minimize-services preserves the expanded date set exactly") {
    val before = Views.serviceDays(rawFeed).where("service_id = 'svc1'")
      .select("svc_date").collect().map(_.getDate(0).toString).toSet
    val f = Clean.minimizeServices(rawFeed)
    val after = Views.serviceDays(f).where("service_id = 'svc1'")
      .select("svc_date").collect().map(_.getDate(0).toString).toSet
    assert(after == before)
    // and the weekly service re-encodes as a calendar row, not 9 dates
    assert(f("calendar").where("service_id = 'svc1'").count() == 1)
  }

  /** C8 over a one-service feed: `calendar` as (mask, start, end) and
    * `calendar_dates` as (date, exception_type). Returns the minimized
    * calendar rows and calendar_dates rows, sorted. */
  private def c8(calendar: Option[(Seq[Int], String, String)], dates: Seq[(String, Int)])
      : (Seq[(String, Seq[Int], String, String)], Seq[(String, String, Int)]) = {
    import spark.implicits._
    val cal = calendar.toSeq.map { case (m, d0, d1) =>
      ("svc", m(0), m(1), m(2), m(3), m(4), m(5), m(6), d0, d1)
    }.toDF("service_id", "monday", "tuesday", "wednesday", "thursday", "friday",
      "saturday", "sunday", "start_date", "end_date")
    val cd = dates.map { case (d, e) => ("svc", d, e) }
      .toDF("service_id", "date", "exception_type")
    val f = Clean.minimizeServices(Map("calendar" -> cal, "calendar_dates" -> cd))
    val days = Seq("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")
    (f("calendar").select((Seq("service_id") ++ days ++ Seq("start_date", "end_date")).map(col): _*)
      .collect().map(r => (r.getString(0), (1 to 7).map(r.getInt), r.getString(8), r.getString(9)))
      .sortBy(_._1).toSeq,
      f("calendar_dates").select("service_id", "date", "exception_type")
        .as[(String, String, Int)].collect().sorted.toSeq)
  }

  private val weekdays = Seq(1, 1, 1, 1, 1, 0, 0)

  test("C8 keeps a LONG service_id's type and its expanded date set") {
    import spark.implicits._
    // service 1 runs Mon-Fri over four weeks (a calendar row), service 2
    // every 8 days (calendar_dates)
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    val days = (0 until 26).map(d0.plusDays(_)).filter(_.getDayOfWeek.getValue <= 5)
      .map(1L -> _) ++ Seq(0, 8, 16).map(d => 2L -> d0.plusDays(d))
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val cd = days.map { case (svc, d) => (svc, d.format(fmt), 1) }
      .toDF("service_id", "date", "exception_type")
    val feed: Clean.Feed = Map("calendar_dates" -> cd)
    val f = Clean.minimizeServices(feed)
    for (n <- Seq("calendar", "calendar_dates"))
      assert(f(n).schema("service_id").dataType == org.apache.spark.sql.types.LongType, n)
    assert(f("calendar").select("service_id").as[Long].collect().toSeq == Seq(1L))
    assert(f("calendar_dates").select("service_id").as[Long].collect().toSet == Set(2L))
    def expansion(fd: Clean.Feed) = Views.serviceDays(fd).select("service_id", "svc_date")
      .as[(Long, java.sql.Date)].collect().map { case (svc, d) => svc -> d.toLocalDate }.toSet
    assert(expansion(f) == days.toSet)
    assert(expansion(feed) == days.toSet)
  }

  test("C8 encodes Mon-Fri over four weeks without its first-day holiday as one calendar row") {
    // 2024-01-01 is a Monday; removing it starts the span on the Tuesday
    assert(c8(Some((weekdays, "20240101", "20240126")), Seq("20240101" -> 2)) ==
      (Seq(("svc", weekdays, "20240102", "20240126")), Nil))
  }

  test("C8 keeps a sparse service's dates in calendar_dates when a mask costs more") {
    // every 8 days: no weekday is run on each of its occurrences
    val dates = Seq("20240101", "20240109", "20240117")
    assert(c8(None, dates.map(_ -> 1)) == (Nil, dates.map(d => ("svc", d, 1))))
    // one date: a calendar row would cost as much
    assert(c8(None, Seq("20240105" -> 1)) == (Nil, Seq(("svc", "20240105", 1))))
  }

  test("C8 leaves a weekday out of the mask when the span never contains it") {
    // Monday 2024-01-01 through Saturday 2024-01-06, every day
    val days = (1 to 6).map(d => f"202401$d%02d" -> 1)
    assert(c8(None, days) == (Seq(("svc", Seq(1, 1, 1, 1, 1, 1, 0), "20240101", "20240106")), Nil))
  }

  test("C8 encodes a mask with added off-mask dates as a calendar row plus exception_type 1 rows") {
    // Mon/Wed/Fri over four weeks, plus Saturday 01-13 and Sunday 01-21
    val mwf = Seq(1, 0, 1, 0, 1, 0, 0)
    assert(c8(Some((mwf, "20240101", "20240126")), Seq("20240113" -> 1, "20240121" -> 1)) ==
      (Seq(("svc", mwf, "20240101", "20240126")),
        Seq(("svc", "20240113", 1), ("svc", "20240121", 1))))
  }

  test("C9 folds constant-headway trips into frequencies") {
    val pre = Clean.removeRedundantRoutes(Clean.removeRedundantAgencies(rawFeed))
    val f = Clean.minimizeStopTimes(pre)
    val trips = ids(f("trips"), "trip_id")
    // t5/t6/t7 (09:00, 09:30, 10:00 — constant 1800s) fold: exemplar
    // t5 survives, t6/t7 drop, a frequencies row appears
    assert(trips.contains("t5") && !trips.contains("t6") && !trips.contains("t7"))
    import spark.implicits._
    val freq = f("frequencies").where("trip_id = 't5'")
      .select("start_time", "end_time", "headway_secs")
      .as[(String, String, Int)].collect()
    assert(freq.toSeq == Seq(("09:00:00", "10:30:00", 1800)))
  }

  /** C9 over one route and service: each trip runs stops s1 then s2, 2
    * minutes apart, from its first departure in `t0s` (seconds; None: a
    * trip with no times). `extraTripsRows` repeats trips rows. Returns
    * the surviving trips rows' ids, sorted, and the frequencies rows. */
  private def c9(t0s: Seq[(String, Option[Int])], extraTripsRows: Seq[String] = Nil)
      : (Seq[String], Seq[(String, String, String, Int, Int)]) = {
    import spark.implicits._
    def fmt(s: Int) = f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d"
    val trips = (t0s.map(_._1) ++ extraTripsRows).map(t => (t, "r1", "svc1"))
      .toDF("trip_id", "route_id", "service_id")
    val st = t0s.flatMap { case (t, t0) =>
      Seq((t, t0.map(fmt).orNull, "s1", 1), (t, t0.map(s => fmt(s + 120)).orNull, "s2", 2))
    }.map { case (t, time, stop, seq) => (t, time, time, stop, seq) }
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
    val f = Clean.minimizeStopTimes(Map("trips" -> trips, "stop_times" -> st))
    (f("trips").select("trip_id").as[String].collect().sorted.toSeq,
      f("frequencies").select("trip_id", "start_time", "end_time", "headway_secs", "exact_times")
        .as[(String, String, String, Int, Int)].collect().sorted.toSeq)
  }

  private def at(h: Int, m: Int): Option[Int] = Some(h * 3600 + m * 60)

  test("C9 folds a run with its predecessor, but not a later adjacent run of two gaps") {
    // a1-a3 are 10 minutes apart and fold with a0; b1, b2 are 15 minutes
    // apart, but their predecessor a3 belongs to the earlier fold, so
    // they would fold only two trips and stay scheduled
    assert(c9(Seq("a0" -> at(6, 0), "a1" -> at(6, 10), "a2" -> at(6, 20), "a3" -> at(6, 30),
      "b1" -> at(6, 45), "b2" -> at(7, 0))) ==
      (Seq("a0", "b1", "b2"), Seq(("a0", "06:00:00", "06:40:00", 600, 1))))
  }

  test("C9 takes the later trip_id of two equal-t0 trips as the run's predecessor") {
    assert(c9(Seq("p1" -> at(7, 0), "p2" -> at(7, 0), "q1" -> at(7, 10), "q2" -> at(7, 20))) ==
      (Seq("p1", "p2"), Seq(("p2", "07:00:00", "07:30:00", 600, 1))))
  }

  test("C9 keeps trips with no times scheduled") {
    assert(c9(Seq("n1" -> None, "n2" -> None, "a" -> at(8, 0), "b" -> at(8, 15),
      "c" -> at(8, 30))) ==
      (Seq("a", "n1", "n2"), Seq(("a", "08:00:00", "08:45:00", 900, 1))))
  }

  test("C9 with a duplicated trips row: a repeated last trip ends the run, a repeated middle trip splits it") {
    val t0s = Seq("d0" -> at(9, 0), "d1" -> at(9, 5), "d2" -> at(9, 10))
    assert(c9(t0s, extraTripsRows = Seq("d2")) ==
      (Seq("d0"), Seq(("d0", "09:00:00", "09:15:00", 300, 1))))
    assert(c9(t0s, extraTripsRows = Seq("d1")) == (Seq("d0", "d1", "d1", "d2"), Nil))
  }

  test("C16 keeps trips whose route and service ids differ only in where a '#' falls") {
    import spark.implicits._
    val feed: Clean.Feed = Map(
      "trips" -> Seq(("t1", "a#b", "c"), ("t2", "a", "b#c"))
        .toDF("trip_id", "route_id", "service_id"),
      "stop_times" -> Seq("t1", "t2").flatMap(t => Seq(
        (t, "08:00:00", "08:00:00", "s1", 1), (t, "08:10:00", "08:10:00", "s2", 2)))
        .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"))
    assert(ids(Clean.removeRedundantTrips(feed)("trips"), "trip_id") == Set("t1", "t2"))
  }

  /** A one-route, one-service feed from stop_times rows (trip, stop,
    * stop_sequence, arrival_time, departure_time; None: an empty time). */
  private def tripsFeed(st: Seq[(String, String, Int, Option[String], Option[String])])
      : Clean.Feed = {
    import spark.implicits._
    Map("trips" -> st.map(_._1).distinct.map(t => (t, "r1", "svc1"))
        .toDF("trip_id", "route_id", "service_id"),
      "stop_times" -> st
        .map { case (t, stop, seq, arr, dep) => (t, arr.orNull, dep.orNull, stop, seq) }
        .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"))
  }

  /** Trip `t` at `h`:`m`: stop s1 at t0, then `stop` at t0 + 60 s, or
    * with no arrival_time when `noArrival`, departing at t0 + 120 s. */
  private def twoStops(t: String, h: Int, m: Int, stop: String, noArrival: Boolean = false) = {
    def fmt(sec: Int) = f"${sec / 3600}%02d:${sec % 3600 / 60}%02d:${sec % 60}%02d"
    val t0 = h * 3600 + m * 60
    Seq((t, "s1", 1, Some(fmt(t0)), Some(fmt(t0))),
      (t, stop, 2, if (noArrival) None else Some(fmt(t0 + 60)), Some(fmt(t0 + 120))))
  }

  private def stopTimes(f: Clean.Feed): Seq[(String, String)] = {
    import spark.implicits._
    f("stop_times").select("trip_id", "stop_id").as[(String, String)].collect().sorted.toSeq
  }

  test("C16 keeps a trip at 'a:60' with no arrival_time apart from one at 'a' at +60 s") {
    // rendered as stop_id:arr:dep with NULLs skipped, both second stops read a:60:120
    val f = Clean.removeRedundantTrips(tripsFeed(
      twoStops("t1", 8, 0, "a:60", noArrival = true) ++ twoStops("t2", 8, 0, "a")))
    assert(ids(f("trips"), "trip_id") == Set("t1", "t2"))
    assert(stopTimes(f) == Seq(("t1", "a:60"), ("t1", "s1"), ("t2", "a"), ("t2", "s1")))
  }

  test("C16 keeps trips with no departure time, whatever their arrivals") {
    val f = Clean.removeRedundantTrips(tripsFeed(Seq(
      ("n1", "s1", 1, Some("08:00:00"), None), ("n1", "s2", 2, Some("08:10:00"), None),
      ("n2", "s1", 1, Some("09:00:00"), None), ("n2", "s2", 2, Some("09:10:00"), None))))
    assert(ids(f("trips"), "trip_id") == Set("n1", "n2"))
    assert(stopTimes(f) == Seq(("n1", "s1"), ("n1", "s2"), ("n2", "s1"), ("n2", "s2")))
  }

  test("C9 does not fold a trip at 'a:60' with no arrival_time with trips at 'a' at +60 s") {
    import spark.implicits._
    val f = Clean.minimizeStopTimes(tripsFeed(twoStops("u1", 8, 0, "a:60", noArrival = true) ++
      twoStops("u2", 8, 10, "a") ++ twoStops("u3", 8, 20, "a")))
    assert(f("trips").select("trip_id").as[String].collect().sorted.toSeq == Seq("u1", "u2", "u3"))
    assert(f("frequencies").count() == 0)
  }

  test("cleaned feed writes back as GTFS CSV (tidied.gtfs parity) and re-reads") {
    val out = Files.createTempDirectory("tidied")
    val cleaned = Map(
      "stops" -> rawFeed("stops"),
      "routes" -> rawFeed("routes"))
    Import.writeFeedCsv(cleaned, out)
    assert(Files.exists(out.resolve("stops.txt")))
    val reread = Import.readFeed(spark, out)
    assert(reread("stops").count() == rawFeed("stops").count())
    assert(ids(reread("routes"), "route_id") == ids(rawFeed("routes"), "route_id"))
  }

  test("full Clean pipeline runs end-to-end and keeps the feed consistent") {
    val f = Clean(rawFeed)
    val trips = ids(f("trips"), "trip_id")
    val stTrips = ids(f("stop_times"), "trip_id")
    assert(trips == stTrips, "every trip has stop_times and vice versa")
    assert(!trips.contains("torphan"))
    // all stop_times reference surviving stops
    val stops = ids(f("stops"), "stop_id")
    assert(ids(f("stop_times"), "stop_id").subsetOf(stops))
  }
}
