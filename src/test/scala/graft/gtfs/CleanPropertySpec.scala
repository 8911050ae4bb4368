package graft.gtfs

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generative properties for the subtle cleaning transforms:
  * C8 (minimize-services) must preserve the expanded date set exactly,
  * C9 (minimize-stoptimes) must preserve the departure multiset when
  * folded frequencies are re-expanded, and C10 (delete-orphans) must
  * leave every reference resolved and every kept row used, as a fixed
  * point. Random inputs, fixed seed. */
class CleanPropertySpec extends SparkSpec {

  implicit lazy val s: SparkSession = spark
  import spark.implicits._

  test("C8 property: expansion preserved on random calendars (10 cases)") {
    val rnd = new scala.util.Random(11)
    (1 to 10).foreach { case_i =>
      val nSvc = 1 + rnd.nextInt(5)
      val cal = (1 to nSvc).map { i =>
        val mask = Array.fill(7)(if (rnd.nextBoolean()) 1 else 0)
        if (mask.forall(_ == 0)) mask(rnd.nextInt(7)) = 1
        val start = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(60))
        val end = start.plusDays(1 + rnd.nextInt(40))
        val f = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
        (s"svc$i", mask(0), mask(1), mask(2), mask(3), mask(4), mask(5), mask(6),
          start.format(f), end.format(f))
      }
      val calDf = cal.toDF("service_id", "monday", "tuesday", "wednesday",
        "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
      // random exceptions: adds possibly outside the range, removes inside
      val f = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
      val cd = (1 to nSvc).flatMap { i =>
        val adds = (1 to rnd.nextInt(4)).map { _ =>
          (s"svc$i", java.time.LocalDate.of(2024, 1, 1)
            .plusDays(rnd.nextInt(120)).format(f), 1)
        }
        val removes = (1 to rnd.nextInt(3)).map { _ =>
          (s"svc$i", java.time.LocalDate.of(2024, 1, 1)
            .plusDays(rnd.nextInt(120)).format(f), 2)
        }
        adds ++ removes
      }
      val cdDf = cd.toDF("service_id", "date", "exception_type")
      val feed: Clean.Feed = Map("calendar" -> calDf, "calendar_dates" -> cdDf)

      def expansion(fd: Clean.Feed): Set[(String, String)] =
        Views.serviceDays(fd).collect()
          .map(r => (r.getString(0), r.getDate(1).toString)).toSet

      val before = expansion(feed)
      val after = expansion(Clean.minimizeServices(feed))
      assert(after == before,
        s"case $case_i: minimizeServices changed the date set " +
          s"(missing=${before -- after}, extra=${after -- before})")
    }
  }

  test("C9 property: folded frequencies re-expand to the original departures") {
    val rnd = new scala.util.Random(13)
    val stopRnd = new scala.util.Random(19)
    (1 to 12).foreach { case_i =>
      // one route/service; a headway run of m trips plus noise trips
      val m = 3 + rnd.nextInt(4)
      val headway = 300 * (1 + rnd.nextInt(6))
      val base = 6 * 3600 + rnd.nextInt(3600)
      val runT0s = (0 until m).map(j => base + j * headway)
      // an ADJACENT second run with a different headway, sharing the
      // boundary trip pattern (the dangling-frequencies regression)
      val h2 = 300 * (7 + rnd.nextInt(3))
      val run2T0s =
        if (rnd.nextBoolean())
          (1 to 2 + rnd.nextInt(3)).map(j => runT0s.last + j * h2)
        else Seq.empty
      val noiseT0s = (1 to rnd.nextInt(3)).map(_ => 15 * 3600 + rnd.nextInt(7200))
      def fmt(sec: Int) = f"${sec / 3600}%02d:${sec % 3600 / 60}%02d:${sec % 60}%02d"
      val allT0s = (runT0s ++ run2T0s ++ noiseT0s).distinct
      val trips = allT0s.zipWithIndex.map { case (_, i) => (f"t$i%02d", "r1", "svc1") }
        .toDF("trip_id", "route_id", "service_id")
      // the second stop is sB, or sB:120 with no arrival_time: rendered as
      // stop_id:arr:dep with NULLs skipped, both would read sB:120:120
      val second = allT0s.map(_ => if (stopRnd.nextBoolean()) "sB" else "sB:120")
      val st = allT0s.zipWithIndex.flatMap { case (t0, i) =>
        Seq((f"t$i%02d", fmt(t0), fmt(t0), "sA", 1),
          (f"t$i%02d", if (second(i) == "sB") fmt(t0 + 120) else null, fmt(t0 + 120), second(i), 2))
      }.toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
      val feed: Clean.Feed = Map("trips" -> trips, "stop_times" -> st)

      val folded = Clean.minimizeStopTimes(feed)
      // re-expand: departures of remaining scheduled trips + frequency
      // replicas [start, end) at headway
      val remaining = folded("stop_times").where(col("stop_sequence") === 1)
        .select(GtfsTime.toSeconds(col("departure_time")).cast("int")).as[Int]
        .collect().toSet
      val freqRows = folded.get("frequencies").map(_
        .select(GtfsTime.toSeconds(col("start_time")).cast("int"),
          GtfsTime.toSeconds(col("end_time")).cast("int"),
          col("headway_secs")).as[(Int, Int, Int)].collect().toSeq)
        .getOrElse(Seq.empty)
      val expanded = freqRows.flatMap { case (s0, s1, hw) => s0 until s1 by hw }.toSet
      // a frequency-folded exemplar's own scheduled t0 is also the first replica
      val all = remaining ++ expanded
      assert(all == allT0s.toSet,
        s"case $case_i: departures changed (missing=${allT0s.toSet -- all}, " +
          s"extra=${all -- allT0s.toSet}, freq=$freqRows)")
      // no dangling references: every frequencies.trip_id survives
      val tripIds = folded("trips").select("trip_id").as[String].collect().toSet
      val freqTrips = folded.get("frequencies")
        .map(_.select("trip_id").as[String].collect().toSet).getOrElse(Set.empty)
      assert(freqTrips.subsetOf(tripIds),
        s"case $case_i: dangling frequencies trips ${freqTrips -- tripIds}")
      // every re-expanded departure runs its own trip's stops
      val stopsOf = folded("stop_times").groupBy("trip_id")
        .agg(sort_array(collect_list(struct(col("stop_sequence"), col("stop_id")))).as("s"))
        .select(col("trip_id"), col("s.stop_id")).as[(String, Seq[String])].collect().toMap
      val scheduled = folded("stop_times").where(col("stop_sequence") === 1)
        .select(col("trip_id"), GtfsTime.toSeconds(col("departure_time")).cast("int"))
        .as[(String, Int)].collect().map { case (t, d) => d -> stopsOf(t) }
      val replicas = folded.get("frequencies").toSeq.flatMap(_
        .select(col("trip_id"), GtfsTime.toSeconds(col("start_time")).cast("int"),
          GtfsTime.toSeconds(col("end_time")).cast("int"), col("headway_secs"))
        .as[(String, Int, Int, Int)].collect().toSeq)
        .flatMap { case (t, s0, s1, hw) => (s0 until s1 by hw).map(_ -> stopsOf(t)) }
      val want = allT0s.zip(second).map { case (t0, s) => t0 -> Seq("sA", s) }.toSet
      assert((scheduled ++ replicas).toSet == want,
        s"case $case_i: departures moved to another trip's stops (second stops $second)")
    }
  }

  test("C10 property: references resolve, kept rows are used, a second run is a no-op") {
    val rnd = new scala.util.Random(17)
    var orphanChains = 0
    (1 to 10).foreach { case_i =>
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      // "X" ids reference nothing: dangling route, service, trip and stop
      val routes = (1 to 1 + rnd.nextInt(3)).map(i => s"r$i")
      val services = (1 to 1 + rnd.nextInt(3)).map(i => s"svc$i")
      val (calSvc, cdSvc) = services.partition(_ => rnd.nextBoolean())
      val shapes = (1 to rnd.nextInt(4)).map(i => s"sh$i")
      // level-3 chains (station ← platform ← boarding area) and plain stops
      val nChains = 1 + rnd.nextInt(3)
      val stops: Seq[(String, String)] =
        (1 to nChains).flatMap(i =>
          Seq((s"S$i", null: String), (s"P$i", s"S$i"), (s"B$i", s"P$i"))) ++
          (1 to 1 + rnd.nextInt(3)).map(i => (s"s$i", null: String))
      val trips = (1 to 3 + rnd.nextInt(5)).map { i =>
        (s"t$i", if (rnd.nextInt(5) == 0) "rX" else pick(routes),
          if (rnd.nextInt(5) == 0) "svcX" else pick(services),
          if (shapes.isEmpty || rnd.nextBoolean()) null else pick(shapes))
      }
      val stopIds = stops.map(_._1) :+ "sX"
      val stopTimes = (trips.map(_._1) :+ "tX")
        .filter(_ => rnd.nextInt(4) != 0)
        .flatMap(t => (1 to 1 + rnd.nextInt(3)).map(seq => (t, pick(stopIds), seq)))
      val freqs = (1 to rnd.nextInt(3))
        .map(_ => (pick(trips.map(_._1) :+ "tX"), "06:00:00", "07:00:00", 600))
      val feed: Clean.Feed = Map(
        "routes" -> routes.toDF("route_id"),
        "calendar" -> calSvc.map(s => (s, "20240101", "20241231"))
          .toDF("service_id", "start_date", "end_date"),
        "calendar_dates" -> cdSvc.map(s => (s, "20240101")).toDF("service_id", "date"),
        "shapes" -> shapes.flatMap(sh => Seq((sh, 52.0, 13.0, 1), (sh, 52.1, 13.1, 2)))
          .toDF("shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"),
        "stops" -> stops.toDF("stop_id", "parent_station"),
        "trips" -> trips.toDF("trip_id", "route_id", "service_id", "shape_id"),
        "stop_times" -> stopTimes.toDF("trip_id", "stop_id", "stop_sequence"),
        "frequencies" -> freqs.toDF("trip_id", "start_time", "end_time", "headway_secs"))

      val out = Clean.deleteOrphans(feed).map { case (n, df) => n -> df.localCheckpoint() }
      val tr = out("trips").select("trip_id", "route_id", "service_id", "shape_id")
        .as[(String, String, String, String)].collect().toSeq
      val st = out("stop_times").select("trip_id", "stop_id").as[(String, String)].collect().toSeq
      val kept = out("stops").select("stop_id", "parent_station").as[(String, String)]
        .collect().toMap
      val freqTrips = out("frequencies").select("trip_id").as[String].collect().toSet
      val keptShapes = out("shapes").select("shape_id").as[String].collect().toSet
      val tripIds = tr.map(_._1).toSet
      val ctx = s"case $case_i: trips=$tr stop_times=$st stops=$kept"

      assert(tr.forall(t => routes.contains(t._2) && services.contains(t._3)), ctx)
      assert(st.forall { case (t, s) => tripIds(t) && kept.contains(s) }, ctx)
      assert(st.map(_._1).toSet == tripIds, ctx)
      assert(freqTrips.subsetOf(tripIds), ctx)
      assert(kept.values.forall(p => p == null || kept.contains(p)), ctx)
      // kept stops are exactly the used ones and their parent chains
      val parentOf = stops.toMap
      def up(ids: Set[String]) = ids.flatMap(i => Option(parentOf(i)))
      val used = st.map(_._2).toSet
      assert(kept.keySet == used ++ up(used) ++ up(up(used)), ctx)
      assert(keptShapes == tr.flatMap(t => Option(t._4)).toSet, ctx)
      orphanChains += (1 to nChains).count(i => !kept.contains(s"S$i"))

      val again = Clean.deleteOrphans(out)
      out.foreach { case (n, df) =>
        def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
        assert(rows(again(n)) == rows(df), s"case $case_i: a second run changed $n")
      }
    }
    assert(orphanChains > 0, "no case had a wholly unused stop chain")
  }
}
