package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate, LocalTime, ZoneId}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable
import scala.util.{Random, Using}

/** Seeded GTFS feed generator with an answer key.
  *
  * The feed follows the shapes of the program's test fixture (duplicate
  * agency, stations with platforms, >24:00 trips, frequencies, collinear
  * shape points) at a chosen size, and gives every cleaning stage work
  * at fixed rates. Alongside the CSV text it computes, in plain Scala
  * and independently of the program, what the cleaned import must hold:
  * the row count per entity and every departure event of the published
  * `arrivals_departures` view (absolute instants via `java.time` in
  * Europe/Berlin, whose DST change on 2024-03-31 lies inside the span).
  *
  * Dirt and the stage that must remove it:
  *  - C2: invalid pickup_type values;      C3: stop_times rows without stop_id
  *  - C4: stops at (0,0);                  C11: an attribute-equal agency
  *  - C15: attribute-equal platform copies referenced by some trips
  *  - C12: attribute-equal route copies (on the duplicate agency)
  *  - C13: a service with the same date set as the weekday service
  *  - C8: every service is re-encoded (the answer key replays the rule)
  *  - C9: per route, one block of trips at constant headway folds into
  *        frequencies; all other trips differ in running time so they
  *        never fold (`foldFrac` of trips fold)
  *  - C7: two collinear points between consecutive shape vertices
  *  - C14: shape copies;  C16: exact trip copies on the route copy
  *  - C10: trips on a missing service, unreferenced stops and shapes
  */
object FeedGen {

  /** Feed shape: `foldFrac` of each route's trips fold under C9;
    * `freqFrac` of the other trips run `freqReplicas` times from one
    * frequencies.txt row, which multiplies V2 rows but not input rows. */
  final case class Sizes(routes: Int, tripsPerRoute: Int, stopsPerTrip: Int,
      stations: Int, foldFrac: Double, freqFrac: Double, freqReplicas: Int)

  val Tz: ZoneId = ZoneId.of("Europe/Berlin")
  val SpanStart: LocalDate = LocalDate.of(2024, 3, 18) // Monday
  val SpanEnd: LocalDate = LocalDate.of(2024, 4, 14)   // Sunday
  val DstDay: LocalDate = LocalDate.of(2024, 3, 31)
  private val Holidays = Seq(LocalDate.of(2024, 3, 29), LocalDate.of(2024, 4, 1))
  /** Epoch second all packed event times are relative to. */
  val BaseEpoch: Long = LocalDate.of(2024, 3, 1).atStartOfDay(Tz).toEpochSecond

  /** The generated feed plus its answer key. */
  final class Feed(
      val files: Map[String, String],
      val expectedRows: Map[String, Long],
      val stationIds: IndexedSeq[String],     // board keys, in Zipf rank order
      val stationLat: Array[Double],
      val stationLon: Array[Double],
      val routeIds: IndexedSeq[String],
      val platformIds: IndexedSeq[String],    // by platform index
      val keptStops: IndexedSeq[(String, Double, Double)], // post-clean stops
      /** station → packed departure events, sorted; see [[pack]] */
      val boards: Map[String, Array[Long]],
      /** (route index × days.size + day index) → V2 rows of that route and service day */
      val routeDayRows: Array[Long],
      val days: IndexedSeq[LocalDate]) {
    def inputStopTimes: Long = files("stop_times.txt").count(_ == '\n') - 1L
  }

  /** Packed event: (epoch − BaseEpoch) in the high 32 bits, platform
    * index and route index below. Both indexes sort like their ids, so
    * sorting packed values orders by (t_departure, stop_id, route_id). */
  def pack(epoch: Long, plat: Int, route: Int): Long =
    ((epoch - BaseEpoch) << 32) | (plat.toLong << 16) | route.toLong
  def epochOf(p: Long): Long = (p >>> 32) + BaseEpoch
  def platOf(p: Long): Int = ((p >>> 16) & 0xffff).toInt
  def routeOf(p: Long): Int = (p & 0xffff).toInt

  /** Local noon minus 12 h: the instant GTFS times on `d` count from. */
  def anchor(d: LocalDate): Long =
    d.atTime(LocalTime.NOON).atZone(Tz).toEpochSecond - 12 * 3600

  private def gtfsTime(s: Int): String = f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  private def ymd(d: LocalDate): String = f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
  private def coord(x: Double): String = f"$x%.6f"

  private val Weekdays = Seq(DayOfWeek.MONDAY, DayOfWeek.TUESDAY, DayOfWeek.WEDNESDAY,
    DayOfWeek.THURSDAY, DayOfWeek.FRIDAY)

  /** Service id → (weekly mask Mon..Sun, added dates, removed dates). */
  private val Services: Seq[(String, Seq[DayOfWeek], Seq[LocalDate], Seq[LocalDate])] = Seq(
    ("wk", Weekdays, Nil, Holidays),
    ("wk~", Weekdays, Nil, Holidays), // C13: same date set as wk
    ("sa", Seq(DayOfWeek.SATURDAY), Seq(SpanEnd.plusDays(3)), Nil), // an added Tuesday
    ("su", Seq(DayOfWeek.SUNDAY), Holidays, Nil),
    ("dly", DayOfWeek.values.toSeq, Nil, Nil),
    ("nv", Seq(DayOfWeek.WEDNESDAY), Nil, Nil)) // used by no trip

  private def dateSet(mask: Seq[DayOfWeek], add: Seq[LocalDate], rem: Seq[LocalDate]): Set[LocalDate] = {
    val cal = Iterator.iterate(SpanStart)(_.plusDays(1)).takeWhile(!_.isAfter(SpanEnd))
      .filter(d => mask.contains(d.getDayOfWeek)).toSet
    (cal ++ add) -- rem
  }

  /** C8's encoding rule replayed on one date set: (calendar rows,
    * calendar_dates rows). A weekday is in the mask only if the service
    * runs on every occurrence of it within [min, max]. */
  private def minimizedRows(dates: Set[LocalDate]): (Long, Long) =
    if (dates.isEmpty) (0L, 0L) else {
      val d0 = dates.min; val d1 = dates.max
      val span = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
      val mask = DayOfWeek.values.filter { dw =>
        val possible = span.count(_.getDayOfWeek == dw)
        possible > 0 && dates.count(_.getDayOfWeek == dw) == possible
      }.toSet
      val covered = dates.count(d => mask.contains(d.getDayOfWeek))
      val useCalendar = 1 + (dates.size - covered) < dates.size && covered > 0
      if (useCalendar) (1L, (dates.size - covered).toLong) else (0L, dates.size.toLong)
    }

  /** Write `files` as a zip with fixed entry times (same feed ⇒ same bytes). */
  def writeZip(files: Map[String, String], out: Path): Path = {
    Files.createDirectories(out.getParent)
    Using.resource(new ZipOutputStream(Files.newOutputStream(out))) { zos =>
      files.toSeq.sortBy(_._1).foreach { case (name, text) =>
        val e = new ZipEntry(name)
        e.setTime(0L)
        zos.putNextEntry(e)
        zos.write(text.getBytes("UTF-8"))
        zos.closeEntry()
      }
    }
    out
  }

  def generate(seed: Long, sz: Sizes): Feed = {
    val rnd = new Random(seed)
    val R = sz.routes; val T = sz.tripsPerRoute; val S = sz.stopsPerTrip; val NS = sz.stations
    require(S >= 3 && S <= NS && NS < 32768 && R < 65536 && T < 1000)

    // ---- stations and platforms ------------------------------------
    val stLat = Array.fill(NS)(coord(48.6 + rnd.nextDouble() * 0.4))
    val stLon = Array.fill(NS)(coord(8.9 + rnd.nextDouble() * 0.6))
    def stationId(i: Int) = f"S$i%05d"
    def platIdx(i: Int, p: Int) = i * 2 + (p - 1)
    val platformIds = (0 until 2 * NS).map(k => f"P${k / 2}%05d${k % 2 + 1}")
    def platLat(i: Int, p: Int) = coord(stLat(i).toDouble + (if (p == 1) 0.0002 else -0.0002))
    def platLon(i: Int, p: Int) = coord(stLon(i).toDouble + 0.0003 * p)

    // ---- routes ----------------------------------------------------
    final class RouteDef(val idx: Int, val stations: Array[Int], val plats: Array[Int],
        val arr: Array[Int], val dep: Array[Int], val dupRoute: Boolean, val dupShape: Boolean) {
      val id: String = f"r$idx%04d"
      def stopIdx(i: Int): Int = platIdx(stations(i), plats(i))
    }
    val routes = (0 until R).map { r =>
      val sts = rnd.shuffle((0 until NS).toVector).take(S).toArray
      val plats = Array.fill(S)(1 + rnd.nextInt(2))
      val arr = new Array[Int](S); val dep = new Array[Int](S)
      for (i <- 1 until S) {
        arr(i) = dep(i - 1) + 60 + rnd.nextInt(180)
        dep(i) = arr(i) + (if (rnd.nextBoolean()) 30 else 0)
      }
      // exact rates, so input sizes barely vary between seeds
      new RouteDef(r, sts, plats, arr, dep, dupRoute = r % 10 == 3, dupShape = r % 10 == 7)
    }

    // ---- services --------------------------------------------------
    val svcDates: Map[String, Set[LocalDate]] =
      Services.map { case (id, m, a, rm) => id -> dateSet(m, a, rm) }.toMap
    val canonicalSvc = Map("wk~" -> "wk").withDefault(identity)
    val days = (0L to java.time.temporal.ChronoUnit.DAYS.between(SpanStart, SpanEnd) + 3)
      .map(SpanStart.plusDays)
    val dayIdx = days.zipWithIndex.toMap

    // ---- trips -----------------------------------------------------
    val trips = new StringBuilder("trip_id,route_id,service_id,trip_headsign,direction_id,shape_id\n")
    val stopTimes = new StringBuilder(
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type\n")
    val freqs = new StringBuilder("trip_id,start_time,end_time,headway_secs,exact_times\n")
    val transfers = new StringBuilder("from_stop_id,to_stop_id,transfer_type,min_transfer_time\n")
    val boardBuf = Array.fill(NS)(mutable.ArrayBuilder.make[Long])
    val routeDayRows = new Array[Long](R * days.size)
    val dupPlatforms = mutable.Set.empty[Int]
    var keptTrips = 0L; var keptStopTimes = 0L; var keptFreqs = 0L

    def emitTrip(id: String, rt: RouteDef, routeId: String, svc: String, shape: String,
        t0: Int, u: Int, dupStopAt0: Boolean, broken: Boolean): Unit = {
      trips ++= s"$id,$routeId,$svc,${stationId(rt.stations(S - 1))},0,$shape\n"
      for (i <- 0 until S) {
        val off = if (i == 0) 0 else u // running-time variant: never folds with another trip
        val stop =
          if (i == 0 && dupStopAt0) platformIds(rt.stopIdx(0)) + "~"
          else platformIds(rt.stopIdx(i))
        val pickup = if (rnd.nextDouble() < 0.01) "7" else ""
        stopTimes ++= s"$id,${gtfsTime(t0 + rt.arr(i) + off)},${gtfsTime(t0 + rt.dep(i) + off)}," +
          s"$stop,${i + 1},$pickup\n"
      }
      if (broken) stopTimes ++= s"$id,,,,${S + 1},\n"
    }
    /** Record the departure events a surviving trip puts into V2. */
    def keep(rt: RouteDef, svc: String, t0: Int, u: Int, shifts: Seq[Int]): Unit = {
      keptTrips += 1; keptStopTimes += S
      for (d <- svcDates(canonicalSvc(svc)); sh <- shifts) {
        val a = anchor(d)
        for (i <- 0 until S) {
          val dep = t0 + rt.dep(i) + (if (i == 0) 0 else u) + sh
          boardBuf(rt.stations(i)) += pack(a + dep, rt.stopIdx(i), rt.idx)
        }
        routeDayRows(rt.idx * days.size + dayIdx(d)) += S
      }
    }

    val foldBlock = { val b = math.round(sz.foldFrac * T).toInt + 1; if (b >= 3) b else 0 }
    // services and frequency trips in fixed proportions, so the V2 size
    // barely varies between seeds: per 20 trips 8 wk, 3 sa, 3 su, 4 dly, 2 wk~
    val svcCycle = Seq.fill(8)("wk") ++ Seq.fill(3)("sa") ++ Seq.fill(3)("su") ++
      Seq.fill(4)("dly") ++ Seq.fill(2)("wk~")
    val freqEvery = if (sz.freqFrac > 0) math.max(1, math.round(1 / sz.freqFrac).toInt) else Int.MaxValue
    for (rt <- routes) {
      val shape = f"sh${rt.idx}%04d"
      // C9 block: constant headway, standard running times, weekday service
      val start = 6 * 3600 + rnd.nextInt(3600)
      val hw = Seq(300, 600, 900, 1200)(rnd.nextInt(4))
      for (k <- 0 until foldBlock)
        emitTrip(f"t${rt.idx}%04d_$k%03d", rt, rt.id, "wk", shape, start + k * hw, 0,
          dupStopAt0 = false, broken = false)
      if (foldBlock > 0) { // C9 keeps the first trip and writes a frequencies row
        keep(rt, "wk", start, 0, (0 until foldBlock).map(_ * hw))
        keptFreqs += 1
      }
      var u = 0
      for (k <- foldBlock until T) {
        u += 1
        val id = f"t${rt.idx}%04d_$k%03d"
        val night = rnd.nextDouble() < 0.08
        val t0 = if (night) 86400 + 300 + rnd.nextInt(5400) else 5 * 3600 + rnd.nextInt(66600)
        val svc = svcCycle((rt.idx + u) % svcCycle.size)
        val freq = u % freqEvery == 0
        val useDupShape = rt.dupShape && (k == foldBlock || rnd.nextDouble() < 0.3)
        val dupStop = rnd.nextDouble() < 0.1
        if (dupStop) dupPlatforms += rt.stopIdx(0)
        emitTrip(id, rt, rt.id, svc, if (useDupShape) shape + "~" else shape, t0, u,
          dupStopAt0 = dupStop, broken = rnd.nextDouble() < 0.03)
        if (freq) {
          freqs ++= s"$id,${gtfsTime(t0)},${gtfsTime(t0 + sz.freqReplicas * 600)},600,${rnd.nextInt(2)}\n"
          keptFreqs += 1
          keep(rt, svc, t0, u, (0 until sz.freqReplicas).map(_ * 600))
        } else {
          keep(rt, svc, t0, u, Seq(0))
          // C16: an exact copy, on the route copy when there is one
          if (rnd.nextDouble() < 0.05)
            emitTrip(id + "~", rt, if (rt.dupRoute) rt.id + "~" else rt.id, svc,
              shape, t0, u, dupStopAt0 = dupStop, broken = false)
        }
      }
      // C10: a trip on a service that does not exist
      if (rnd.nextDouble() < 0.3) {
        u += 1
        emitTrip(f"to${rt.idx}%04d", rt, rt.id, "svc_missing", shape,
          5 * 3600 + rnd.nextInt(60000), u, dupStopAt0 = false, broken = false)
      }
    }

    // ---- stops -----------------------------------------------------
    val usedPlatforms = routes.flatMap(rt => (0 until S).map(rt.stopIdx)).toSet
    val usedStations = usedPlatforms.map(_ / 2)
    val stops = new StringBuilder(
      "stop_id,stop_code,stop_name,stop_lat,stop_lon,location_type,parent_station,wheelchair_boarding\n")
    val keptB = Vector.newBuilder[(String, Double, Double)]
    for (i <- 0 until NS) {
      stops ++= s"${stationId(i)},,Station $i,${stLat(i)},${stLon(i)},1,,\n"
      if (usedStations(i)) keptB += ((stationId(i), stLat(i).toDouble, stLon(i).toDouble))
      for (p <- 1 to 2) {
        val k = platIdx(i, p)
        val row = s",$i-$p,Station $i Gl. $p,${platLat(i, p)},${platLon(i, p)},0,${stationId(i)},1\n"
        stops ++= platformIds(k) + row
        if (dupPlatforms(k)) {
          stops ++= platformIds(k) + "~" + row // C15
          transfers ++= s"${platformIds(k)}~,${platformIds(k)},2,120\n"
        }
        if (usedPlatforms(k)) keptB += ((platformIds(k), platLat(i, p).toDouble, platLon(i, p).toDouble))
      }
    }
    val kept = keptB.result()
    for (z <- 0 until 3) stops ++= f"Z$z%03d,,Broken GPS $z,0,0,0,,\n" // C4
    for (o <- 0 until math.max(2, NS / 50)) // C10
      stops ++= f"O$o%04d,,Unused $o,${coord(48.0 + o * 0.001)},${coord(8.0 + o * 0.001)},0,,\n"

    // ---- routes, agency, shapes, calendar ---------------------------
    val routesCsv = new StringBuilder(
      "route_id,agency_id,route_short_name,route_long_name,route_type,route_color\n")
    for (rt <- routes) {
      val attrs = s"${rt.idx},Line ${rt.idx},${if (rt.idx % 4 == 0) 0 else 3},${f"${rt.idx * 2654435761L & 0xffffff}%06X"}\n"
      routesCsv ++= s"${rt.id},a0,$attrs"
      if (rt.dupRoute) routesCsv ++= s"${rt.id}~,a1,$attrs"                              // C12
    }
    val V = math.max(4, S / 2)
    val shapes = new StringBuilder("shape_id,shape_pt_lat,shape_pt_lon,shape_pt_sequence\n")
    def emitShape(id: String, lat0: Double, lon0: Double): Unit = {
      val vs = (0 until V).map(k => (lat0 + 0.004 * (k % 2), lon0 + 0.003 * k))
      var seq = 0
      def pt(la: Double, lo: Double): Unit = { seq += 1; shapes ++= s"$id,$la,$lo,$seq\n" }
      for (k <- 0 until V) {
        pt(vs(k)._1, vs(k)._2)
        if (k + 1 < V) for (j <- 1 to 2) { // C7: collinear interior points
          val t = j / 3.0
          pt(vs(k)._1 + (vs(k + 1)._1 - vs(k)._1) * t, vs(k)._2 + (vs(k + 1)._2 - vs(k)._2) * t)
        }
      }
    }
    for (rt <- routes) {
      emitShape(f"sh${rt.idx}%04d", 48.0 + rt.idx * 0.01, 9.0)
      if (rt.dupShape) emitShape(f"sh${rt.idx}%04d~", 48.0 + rt.idx * 0.01, 9.0) // C14
    }
    for (o <- 0 until math.max(1, R / 20)) // C10
      emitShape(f"shO$o%03d", 47.0 - o * 0.01, 9.0)

    val calendar = new StringBuilder(
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n")
    val calDates = new StringBuilder("service_id,date,exception_type\n")
    for ((id, mask, add, rem) <- Services) {
      val bits = DayOfWeek.values.map(d => if (mask.contains(d)) "1" else "0").mkString(",")
      calendar ++= s"$id,$bits,${ymd(SpanStart)},${ymd(SpanEnd)}\n"
      add.foreach(d => calDates ++= s"$id,${ymd(d)},1\n")
      rem.foreach(d => calDates ++= s"$id,${ymd(d)},2\n")
    }
    val (calRows, cdRows) = Services.map(_._1).filterNot(_ == "wk~")
      .map(s => minimizedRows(svcDates(s))).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

    val files = Map(
      "agency.txt" ->
        ("agency_id,agency_name,agency_url,agency_timezone,agency_lang\n" +
          "a0,Verkehrsverbund,https://vv.example,Europe/Berlin,DE\n" +
          "a1,Verkehrsverbund,https://vv.example,Europe/Berlin,DE\n"), // C11
      "stops.txt" -> stops.toString, "routes.txt" -> routesCsv.toString,
      "trips.txt" -> trips.toString, "stop_times.txt" -> stopTimes.toString,
      "calendar.txt" -> calendar.toString, "calendar_dates.txt" -> calDates.toString,
      "frequencies.txt" -> freqs.toString, "shapes.txt" -> shapes.toString,
      "feed_info.txt" -> ("feed_publisher_name,feed_publisher_url,feed_lang,feed_version\n" +
        s"Verkehrsverbund,https://vv.example,DE,$seed\n"),
      "transfers.txt" -> transfers.toString)
    val expected = Map(
      "agency" -> 1L, "stops" -> kept.size.toLong, "routes" -> R.toLong,
      "trips" -> keptTrips, "stop_times" -> keptStopTimes,
      "calendar" -> calRows, "calendar_dates" -> cdRows, "frequencies" -> keptFreqs,
      "shapes" -> (R * V).toLong, "feed_info" -> 1L, "transfers" -> dupPlatforms.size.toLong)

    // Zipf rank order over used stations (seeded permutation)
    val rankOrder = rnd.shuffle(usedStations.toVector.sorted)
    new Feed(files, expected,
      rankOrder.map(stationId), rankOrder.map(i => stLat(i).toDouble).toArray,
      rankOrder.map(i => stLon(i).toDouble).toArray,
      routes.map(_.id), platformIds, kept,
      (0 until NS).filter(usedStations).map { i =>
        val a = boardBuf(i).result(); java.util.Arrays.sort(a); stationId(i) -> a
      }.toMap,
      routeDayRows, days)
  }
}
