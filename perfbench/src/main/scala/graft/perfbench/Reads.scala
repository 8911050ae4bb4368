package graft.perfbench

import java.sql.Timestamp
import java.time.LocalTime
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.gtfs.{Geo, Views}

/** The consumer read mix over a published import, each answer checked
  * against the generator's answer key. An operation returns `None` when
  * its answer is right and a message when it is wrong. */
final class Reads(spark: SparkSession, feed: FeedGen.Feed, adPath: String) {

  /** Zipf(1) over station rank: a few stations get most board requests. */
  private val stationCdf: Array[Double] = {
    val w = feed.stationIds.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }
  private def pickStation(rnd: Random): Int = {
    val i = java.util.Arrays.binarySearch(stationCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, stationCdf.length - 1)
  }
  /** A service day; one in four falls on the DST weekend. */
  private def pickDay(rnd: Random) =
    if (rnd.nextInt(4) == 0) FeedGen.DstDay.plusDays(rnd.nextInt(3) - 1L)
    else FeedGen.SpanStart.plusDays(rnd.nextInt(28).toLong)

  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var boardFilesScanned = 0L
  @volatile var boardResultRows = 0L
  @volatile var nearbyResultRows = 0L

  /** Departure board: next 20 departures at a station in a 1 h window. */
  def board(rnd: Random): Option[String] = {
    val st = feed.stationIds(pickStation(rnd))
    val day = pickDay(rnd)
    val from = day.atTime(LocalTime.of(5 + rnd.nextInt(19), 0)).atZone(FeedGen.Tz).toEpochSecond
    val to = from + 3600
    val df = Views.arrivalsInRange(spark, adPath, day.minusDays(1).toString, day.toString)
      .where(col("station_id") === st &&
        col("t_departure") >= lit(new Timestamp(from * 1000)) &&
        col("t_departure") < lit(new Timestamp(to * 1000)))
      .select("t_departure", "stop_id", "route_id")
      .orderBy("t_departure", "stop_id", "route_id")
      .limit(20)
    val got = df.collect().map(r =>
      (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getString(2))).toSeq
    synchronized { boardFilesScanned += filesScanned(df); boardResultRows += got.size }
    val events = feed.boards(st)
    val lo = java.util.Arrays.binarySearch(events, FeedGen.pack(from, 0, 0)) match {
      case i if i >= 0 => i
      case i => -i - 1
    }
    val want = events.iterator.drop(lo).takeWhile(p => FeedGen.epochOf(p) < to).take(20)
      .map(p => (FeedGen.epochOf(p), feed.platformIds(FeedGen.platOf(p)),
        feed.routeIds(FeedGen.routeOf(p)))).toSeq
    if (got == want) None
    else Some(s"board $st $day ${from}: got ${got.size} rows, want ${want.size}; " +
      s"first diff ${got.zipAll(want, null, null).find(x => x._1 != x._2)}")
  }

  /** The 10 stops nearest a point near a station. */
  def nearby(rnd: Random): Option[String] = {
    val i = pickStation(rnd)
    val lat = feed.stationLat(i) + (rnd.nextDouble() - 0.5) * 0.02
    val lon = feed.stationLon(i) + (rnd.nextDouble() - 0.5) * 0.02
    val got = Geo.stopsByDistance(spark.table("stops"), lat, lon, 10)
      .select("stop_id", "distance_m").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    synchronized { nearbyResultRows += got.size }
    val want = feed.keptStops
      .filter { case (_, la, lo) => math.abs(la - lat) <= 1.0 && math.abs(lo - lon) <= 1.0 }
      .map { case (id, la, lo) => (id, haversine(lat, lon, la, lo)) }
      .sortBy(x => (x._2, x._1)).take(10)
    val sameIds = got.map(_._1) == want.map(_._1)
    // equal distances may order either way; the distances must still agree
    val sameDist = got.size == want.size &&
      got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) < 1e-6 }
    if (sameIds || sameDist) None
    else Some(s"nearby ($lat,$lon): got ${got.map(_._1)}, want ${want.map(_._1)}")
  }

  /** Route-day statistics: V2 rows of one route on one service day. */
  def routeDay(rnd: Random): Option[String] = {
    val r = rnd.nextInt(feed.routeIds.size)
    val d = rnd.nextInt(feed.days.size)
    val day = feed.days(d).toString
    val got = Views.arrivalsInRange(spark, adPath, day, day)
      .where(col("route_id") === feed.routeIds(r)).count()
    val want = feed.routeDayRows(r * feed.days.size + d)
    if (got == want) None else Some(s"route-day ${feed.routeIds(r)} $day: got $got, want $want")
  }

  private def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1); val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * 6371008.8 * math.asin(math.sqrt(a))
  }

  /** Files the executed plan's file scans read (after partition pruning). */
  private def filesScanned(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}
