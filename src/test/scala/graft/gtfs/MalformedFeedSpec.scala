package graft.gtfs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import graft.SparkSpec
import graft.pipeline.Import
import org.apache.spark.sql.types._

/** Malformed-feed corpus: feed files as real producers write them must
  * either parse cleanly or fail loudly. The first cases pin what the
  * typed read (`Import.readFeed`, S3) returns; the empty and absent
  * optional files run on through cleaning and V2. */
class MalformedFeedSpec extends SparkSpec {

  test("stops.txt with a BOM, CRLF line ends, a quoted newline and doubled quote, an extra column and no location_type") {
    val dir = Files.createTempDirectory("feed-malformed")
    val text = "\uFEFFstop_id,stop_name,stop_lat,stop_lon,x_platform_note,parent_station\r\n" +
      "s1,\"Main \"\"Central\"\"\nStation\",52.5,13.25,north side,\r\n" +
      "s2,Plain,52.625,13.5,,s1\r\n"
    Files.write(dir.resolve("stops.txt"), text.getBytes(StandardCharsets.UTF_8))

    val feed = Import.readFeed(spark, dir)
    assert(feed.keySet == Set("stops"))
    val stops = feed("stops")
    // exactly the spec columns, in spec order, with the spec types: the
    // BOM does not leak into the first header and the extra column is gone
    assert(stops.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      Schemas.stops.fields.map(f => f.name -> f.dataType).toSeq)

    val rows = stops.orderBy("stop_id").collect()
    assert(rows.length == 2, "the quoted newline must not split a record")
    val s1 = rows(0)
    assert(s1.getAs[String]("stop_id") == "s1")
    assert(s1.getAs[String]("stop_name") == "Main \"Central\"\nStation")
    assert(s1.getAs[Double]("stop_lat") == 52.5)
    assert(s1.getAs[Double]("stop_lon") == 13.25)
    assert(s1.isNullAt(s1.fieldIndex("parent_station")))
    val s2 = rows(1)
    assert(s2.getAs[String]("stop_id") == "s2")
    assert(s2.getAs[String]("stop_name") == "Plain")
    assert(s2.getAs[Double]("stop_lat") == 52.625)
    assert(s2.getAs[String]("parent_station") == "s1",
      "the CR of a CRLF line end must not stick to the last field")
    // absent optional columns read as typed NULLs
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("location_type")))
      assert(r.isNullAt(r.fieldIndex("stop_code")))
      assert(r.isNullAt(r.fieldIndex("wheelchair_boarding")))
    }
    assert(stops.schema("location_type").dataType == IntegerType)
  }

  test("a spec column named twice in a header fails the read, naming the file and the column") {
    val dir = Files.createTempDirectory("feed-dupcol")
    Files.writeString(dir.resolve("stops.txt"),
      "stop_id,stop_name,stop_lat,stop_lon,stop_name\ns1,Nord,52.5,13.25,North\n")
    val e = intercept[IllegalArgumentException](Import.readFeed(spark, dir))
    assert(e.getMessage.contains(dir.resolve("stops.txt").toString))
    assert(e.getMessage.contains("stop_name"))

    // a repeated column outside the spec is not read, so it reads cleanly
    Files.writeString(dir.resolve("stops.txt"),
      "stop_id,x_note,stop_name,x_note\ns1,a,Nord,b\n")
    val stops = Import.readFeed(spark, dir)("stops").collect()
    assert(stops.map(_.getAs[String]("stop_name")).toSeq == Seq("Nord"))
  }

  test("a header with a quoted comma and an empty field before the spec columns maps every spec column") {
    val dir = Files.createTempDirectory("feed-quoted-header")
    Files.writeString(dir.resolve("stops.txt"),
      "\"x,note\",,stop_id,stop_name,stop_lat,stop_lon\n" +
        "\"a,b\",z,s1,Nord,52.5,13.25\n" +
        ",,s2,Sued,52.625,13.5\n")
    val rows = Import.readFeed(spark, dir)("stops").orderBy("stop_id").collect()
    assert(rows.map(r => (r.getAs[String]("stop_id"), r.getAs[String]("stop_name"),
      r.getAs[Double]("stop_lat"), r.getAs[Double]("stop_lon"))).toSeq ==
      Seq(("s1", "Nord", 52.5, 13.25), ("s2", "Sued", 52.625, 13.5)))
  }

  test("GTFS field names are case-sensitive: a Stop_Name header reads stop_name as NULL, with no error") {
    val dir = Files.createTempDirectory("feed-case")
    Files.writeString(dir.resolve("stops.txt"),
      "stop_id,Stop_Name,stop_lat,stop_lon\ns1,Nord,52.5,13.25\n")
    val rows = Import.readFeed(spark, dir)("stops").collect()
    assert(rows.length == 1)
    val s1 = rows(0)
    assert(s1.getAs[String]("stop_id") == "s1")
    assert(s1.isNullAt(s1.fieldIndex("stop_name")))
    assert(s1.getAs[Double]("stop_lat") == 52.5 && s1.getAs[Double]("stop_lon") == 13.25)
  }

  /** A small clean feed: one route, two trips with different stop
    * patterns (so no stage merges or folds them), five stop times, and
    * svc1 on Mon–Fri 2024-03-04..08 plus Saturday 2024-03-09. */
  private val smallFeed: Map[String, String] = Map(
    "agency.txt" ->
      """agency_id,agency_name,agency_url,agency_timezone
        |a1,Metro,https://metro.example,Europe/Berlin
        |""".stripMargin,
    "stops.txt" ->
      """stop_id,stop_name,stop_lat,stop_lon
        |s1,Nord,52.50,13.30
        |s2,Mitte,52.51,13.40
        |s3,Sued,52.52,13.50
        |""".stripMargin,
    "routes.txt" ->
      """route_id,agency_id,route_short_name,route_type
        |r1,a1,U1,1
        |""".stripMargin,
    "trips.txt" ->
      """trip_id,route_id,service_id,shape_id
        |t1,r1,svc1,sh1
        |t2,r1,svc1,sh1
        |""".stripMargin,
    "stop_times.txt" ->
      """trip_id,arrival_time,departure_time,stop_id,stop_sequence
        |t1,08:00:00,08:00:00,s1,1
        |t1,08:10:00,08:10:00,s2,2
        |t1,08:20:00,08:20:00,s3,3
        |t2,09:00:00,09:00:00,s3,1
        |t2,09:15:00,09:15:00,s1,2
        |""".stripMargin,
    "calendar.txt" ->
      """service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date
        |svc1,1,1,1,1,1,0,0,20240304,20240308
        |""".stripMargin,
    "calendar_dates.txt" ->
      """service_id,date,exception_type
        |svc1,20240309,1
        |""".stripMargin,
    "frequencies.txt" ->
      """trip_id,start_time,end_time,headway_secs
        |""".stripMargin,
    "shapes.txt" ->
      """shape_id,shape_pt_lat,shape_pt_lon,shape_pt_sequence
        |sh1,52.50,13.30,1
        |sh1,52.52,13.50,2
        |""".stripMargin)

  private def writeFeed(files: Map[String, String]): Path = {
    val dir = Files.createTempDirectory("feed-optional")
    files.foreach { case (name, text) => Files.writeString(dir.resolve(name), text) }
    dir
  }

  /** readFeed → Clean.apply → V2: the cleaned feed and V2's rows. */
  private def cleanAndV2(dir: Path): (Clean.Feed, org.apache.spark.sql.DataFrame) = {
    val cleaned = Clean(Import.readFeed(spark, dir))
    (cleaned, Views.arrivalsDepartures(cleaned))
  }

  test("a header-only frequencies.txt reads as 0 rows and every trip keeps its scheduled run") {
    val dir = writeFeed(smallFeed)
    assert(Import.readFeed(spark, dir)("frequencies").count() == 0)
    val (cleaned, v2) = cleanAndV2(dir)
    assert(cleaned("frequencies").count() == 0)
    assert(cleaned("trips").count() == 2)
    // 5 stop times on each of 6 service days, none replicated
    assert(v2.count() == 30)
    assert(v2.where("shift <> 0").count() == 0)
    assert(v2.select("svc_date").distinct().count() == 6)
  }

  test("a 0-byte shapes.txt reads as 0 rows with the spec columns and V2 is unaffected") {
    val dir = writeFeed(smallFeed.updated("shapes.txt", ""))
    val shapes = Import.readFeed(spark, dir)("shapes")
    assert(shapes.schema.fieldNames.toSeq == Schemas.shapes.fieldNames.toSeq)
    assert(shapes.count() == 0)
    val (cleaned, v2) = cleanAndV2(dir)
    assert(cleaned("shapes").count() == 0)
    assert(cleaned("trips").count() == 2)
    assert(v2.count() == 30)
  }

  test("a feed without calendar.txt, shapes.txt or frequencies.txt runs on calendar_dates alone") {
    val dir = writeFeed((smallFeed -- Seq("calendar.txt", "shapes.txt", "frequencies.txt"))
      .updated("calendar_dates.txt",
        """service_id,date,exception_type
          |svc1,20240309,1
          |svc1,20240310,1
          |""".stripMargin))
    val raw = Import.readFeed(spark, dir)
    assert(Set("calendar", "shapes", "frequencies").intersect(raw.keySet).isEmpty)
    val (cleaned, v2) = cleanAndV2(dir)
    assert(cleaned("trips").count() == 2)
    // 5 stop times on each of the 2 added days
    assert(v2.count() == 10)
    assert(v2.select("svc_date").distinct().count() == 2)
  }
}
