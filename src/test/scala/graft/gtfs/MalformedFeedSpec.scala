package graft.gtfs

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.SparkSpec
import graft.pipeline.Import
import org.apache.spark.sql.types._

/** Malformed-feed corpus, first cases: feed files as real producers
  * write them must either parse cleanly or fail loudly. Each case pins
  * what the typed read (`Import.readFeed`, S3) returns today. */
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
}
