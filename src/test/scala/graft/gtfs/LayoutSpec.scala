package graft.gtfs

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.SparkSpec
import graft.pipeline.Import
import org.apache.spark.sql.SparkSession

/** Physical-layout strategies: the L3 clustered-stops index analog and
  * the partition-by-date V2 materialization — both must show directory-
  * level partition pruning (PartitionFilters) in the scan, not just a
  * post-scan filter. */
class LayoutSpec extends SparkSpec {

  implicit lazy val s: SparkSession = spark
  import spark.implicits._

  test("L3: clustered stops layout prunes partitions and matches brute force") {
    val rnd = new scala.util.Random(1)
    val stops = (1 to 2000).map { i =>
      (f"s$i%04d", 50.0 + rnd.nextDouble() * 5, 10.0 + rnd.nextDouble() * 5)
    }.toDF("stop_id", "stop_lat", "stop_lon")
    val path = Files.createTempDirectory("stops-clustered").toString
    Geo.writeStopsClustered(stops, path)

    val knn = Geo.stopsByDistanceClustered(spark, path, 52.5, 12.5, 5)
    val plan = knn.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected partition pruning on cell:\n$plan")

    val exact = Geo.stopsByDistance(stops, 52.5, 12.5, 5, prefilterDeg = 0.1)
      .select("stop_id").as[String].collect().toSeq
    val clustered = knn.select("stop_id").as[String].collect().toSeq
    assert(clustered == exact, "clustered KNN must match the exact top-k")
  }

  private lazy val testFeed = Import.readFeed(spark,
    TestFeed.writeTo(Files.createTempDirectory("feedmat")))

  /** TestFeed's V2, materialized once for the read specs below. */
  private lazy val materialized: String = {
    val out = Files.createTempDirectory("ad-mat").toString
    Views.materializeArrivalsDepartures(testFeed, out)
    out
  }

  private def fieldTypes(t: org.apache.spark.sql.types.StructType) =
    t.fields.map(f => f.name -> f.dataType).toSeq

  private def days(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("svc_date").distinct().as[java.sql.Date].collect().map(_.toString).toSet

  test("V2 materialization partition-prunes date-ranged reads") {
    val ranged = Views.arrivalsInRange(spark, materialized, "2024-03-04", "2024-03-05")
    val plan = ranged.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("svc_date"),
      s"expected partition pruning on svc_date:\n$plan")
    assert(ranged.count() > 0)
    // only the two requested days survive
    assert(days(ranged).subsetOf(Set("2024-03-04", "2024-03-05")))
  }

  test("V2 declared schema matches the view and its materialized files") {
    val want = fieldTypes(Views.arrivalsDeparturesSchema)
    // the view puts svc_date mid-row; the partitioned files put it last
    assert(fieldTypes(Views.arrivalsDepartures(testFeed).schema).sortBy(_._1) ==
      want.sortBy(_._1))
    assert(fieldTypes(spark.read.parquet(materialized).schema) == want)
    assert(fieldTypes(Views.arrivalsInRange(spark, materialized,
      "2024-03-04", "2024-03-05").schema) == want)
  }

  test("V2 range read: no materialized day in range gives 0 rows, same schema") {
    val none = Views.arrivalsInRange(spark, materialized, "2023-01-01", "2023-01-31")
    assert(none.schema == Views.arrivalsDeparturesSchema)
    assert(none.count() == 0)
  }

  test("V2 range read: a range spanning a missing day returns the days that exist") {
    val out = Files.createTempDirectory("ad-gap")
    Views.materializeArrivalsDepartures(testFeed, out.toString)
    val gap = out.resolve("svc_date=2024-03-05")
    assert(Files.isDirectory(gap))
    Using.resource(Files.walk(gap)) { w =>
      w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    val ranged = Views.arrivalsInRange(spark, out.toString, "2024-03-04", "2024-03-06")
    assert(days(ranged) == Set("2024-03-04", "2024-03-06"))
    val all = spark.read.parquet(out.toString)
      .where($"svc_date".between("2024-03-04", "2024-03-06"))
    assert(ranged.count() == all.count())
  }

  test("V2 files are byte-identical whatever the stop_times partitioning") {
    def sha256(f: Path): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f)).map(b => f"$b%02x").mkString
    def bytesByDay(stopTimesParts: Int): Map[String, Seq[String]] = {
      val feed = testFeed.updated("stop_times",
        testFeed("stop_times").repartition(stopTimesParts))
      val out = Files.createTempDirectory(s"ad-bytes$stopTimesParts")
      Views.materializeArrivalsDepartures(feed, out.toString)
      def list(p: Path) = Using.resource(Files.list(p))(_.iterator().asScala.toList)
      list(out).filter(_.getFileName.toString.startsWith("svc_date=")).map { day =>
        day.getFileName.toString -> list(day)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(sha256).sorted
      }.toMap
    }
    val (three, four) = (bytesByDay(3), bytesByDay(4))
    assert(three.nonEmpty && three.keySet == four.keySet)
    three.keys.toSeq.sorted.foreach(d => assert(three(d) == four(d), s"$d files differ"))
  }
}
