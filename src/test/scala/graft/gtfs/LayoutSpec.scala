package graft.gtfs

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.SparkSpec
import graft.pipeline.Import
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Physical-layout strategies: the L3 clustered-stops index analog and
  * the partition-by-date V2 materialization — both must show directory-
  * level partition pruning (PartitionFilters) in the scan, not just a
  * post-scan filter — and the import's parquet encodings, read from the
  * file footers. */
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

  private def parquetFiles(dir: Path): Seq[Path] = Using.resource(Files.walk(dir)) {
    _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
  }

  private def footer(f: Path): ParquetMetadata = Using.resource(ParquetFileReader.open(
    HadoopInputFile.fromPath(new HPath(f.toUri), spark.sparkContext.hadoopConfiguration)))(_.getFooter)

  private def chunks(meta: ParquetMetadata): Seq[ColumnChunkMetaData] =
    meta.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)

  private def assertZstd(f: Path, meta: ParquetMetadata): Unit = {
    assert(chunks(meta).nonEmpty, f)
    chunks(meta).foreach(ch => assert(ch.getCodec == CompressionCodecName.ZSTD, s"$f ${ch.getPath}"))
  }

  private val timestampColumns = Seq("t_arrival", "t_departure")

  /** TestFeed plus one 600-stop trip at distinct times: TestFeed's own
    * day files are so small that a dictionary pays for its timestamps,
    * where a real feed's mostly distinct ones fall back to the page
    * encoding. */
  private lazy val longTripFeedDir: Path = TestFeed.writeTo(
    Files.createTempDirectory("feed-long"), fs => fs
      .updated("trips.txt", fs("trips.txt") + "tlong,r1,svc1,\n")
      .updated("stop_times.txt", fs("stop_times.txt") + (1 to 600).map { i =>
        val t = 4 * 3600 + 37 * i
        val hms = f"${t / 3600}%02d:${t / 60 % 60}%02d:${t % 60}%02d"
        s"tlong,$hms,$hms,s${i % 3 + 1},$i\n"
      }.mkString))

  /** INT64 TIMESTAMP(MICROS, UTC) delta-encoded timestamps, zstd chunks. */
  private def assertV2Layout(dayFile: Path): Unit = {
    val meta = footer(dayFile)
    val micros = LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
    val schema = meta.getFileMetaData.getSchema
    timestampColumns.foreach { c =>
      val t = schema.getType(schema.getFieldIndex(c)).asPrimitiveType
      assert(t.getPrimitiveTypeName == PrimitiveTypeName.INT64, s"$c in $dayFile")
      assert(t.getLogicalTypeAnnotation == micros, s"$c in $dayFile")
    }
    assertZstd(dayFile, meta)
    timestampColumns.foreach { c =>
      val ts = chunks(meta).filter(_.getPath.toDotString == c)
      assert(ts.nonEmpty && ts.forall(_.getEncodings.contains(Encoding.DELTA_BINARY_PACKED)),
        s"$c encodings: ${ts.map(_.getEncodings)}")
    }
  }

  test("an import writes V2 timestamps as delta-encoded INT64 micros, every file zstd") {
    val root = Files.createTempDirectory("store-layout")
    val r = Import.importGtfsAtomically(spark, Import.Config(
      feedSource = longTripFeedDir,
      storeRoot = root,
      dbPrefix = "gtfs_",
      tmpDir = root.resolve("tmp"),
      cleanConfig = Clean.Config(enabled = false),
      materializeViews = true,
      now = () => 1700000900L))
    val db = graft.meta.MetaStore(root.toString).databasePath(r.newImport.get.dbName)
    assertV2Layout(parquetFiles(db.resolve("arrivals_departures")).head)
    // an entity, service_days and import_metadata share the one writer
    Seq("stop_times", "service_days", "import_metadata").foreach { t =>
      val fs = parquetFiles(db.resolve(t))
      assert(fs.nonEmpty, t)
      fs.foreach(f => assertZstd(f, footer(f)))
    }
  }

  test("an import writes each stop_times file in (trip_id, stop_sequence) order") {
    val root = Files.createTempDirectory("store-order")
    val r = Import.importGtfsAtomically(spark, Import.Config(
      feedSource = longTripFeedDir,
      storeRoot = root,
      dbPrefix = "gtfs_",
      tmpDir = root.resolve("tmp"),
      now = () => 1700000950L))
    val db = graft.meta.MetaStore(root.toString).databasePath(r.newImport.get.dbName)
    val files = parquetFiles(db.resolve("stop_times"))
    assert(files.nonEmpty)
    files.foreach { f =>
      // one small file is one split, read back in file order
      val keys = spark.read.parquet(f.toString).select("trip_id", "stop_sequence")
        .as[(String, Int)].collect().toSeq
      assert(keys.nonEmpty && keys == keys.sorted, s"$f is not in key order")
    }
  }

  test("V2 write restores the caller's parquet timestamp type, also when it throws") {
    val key = "spark.sql.parquet.outputTimestampType"
    def callerValue = spark.conf.getAll.get(key) // None: never set
    val before = callerValue
    val feed = Import.readFeed(spark, longTripFeedDir)
    def write(out: String): Unit = Views.materializeArrivalsDepartures(feed, out)
    val notADir = Files.createTempFile("regular", ".file").resolve("ad").toString
    try {
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      val out = Files.createTempDirectory("ad-conf")
      write(out.toString)
      assert(callerValue === Some("TIMESTAMP_MILLIS"))
      assertV2Layout(parquetFiles(out).head) // the sentinel does not reach the file

      spark.conf.unset(key)
      write(Files.createTempDirectory("ad-conf-unset").toString)
      assert(callerValue === None)

      intercept[Exception](write(notADir))
      assert(callerValue === None)
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      intercept[Exception](write(notADir))
      assert(callerValue === Some("TIMESTAMP_MILLIS"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("V2 read back from its files holds the view's instants, DST days included") {
    // svc1 also runs on the spring-forward and fall-back Sundays of
    // Europe/Berlin, the agency zone, so those days' instants are
    // written and read back too
    val feed = Import.readFeed(spark, TestFeed.writeTo(Files.createTempDirectory("feed-dst"),
      fs => fs.updated("calendar_dates.txt",
        fs("calendar_dates.txt") + "svc1,20240331,1\nsvc1,20241027,1\n")))
    val view = Views.arrivalsDepartures(feed)
    val out = Files.createTempDirectory("ad-dst").toString
    Views.materializeArrivalsDepartures(feed, out)
    val back = spark.read.parquet(out).select(view.columns.map(col).toIndexedSeq: _*)
    assert(days(back).contains("2024-03-31") && days(back).contains("2024-10-27"))
    assert(back.count() == view.count() && back.count() > 0)
    assert(back.exceptAll(view).isEmpty && view.exceptAll(back).isEmpty)
  }
}
