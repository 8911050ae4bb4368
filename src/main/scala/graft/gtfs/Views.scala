package graft.gtfs

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The consumer query surface gtfs-via-postgres generates into each
  * imported DB (SURVEY.md §2.7 V1-V8; flags at
  * /root/reference/import.sh:124-129), re-expressed as DataFrame
  * programs over a cleaned [[Clean.Feed]].
  *
  * Scale design: dimension tables (agency, routes, calendar) are
  * broadcast into the star join; the fact table (stop_times) is only
  * ever shuffled on its natural keys; date expansion is bounded per
  * calendar row; the derived arrivals/departures table is partitionable
  * by service date (partition pruning for date-ranged queries).
  */
object Views {

  import Clean.Feed

  /** Strict yyyyMMdd parse without the java.time formatter:
    * DateTimeFormatter dispatch was ~25% of c8_minimize_services'
    * steady time (r10 probe: the serviceDays leg 0.97 s → 0.73 s with
    * the arithmetic parse). Matches ANSI `to_date(_, 'yyyyMMdd')`
    * behavior: null → null; 8-char → make_date (which rejects
    * out-of-range fields and non-digit substrings via the ANSI int
    * cast); any other length → error — without the guard a 7- or
    * 9-char string would silently mis-parse instead of failing loudly
    * like to_date does. */
  private def parseYyyymmdd(c: Column): Column =
    when(c.isNull, lit(null).cast("date"))
      .when(length(c) === 8, make_date(
        substring(c, 1, 4).cast("int"),
        substring(c, 5, 2).cast("int"),
        substring(c, 7, 2).cast("int")))
      .otherwise(raise_error(concat(lit("invalid yyyyMMdd date: "), c)))

  /** GTFS date column as DATE: parse the spec's yyyyMMdd strings, but
    * pass an already-DATE column through untouched. The fast path is
    * for INTERNAL producers (a synthesized calendar_dates frame, a
    * previous pipeline stage that already parsed) — rendering a date
    * to its string form just so the next operator can parse it back is
    * a pure per-row tax at feed scale (c8 at sf1: 8.4 M synthesized
    * rows × render + make_date). CSV-sourced feeds are STRING-typed
    * and take the parse path unchanged. */
  private def asGtfsDate(df: DataFrame, c: String): Column =
    if (df.schema(c).dataType == org.apache.spark.sql.types.DateType) col(c)
    else parseYyyymmdd(col(c))

  /** V1: service_days — one row (service_id, svc_date) per active day:
    * expand calendar's weekly mask over [start_date, end_date], add
    * exception_type=1 dates, remove exception_type=2 dates. */
  def serviceDays(feed: Feed): DataFrame = {
    val fromCal = feed.get("calendar").map { cal =>
      cal.select(col("service_id"),
        asGtfsDate(cal, "start_date").as("d0"),
        asGtfsDate(cal, "end_date").as("d1"),
        array(col("monday"), col("tuesday"), col("wednesday"), col("thursday"),
          col("friday"), col("saturday"), col("sunday")).as("mask"))
        .where(col("d0").isNotNull && col("d1").isNotNull && col("d0") <= col("d1"))
        .select(col("service_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("svc_date"), col("mask"))
        // weekday(): Monday=0 .. Sunday=6 — matches the mask array order
        .where(element_at(col("mask"), expr("weekday(svc_date)") + 1) === 1)
        .select("service_id", "svc_date")
    }
    val cd = feed.get("calendar_dates").map(t => t.select(col("service_id"),
      asGtfsDate(t, "date").as("svc_date"), col("exception_type")))
    val added = cd.map(_.where(col("exception_type") === 1)
      .select("service_id", "svc_date"))
    val removed = cd.map(_.where(col("exception_type") === 2)
      .select("service_id", "svc_date"))
    val base = (fromCal.toSeq ++ added.toSeq).reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalArgumentException(
        "feed has neither calendar nor calendar_dates"))
    // dedup as repartition(service_id) + in-partition dropDuplicates
    // rather than distinct(): hash-partitioning on service_id satisfies
    // the dedup's (service_id, svc_date) clustering, so this costs the
    // SAME single shuffle — but leaves the output partitioned on the
    // key every consumer groups/joins by (the arrivals star join and
    // V6/V7 stats reuse this one exchange instead of re-shuffling)
    val deduped = base.repartition(col("service_id"))
      .dropDuplicates("service_id", "svc_date")
    removed.foldLeft(deduped)((b, r) =>
      b.join(r, Seq("service_id", "svc_date"), "left_anti"))
  }

  /** V3 helper: per-trip replication offsets. Frequency-based trips
    * (frequencies.txt) run every headway_secs within half-open
    * [start_time, end_time): shift = offset − first scheduled departure.
    * Non-frequency trips get shift 0. exact_times=1 and =0 both
    * enumerate the same nominal departures (gtfs-via-postgres
    * semantics); =0 merely marks them as approximate to consumers. */
  private def tripShifts(feed: Feed): DataFrame = {
    val trips = feed("trips")
    val base = trips.select(col("trip_id"), lit(0L).as("shift"))
    feed.get("frequencies") match {
      case Some(fr) =>
        val t0 = feed("stop_times")
          .groupBy("trip_id")
          .agg(min(GtfsTime.toSeconds(col("departure_time"))).as("t0"))
        // only VALID frequency rows replace a trip's scheduled run: a trip
        // whose frequencies rows are all invalid (headway<=0, end<=start)
        // must keep its shift-0 base or it silently vanishes from every
        // downstream view (arrivals_departures, connections, V6/V7 stats)
        val validFreq = fr
          .select(col("trip_id"),
            GtfsTime.toSeconds(col("start_time")).as("s0"),
            GtfsTime.toSeconds(col("end_time")).as("s1"),
            col("headway_secs").cast("long").as("hw"))
          .where(col("hw") > 0 && col("s1") > col("s0"))
        val freqShifts = validFreq
          // half-open [s0, s1): sequence is inclusive → stop at s1-1
          .select(col("trip_id"),
            explode(expr("sequence(s0, s1 - 1, hw)")).as("dep0"))
          .join(t0, Seq("trip_id"))
          .select(col("trip_id"), (col("dep0") - col("t0")).as("shift"))
        val freqTripIds = validFreq.select("trip_id").distinct()
        base.join(freqTripIds, Seq("trip_id"), "left_anti")
          .unionByName(freqShifts)
      case None => base
    }
  }

  /** V2 (+V3): arrivals_departures — the star join. One row per stop
    * event per service day (frequency trips replicated), with absolute
    * UTC timestamps computed DST-correctly in the agency timezone via
    * the noon−12h anchor ([[GtfsTime]]).
    *
    * Output is partitionable by svc_date; dims are broadcast. */
  def arrivalsDepartures(feed: Feed, defaultTz: String = "UTC"): DataFrame = {
    val st = feed("stop_times")
    val trips = feed("trips")
    val routes = feed.get("routes")
    val agency = feed.get("agency")
    val days = serviceDays(feed)
    val shifts = tripShifts(feed)

    val tripsR = routes match {
      case Some(r) =>
        val withAgency = agency match {
          case Some(a) => r.join(
            broadcast(a.select(col("agency_id"),
              coalesce(col("agency_timezone"), lit(defaultTz)).as("tz"))),
            Seq("agency_id"), "left")
          case None => r.withColumn("tz", lit(defaultTz))
        }
        trips.join(broadcast(withAgency.select(col("route_id"),
          col("route_short_name"), col("route_type"),
          coalesce(col("tz"), lit(defaultTz)).as("tz"))), Seq("route_id"), "left")
      case None => trips.withColumn("tz", lit(defaultTz))
        .withColumn("route_short_name", lit(null).cast("string"))
        .withColumn("route_type", lit(null).cast("int"))
    }

    val events = st
      .join(shifts, Seq("trip_id"))
      .join(tripsR.select("trip_id", "route_id", "service_id",
        "route_short_name", "route_type", "tz"), Seq("trip_id"))
      .join(days, Seq("service_id"))
      .withColumn("arr_s", GtfsTime.toSeconds(col("arrival_time")) + col("shift"))
      .withColumn("dep_s", GtfsTime.toSeconds(col("departure_time")) + col("shift"))
      .withColumn("t_arrival", GtfsTime.absoluteUtc(col("svc_date"), col("arr_s"),
        coalesce(col("tz"), lit(defaultTz))))
      .withColumn("t_departure", GtfsTime.absoluteUtc(col("svc_date"), col("dep_s"),
        coalesce(col("tz"), lit(defaultTz))))

    val withStops = feed.get("stops") match {
      case Some(stops) => events.join(
        stops.select(col("stop_id"), col("stop_name"), col("stop_lat"),
          col("stop_lon"), col("parent_station")),
        Seq("stop_id"), "left")
      case None => events.withColumn("stop_name", lit(null).cast("string"))
        .withColumn("parent_station", lit(null).cast("string"))
    }
    withStops
      // station-level key: a child stop rolls up to its parent station
      // (gtfs-via-postgres exposes both levels for departure boards)
      .withColumn("station_id", coalesce(col("parent_station"), col("stop_id")))
      .select("stop_id", "stop_name", "station_id", "trip_id", "route_id",
        "route_short_name", "route_type", "service_id", "svc_date",
        "stop_sequence", "shift", "t_arrival", "t_departure", "tz")
  }

  /** V4: connections — consecutive stop_time pairs per trip as
    * routable edges (from_stop, t_departure) → (to_stop, t_arrival). */
  def connections(feed: Feed, defaultTz: String = "UTC"): DataFrame = {
    // each frequency replica (distinct shift) is its own journey
    val w = Window.partitionBy("trip_id", "svc_date", "shift")
      .orderBy("stop_sequence")
    arrivalsDepartures(feed, defaultTz)
      .withColumn("to_stop_id", lead("stop_id", 1).over(w))
      .withColumn("t_to_arrival", lead("t_arrival", 1).over(w))
      .where(col("to_stop_id").isNotNull)
      .select(col("trip_id"), col("route_id"), col("service_id"), col("svc_date"),
        col("stop_id").as("from_stop_id"), col("t_departure"),
        col("to_stop_id"), col("t_to_arrival"), col("stop_sequence"))
  }

  /** V5: shapes_aggregated — ordered points folded into one WKT
    * LINESTRING per shape (ST_MakeLine analog). Bounded per-shape. */
  def shapesAggregated(feed: Feed): DataFrame =
    feed("shapes")
      .select(col("shape_id"),
        struct(col("shape_pt_sequence"), col("shape_pt_lon"), col("shape_pt_lat")).as("p"))
      .groupBy("shape_id")
      .agg(
        count(lit(1)).as("n_points"),
        concat(lit("LINESTRING("),
          array_join(transform(array_sort(collect_list(col("p"))),
            x => concat_ws(" ",
              x.getField("shape_pt_lon").cast("string"),
              x.getField("shape_pt_lat").cast("string"))), ","),
          lit(")")).as("wkt"))

  /** V6: stats_by_route_date — arrival/departure counts per (route,
    * service date) with distinct-trip counts. */
  def statsByRouteDate(feed: Feed, defaultTz: String = "UTC"): DataFrame =
    arrivalsDepartures(feed, defaultTz)
      .groupBy("route_id", "svc_date")
      .agg(count(lit(1)).as("n_stop_events"),
        countDistinct("trip_id").as("n_trips"),
        countDistinct("stop_id").as("n_stops"))

  /** V6b: stats_by_agency_route_stop_hour — the finer granularity of
    * the stats family: departures per (route, stop, local hour).
    * gtfs-via-postgres buckets by *agency-local* wall-clock time, so the
    * UTC event timestamp is converted back through agency_timezone — a
    * 23:30 Berlin departure lands in local hour 23, not UTC hour 21/22. */
  def statsByRouteStopHour(feed: Feed, defaultTz: String = "UTC"): DataFrame =
    arrivalsDepartures(feed, defaultTz)
      .groupBy(col("route_id"), col("stop_id"),
        hour(from_utc_timestamp(col("t_departure"),
          coalesce(col("tz"), lit(defaultTz)))).as("dep_hour"))
      .agg(count(lit(1)).as("n_departures"),
        countDistinct("trip_id").as("n_trips"))

  /** V7: stats_active_trips_by_hour — trips whose [first departure,
    * last arrival] span overlaps each hour bucket; bounded explode
    * (trip span in hours), no inequality join. */
  def activeTripsByHour(feed: Feed, defaultTz: String = "UTC"): DataFrame =
    arrivalsDepartures(feed, defaultTz)
      // each frequency replica (distinct shift) is its own concurrent
      // journey — consistent with connections(); collapsing them would
      // count N overlapping replicas as 1 active trip
      .groupBy("trip_id", "svc_date", "shift")
      .agg(min(col("t_departure").cast("long")).as("t_start"),
        max(col("t_arrival").cast("long")).as("t_end"))
      .select(explode(expr("sequence(t_start div 3600, t_end div 3600, 1)"))
        .as("hour_bucket"))
      .groupBy("hour_bucket")
      .agg(count(lit(1)).as("n_active_trips"))

  /** GTFS translations.txt record resolution: which entity column(s)
    * `record_id` (+ `record_sub_id`) points at, per translated table
    * (GTFS reference, translations.txt). Tables absent here (feed_info)
    * are only addressable by `field_value`. */
  private val translationKeys: Map[String, (String, Option[String])] = Map(
    "agency" -> (("agency_id", None)),
    "stops" -> (("stop_id", None)),
    "routes" -> (("route_id", None)),
    "trips" -> (("trip_id", None)),
    "stop_times" -> (("trip_id", Some("stop_sequence"))),
    "pathways" -> (("pathway_id", None)),
    "levels" -> (("level_id", None)),
    "attributions" -> (("attribution_id", None)))

  /** V8: translations — the GENERIC lookup join gtfs-via-postgres's
    * translations integration applies to every translatable
    * (table, field) pair (enabled by the reference's flag set,
    * import.sh:124-129). Spec semantics implemented:
    *   - a translation row addresses its records either by
    *     `record_id` (+ `record_sub_id` for composite-key tables like
    *     stop_times) or by `field_value` (matches every record whose
    *     field equals the value);
    *   - when both flavors match the same (record, language), the
    *     record_id row wins (it is the more specific reference);
    *   - language codes are lower-cased first (L2
    *     --lower-case-lang-codes, import.sh:125);
    *   - records with no translation for any language surface once with
    *     language NULL and the original value as the fallback.
    * Output: one row per (record, translated language) —
    * (record_key, record_sub_key, <field>, language, <field>_translated).
    *
    * Scale: translations.txt is dimension-scale (bounded by entities ×
    * languages, no per-event rows), so both resolution joins and the
    * resolved lookup broadcast — the entity side is never shuffled. */
  def translateField(feed: Feed, tableName: String, fieldName: String): DataFrame = {
    val entity = feed(tableName)
    val spec = translationKeys.get(tableName)
    val keyCol: Column = spec match {
      case Some((k, _)) => col(k).cast("string")
      // feed_info-style tables: no record key — the value is the identity
      case None => col(fieldName)
    }
    // "" stands in for absent sub-keys so equi-joins and groupBys treat
    // all single-key records as one match domain (NULL never equals NULL)
    val subCol: Column = spec.flatMap(_._2).filter(entity.columns.contains)
      .map(c => col(c).cast("string")).getOrElse(lit(""))
    val base = entity.select(keyCol.as("record_key"),
      coalesce(subCol, lit("")).as("record_sub_key"), col(fieldName))
    val tr = feed("translations")
      .where(col("table_name") === tableName && col("field_name") === fieldName)
      .select(col("record_id"), col("record_sub_id"), col("field_value"),
        lower(col("language")).as("language"), col("translation"))
    val idMatches = base.join(broadcast(tr.where(col("record_id").isNotNull)),
        col("record_key") === col("record_id") &&
          // a null record_sub_id addresses every sub-record of record_id
          (col("record_sub_id").isNull ||
            col("record_sub_id") === col("record_sub_key")))
      .select(col("record_key"), col("record_sub_key"), col("language"),
        col("translation"), lit(1).as("prio"))
    val valMatches = base.join(
        broadcast(tr.where(col("record_id").isNull && col("field_value").isNotNull)),
        col(fieldName) === col("field_value"))
      .select(col("record_key"), col("record_sub_key"), col("language"),
        col("translation"), lit(2).as("prio"))
    val resolved = idMatches.unionByName(valMatches)
      .groupBy("record_key", "record_sub_key", "language")
      .agg(min_by(col("translation"), col("prio")).as("translation"))
    base.join(broadcast(resolved), Seq("record_key", "record_sub_key"), "left")
      .select(col("record_key"), col("record_sub_key"), col(fieldName),
        col("language"),
        coalesce(col("translation"), col(fieldName))
          .as(s"${fieldName}_translated"))
  }

  /** The stops/stop_name instance of [[translateField]] — kept as the
    * named view the departure-board consumer reads. */
  def translatedStopNames(feed: Feed): DataFrame =
    translateField(feed, "stops", "stop_name")
      .select(col("record_key").as("stop_id"), col("stop_name"),
        col("language"), col("stop_name_translated"))

  /** Materialize V2 partitioned by service date: consumer queries are
    * almost always date-ranged (departure boards), so the layout makes
    * them partition-pruned directory scans — the "recommended" strategy
    * of SURVEY.md §4.
    *
    * File order: each `svc_date=` directory holds its rows trip-major,
    * sorted by (trip_id, shift, stop_sequence) and then by every other
    * column, so the order is total and the same input writes the same
    * bytes however the feed's frames are partitioned. The key extends
    * past stop_sequence because a cleaned feed may still hold duplicate
    * (trip_id, stop_sequence) rows. The partitioned write sorts by
    * svc_date anyway; this only lengthens that sort's key. A trip-major
    * order also compresses better than a station/time order.
    *
    * Column layout: `t_arrival` and `t_departure` are INT64
    * `TIMESTAMP(MICROS, isAdjustedToUTC=true)`, and the files are written
    * by [[parquetWriter]] (v2 data pages, zstd). In Spark's INT96 default
    * the two timestamps were 92% of V2's bytes: INT96 has no delta
    * encoding, and its dictionary falls back to PLAIN. As INT64 in v2
    * pages, the trip-major timestamps are `DELTA_BINARY_PACKED`. Spark
    * reads them back as `TimestampType`; external readers (DuckDB,
    * Arrow) see a timestamptz, as a PostGIS client would. The timestamp
    * type is a session conf, not a writer option (Spark's parquet writer
    * overwrites the option with the session value), so it is set for
    * this write only and the caller's value, or its absence, is restored
    * afterwards. */
  def materializeArrivalsDepartures(feed: Feed, outPath: String,
      defaultTz: String = "UTC"): Unit = {
    val ad = arrivalsDepartures(feed, defaultTz)
    val key = Seq("svc_date", "trip_id", "shift", "stop_sequence")
    val conf = ad.sparkSession.conf
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val callerTs = conf.getAll.get(tsKey) // None when the caller never set it
    conf.set(tsKey, "TIMESTAMP_MICROS")
    try parquetWriter(ad.repartition(col("svc_date"))
        .sortWithinPartitions((key ++ ad.columns.filterNot(key.contains)).map(col): _*))
      .partitionBy("svc_date").parquet(outPath)
    finally callerTs.fold(conf.unset(tsKey))(conf.set(tsKey, _))
  }

  /** The writer for every parquet file of an import (entities, V2,
    * service_days, import_metadata): overwrite, v2 data pages and zstd.
    * v2 pages let sorted INT64 columns use `DELTA_BINARY_PACKED`, and
    * zstd compresses tighter than Spark's default snappy. */
  def parquetWriter(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode("overwrite")
      .option("parquet.writer.version", "v2")
      .option("compression", "zstd")

  /** The materialized V2 as [[arrivalsInRange]] reads it: the 13 data
    * columns of [[arrivalsDepartures]] in its order, then the svc_date
    * partition column, which a partitioned read always puts last. */
  val arrivalsDeparturesSchema: StructType = StructType(Seq(
    StructField("stop_id", StringType),
    StructField("stop_name", StringType),
    StructField("station_id", StringType),
    StructField("trip_id", StringType),
    StructField("route_id", StringType),
    StructField("route_short_name", StringType),
    StructField("route_type", IntegerType),
    StructField("service_id", StringType),
    StructField("stop_sequence", IntegerType),
    StructField("shift", LongType),
    StructField("t_arrival", TimestampType),
    StructField("t_departure", TimestampType),
    StructField("tz", StringType),
    StructField("svc_date", DateType)))

  /** Date-ranged read over the materialized V2 at `path`, for ISO dates
    * `from` ≤ svc_date ≤ `to`. It opens only the `svc_date=` directories
    * inside the range, found by one listing of `path`: a plain
    * `read.parquet(path)` lists every service day of the import (~29 for
    * a month's feed) before pruning to the one or two a board needs.
    * The schema is declared, not inferred, so no parquet footer is read
    * while the query is planned, and a drift between the writer and this
    * schema fails a spec instead of a board. A range with no materialized
    * day gives an empty frame of the same schema. The svc_date filter
    * stays, so the scan still shows PartitionFilters on svc_date.
    *
    * Nothing is cached: each call lists the directory again, so a read
    * never outlives the import's retention. */
  def arrivalsInRange(spark: SparkSession, path: String,
      from: String, to: String): DataFrame = {
    val (lo, hi) = (LocalDate.parse(from), LocalDate.parse(to))
    val dayDirs = Using.resource(Files.list(Paths.get(path))) {
      _.iterator().asScala.map(_.getFileName.toString).filter { name =>
        name.startsWith("svc_date=") &&
          Try(LocalDate.parse(name.stripPrefix("svc_date="))).toOption
            .exists(d => !d.isBefore(lo) && !d.isAfter(hi))
      }.map(name => s"$path/$name").toSeq
    }
    val days =
      if (dayDirs.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), arrivalsDeparturesSchema)
      else spark.read.schema(arrivalsDeparturesSchema)
        .option("basePath", path).parquet(dayDirs: _*)
    days.where(col("svc_date") >= lit(from) && col("svc_date") <= lit(to))
  }

  /** L4 --import-metadata analog: one-row metadata table. */
  def importMetadata(spark: SparkSession, feedDigest: String,
      importedAt: Long, schema: String): DataFrame = {
    import spark.implicits._
    Seq(("graft", feedDigest, importedAt, schema))
      .toDF("importer", "feed_digest", "imported_at", "schema_name")
  }
}
