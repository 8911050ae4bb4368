package graft.gtfs

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.ops.Checkpoints.PinSyntax

/** gtfsclean's cleaning transforms (SURVEY.md §2.4 C1-C19), as
  * DataFrame → DataFrame programs over a [[Clean.Feed]]. The reference
  * hard-codes gtfsclean's flags (import.sh:44-111), so [[Clean.stages]]
  * runs all 14 stages in that order; the only setting is
  * [[Clean.Config]]'s C17 switch, which skips cleaning entirely.
  *
  * Scale design: a merge is groupBy-key + min(id) canonical + remap join.
  * Merges and C9's folds key on the values they compare: attributes, or
  * a service's dates, a shape's points or a trip's relative stop times
  * as ordered arrays. Those collects and C7's and C9's per-group passes
  * see only per-trip, per-shape or per-trip-pattern groups, bounded by
  * feed geometry; orphan cascades are left-semi joins in dependency order.
  *
  * Materialization: one [[barrier]] per stage, or per segment of
  * row-local stages (the third field of [[Clean.stages]]), and inside a
  * stage every derived table that two or more outputs read is
  * materialized once, so it is computed once rather than once per
  * reader. Most are pinned (`.pin()`): a merge's canonical ids, C9's
  * folds and the trips they drop, C10's surviving trips and stop_times.
  * C8's per-service encoding is persisted instead, with a blocking
  * unpersist deferred to [[graft.ops.Releases]]: a pin is freed only
  * when Spark's ContextCleaner collects it, while Warmup (whose
  * `c8_minimize_services` query runs C8, and which must leave no cached
  * blocks behind) and the import free C8's at their drain.
  */
object Clean {

  /** A GTFS feed: entity name → DataFrame (missing entities absent). */
  type Feed = Map[String, DataFrame]

  /** The one cleaning switch a deployment sets: C17
    * GTFSTIDY_BEFORE_IMPORT (import.sh:38). Every stage's own flag is
    * hard-coded on, as the reference hard-codes gtfsclean's flags
    * (import.sh:44-100). */
  final case class Config(enabled: Boolean = true) {
    /** C7's Douglas-Peucker tolerance, in degrees. */
    def minShapesEpsilonDeg: Double = MinShapesEpsilonDeg
  }

  private val MinShapesEpsilonDeg = 1e-5

  /** Lineage barrier after a stage, or after a segment of stages. Each
    * cleaning stage re-references several entities' plans; composed
    * lazily, the Catalyst plan is a TREE, so 14 stages of cross-entity
    * joins expand exponentially and analysis alone becomes the
    * bottleneck (observed: minutes of planner CPU on a toy feed). A lazy
    * localCheckpoint of every entity truncates the logical plan — the
    * Spark analog of the reference's one `sponge` materialization
    * barrier (import.sh:131) — bounding plan depth to one segment and
    * computing each entity once for all downstream references.
    *
    * A barrier pins each entity in its own execution, so it cannot share
    * a table that several entities of one stage derive from: inside a
    * stage, such a table (a merge's canonical ids, C9's folds, C10's
    * surviving trips) is pinned once with the same lazy
    * [[graft.ops.Checkpoints.pin]] and read by every output. Those pins
    * have no release path of their own, and neither do the barrier's:
    * both are localCheckpoint RDDs that Spark's ContextCleaner drops once
    * the feed reading them is unreachable. On a multi-tenant cluster set
    * `spark.graft.checkpointDir` and every pin becomes a reliable
    * `checkpoint` (HDFS-backed) — same structure, executor-loss-safe. */
  private def barrier(feed: Feed): Feed =
    feed.map { case (n, df) => n -> df.pin() }

  /** The stages in the reference's order (import.sh:44-100): each
    * stage's name in the clean log (C18), its transform, and whether a
    * [[barrier]] follows it. C5, C2, C3 and C4 only project and filter
    * each entity on its own, so they share the one barrier after C4. */
  val stages: Seq[(String, Feed => Feed, Boolean)] = Seq(
    ("keep-spec-columns", keepSpecColumns, false),
    ("default-on-errs", defaultOnErrs, false),
    ("drop-errs", dropErrs, false),
    ("check-null-coords", checkNullCoords, true),
    ("remove-red-agencies", removeRedundantAgencies, true),
    ("remove-red-stops", removeRedundantStops, true),
    ("remove-red-routes", removeRedundantRoutes, true),
    ("remove-red-services", removeRedundantServices, true),
    ("minimize-services", minimizeServices, true),
    ("minimize-stoptimes", minimizeStopTimes, true),
    ("min-shapes", minShapes(_, MinShapesEpsilonDeg), true),
    ("remove-red-shapes", removeRedundantShapes, true),
    ("remove-red-trips", removeRedundantTrips, true),
    ("delete-orphans", deleteOrphans, true))

  /** Run every stage in order, each followed by its [[barrier]] if the
    * table places one there; with cleaning disabled the feed passes
    * through untouched. */
  def apply(feed: Feed, cfg: Config = Config()): Feed =
    if (!cfg.enabled) feed // C17 bypass (import.sh:38)
    else stages.foldLeft(feed) { case (f, (_, stage, barrierAfter)) =>
      val out = stage(f)
      if (barrierAfter) barrier(out) else out
    }

  // C5 --keep-additional-fields=off: project to spec columns only.
  def keepSpecColumns(feed: Feed): Feed =
    feed.map { case (name, df) =>
      Schemas.all.get(name) match {
        case Some(schema) =>
          val spec = schema.fieldNames.toSet
          val keep = df.columns.filter(spec.contains)
          name -> df.select(keep.map(col).toIndexedSeq: _*)
        case None => name -> df
      }
    }

  // C2 --default-on-errs: invalid enum/typed values → spec defaults.
  def defaultOnErrs(feed: Feed): Feed = {
    def clampEnum(c: String, lo: Int, hi: Int, default: Int): DataFrame => DataFrame =
      df => if (!df.columns.contains(c)) df
      else df.withColumn(c,
        when(col(c).isNull || col(c) < lo || col(c) > hi, default).otherwise(col(c)))
    feed.map {
      case ("stops", df) =>
        "stops" -> clampEnum("location_type", 0, 4, 0)(
          clampEnum("wheelchair_boarding", 0, 2, 0)(df))
      case ("routes", df) =>
        "routes" -> clampEnum("route_type", 0, 1702, 3)(df)
      case ("stop_times", df) =>
        "stop_times" -> clampEnum("pickup_type", 0, 3, 0)(
          clampEnum("drop_off_type", 0, 3, 0)(clampEnum("timepoint", 0, 1, 1)(df)))
      case ("calendar_dates", df) =>
        "calendar_dates" -> clampEnum("exception_type", 1, 2, 1)(df)
      case (n, df) => n -> df
    }
  }

  // C3 --drop-errs: rows missing required keys are unrecoverable.
  def dropErrs(feed: Feed): Feed = {
    val required: Map[String, Seq[String]] = Map(
      "stops" -> Seq("stop_id"),
      "routes" -> Seq("route_id"),
      "trips" -> Seq("trip_id", "route_id", "service_id"),
      "stop_times" -> Seq("trip_id", "stop_id", "stop_sequence"),
      "calendar" -> Seq("service_id", "start_date", "end_date"),
      "calendar_dates" -> Seq("service_id", "date"),
      "frequencies" -> Seq("trip_id", "start_time", "end_time", "headway_secs"),
      "shapes" -> Seq("shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"))
    feed.map { case (name, df) =>
      required.get(name) match {
        case Some(cols) if cols.forall(df.columns.contains) =>
          name -> df.where(cols.map(col(_).isNotNull).reduce(_ && _))
        case _ => name -> df
      }
    }
  }

  // C4 --check-null-coords: null or (0,0) stop coordinates are errors.
  def checkNullCoords(feed: Feed): Feed =
    feed.get("stops") match {
      case Some(stops) =>
        feed.updated("stops", stops.where(
          col("stop_lat").isNotNull && col("stop_lon").isNotNull &&
            !(col("stop_lat") === 0.0 && col("stop_lon") === 0.0)))
      case None => feed
    }

  /** Generic redundant-entity merge: group rows equal on `attrs` (nulls
    * equal), canonical id = min(id) (deterministic, C6-compatible —
    * SURVEY.md §7.4 #5), return (deduped entity, id→canonical remap). */
  private def mergeOn(df: DataFrame, id: String, attrs: Seq[String])
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy(attrs.map(col): _*)
    val withCanon = df.withColumn("_canonical", min(col(id)).over(w)).pin()
    val remap = withCanon.select(col(id), col("_canonical").as("canonical"))
    val deduped = withCanon.where(col(id) === col("_canonical")).drop("_canonical")
    (deduped, remap)
  }

  /** Remap a FK column through an (id, canonical) map. Null FKs pass
    * through (left join). */
  private def remapFk(df: DataFrame, fk: String, remap: DataFrame, idCol: String): DataFrame =
    df.join(remap.withColumnRenamed(idCol, "_rk"),
        col(fk) === col("_rk"), "left")
      .withColumn(fk, coalesce(col("canonical"), col(fk)))
      .drop("_rk", "canonical")

  /** Merge by signature: canonical id = min(id) over the rows equal on
    * the `keys` columns (nulls equal). Returns (id→canonical remap,
    * canonical ids). */
  private def canonicalIds(sigs: DataFrame, id: String, keys: Seq[String])
      : (DataFrame, DataFrame) = {
    val remap = sigs.withColumn("canonical",
        min(id).over(Window.partitionBy(keys.map(col): _*)))
      .select(col(id), col("canonical")).pin()
    (remap, remap.where(col(id) === col("canonical")).select(id))
  }

  // C11 --remove-red-agencies (import.sh:83-85)
  def removeRedundantAgencies(feed: Feed): Feed =
    (feed.get("agency"), feed.get("routes")) match {
      case (Some(agency), routesOpt) =>
        val attrs = agency.columns.filterNot(_ == "agency_id").toSeq
        val (deduped, remap) = mergeOn(agency, "agency_id", attrs)
        val f1 = feed.updated("agency", deduped)
        routesOpt match {
          case Some(routes) if routes.columns.contains("agency_id") =>
            f1.updated("routes", remapFk(routes, "agency_id", remap, "agency_id"))
          case _ => f1
        }
      case _ => feed
    }

  // C12 --remove-red-routes (import.sh:86-88)
  def removeRedundantRoutes(feed: Feed): Feed =
    (feed.get("routes"), feed.get("trips")) match {
      case (Some(routes), tripsOpt) =>
        val attrs = routes.columns.filterNot(_ == "route_id").toSeq
        val (deduped, remap) = mergeOn(routes, "route_id", attrs)
        val f1 = feed.updated("routes", deduped)
        tripsOpt match {
          case Some(trips) =>
            f1.updated("trips", remapFk(trips, "route_id", remap, "route_id"))
          case None => f1
        }
      case _ => feed
    }

  // C15 --remove-red-stops (import.sh:95-97): equal on location+attrs;
  // remap stop_times, transfers, parent_station self-references.
  def removeRedundantStops(feed: Feed): Feed =
    feed.get("stops") match {
      case Some(stops) =>
        val attrs = stops.columns.filterNot(_ == "stop_id").toSeq
        val (deduped, remap) = mergeOn(stops, "stop_id", attrs)
        var f = feed.updated("stops",
          if (deduped.columns.contains("parent_station"))
            remapFk(deduped, "parent_station", remap, "stop_id")
          else deduped)
        feed.get("stop_times").foreach { st =>
          f = f.updated("stop_times", remapFk(st, "stop_id", remap, "stop_id"))
        }
        feed.get("transfers").foreach { tr =>
          f = f.updated("transfers",
            remapFk(remapFk(tr, "from_stop_id", remap, "stop_id"),
              "to_stop_id", remap, "stop_id"))
        }
        f
      case None => feed
    }

  /** One row per service: its sorted distinct dates, `dates`. V1's
    * expansion already holds each (service, date) pair once. Groups are
    * bounded by the service's calendar span. */
  private def serviceDateSets(feed: Feed): DataFrame =
    Views.serviceDays(feed).groupBy("service_id")
      .agg(sort_array(collect_list(col("svc_date"))).as("dates"))

  // C13 --remove-red-services (import.sh:89-91): identical date sets.
  def removeRedundantServices(feed: Feed): Feed = {
    if (!feed.contains("calendar") && !feed.contains("calendar_dates")) return feed
    val (remap, keep) = canonicalIds(serviceDateSets(feed), "service_id", Seq("dates"))
    var f = feed
    feed.get("calendar").foreach { c =>
      f = f.updated("calendar", c.join(keep, Seq("service_id"), "left_semi"))
    }
    feed.get("calendar_dates").foreach { cd =>
      f = f.updated("calendar_dates", cd.join(keep, Seq("service_id"), "left_semi"))
    }
    feed.get("trips").foreach { t =>
      f = f.updated("trips", remapFk(t, "service_id", remap, "service_id"))
    }
    f
  }

  // C7 --min-shapes (import.sh:71-73): Douglas-Peucker per shape.
  // flatMapGroups over one shape's ordered points — bounded group.
  def minShapes(feed: Feed, epsilonDeg: Double): Feed =
    feed.get("shapes") match {
      case Some(shapes) =>
        val spark = shapes.sparkSession
        import spark.implicits._
        val simplified = shapes
          .select(col("shape_id"), col("shape_pt_lat"), col("shape_pt_lon"),
            col("shape_pt_sequence"))
          .as[(String, Double, Double, Int)]
          .groupByKey(_._1)
          .flatMapGroups { (sid, it) =>
            val pts = it.map(r => Geo.Pt(r._4, r._2, r._3)).toIndexedSeq.sortBy(_.seq)
            Geo.douglasPeucker(pts, epsilonDeg).zipWithIndex.map { case (p, i) =>
              (sid, p.lat, p.lon, i + 1)
            }
          }
          .toDF("shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence")
        feed.updated("shapes", simplified)
      case None => feed
    }

  /** Per shape: `points`, its (lat, lon) structs in (sequence, lat, lon) order. */
  private def shapeSignatures(shapes: DataFrame): DataFrame =
    shapes
      .select(col("shape_id"),
        struct(col("shape_pt_sequence"), col("shape_pt_lat"), col("shape_pt_lon")).as("p"))
      .groupBy("shape_id")
      .agg(transform(array_sort(collect_list("p")), _.dropFields("shape_pt_sequence"))
        .as("points"))

  // C14 --remove-red-shapes (import.sh:92-94)
  def removeRedundantShapes(feed: Feed): Feed =
    feed.get("shapes") match {
      case Some(shapes) =>
        val (remap, keep) = canonicalIds(shapeSignatures(shapes), "shape_id", Seq("points"))
        var f = feed.updated("shapes", shapes.join(keep, Seq("shape_id"), "left_semi"))
        feed.get("trips").foreach { t =>
          f = f.updated("trips", remapFk(t, "shape_id", remap, "shape_id"))
        }
        f
      case None => feed
    }

  /** Per trip: its first departure `t0` and `rsig`, its [[RelStop]]s in
    * stop_sequence order (bounded group: stops per trip). C9 folds trips
    * equal on `rsig`; C16 merges trips equal on it and on a non-NULL `t0`. */
  private def relativeStopTimeSignatures(st: DataFrame): DataFrame =
    st.select(col("trip_id"), col("stop_sequence"), col("stop_id"),
        GtfsTime.toSeconds(col("arrival_time")).as("arr_s"),
        GtfsTime.toSeconds(col("departure_time")).as("dep_s"))
      .groupBy("trip_id")
      .agg(min("dep_s").as("t0"),
        array_sort(collect_list(struct(col("stop_sequence"), col("stop_id"),
          col("arr_s"), col("dep_s")))).as("seq"))
      .select(col("trip_id"), col("t0"),
        transform(col("seq"), x => struct(x.getField("stop_id").as("stop_id"),
          (x.getField("arr_s") - col("t0")).as("arr_s"),
          (x.getField("dep_s") - col("t0")).as("dep_s"))).as("rsig"))

  /** Full signature per trip: route, service, relative stop times and
    * `t0`, so time-shifted but otherwise identical trips do NOT merge
    * (matching gtfsclean, which folds those via frequencies instead —
    * C9). */
  private val TripSignature = Seq("route_id", "service_id", "rsig", "t0")

  // C16 --remove-red-trips (import.sh:98-100)
  def removeRedundantTrips(feed: Feed): Feed =
    (feed.get("trips"), feed.get("stop_times")) match {
      case (Some(trips), Some(st)) =>
        // a trip with no t0 cannot be timed: its own id keys it alone
        val sig = trips.join(relativeStopTimeSignatures(st), Seq("trip_id"), "left")
          .withColumn("untimed", when(col("t0").isNull, col("trip_id")))
        val (remap, keep) = canonicalIds(sig, "trip_id", TripSignature :+ "untimed")
        val f = feed.updated("trips", trips.join(keep, Seq("trip_id"), "left_semi"))
          .updated("stop_times", st.join(keep, Seq("trip_id"), "left_semi"))
        feed.get("frequencies") match {
          case Some(fr) => f.updated("frequencies",
            remapFk(fr, "trip_id", remap, "trip_id").dropDuplicates())
          case None => f
        }
      case _ => feed
    }

  /** C8's encoding of one service's sorted distinct dates: the weekly
    * mask, Monday first, when a calendar row is cheaper (None
    * otherwise), and the dates calendar_dates must still add.
    *
    * A weekday is in the mask iff the service runs on every occurrence
    * of it in [first, last]; a weekday the span never contains stays
    * out. So the encoding expands to exactly `dates` and never needs an
    * exception_type 2 row. A calendar row costs one row plus the
    * off-mask dates, and is used iff that is fewer rows than `dates`. */
  private def encodeService(dates: IndexedSeq[LocalDate])
      : (Option[Seq[Int]], Seq[LocalDate]) = {
    def dayOfWeek(d: LocalDate) = d.getDayOfWeek.getValue - 1 // Monday = 0
    val len = dates.last.toEpochDay - dates.head.toEpochDay + 1
    // one of each weekday per whole week, and one more for each weekday
    // the remainder, starting at the first date's, reaches
    def possible(w: Int) =
      len / 7 + (if (Math.floorMod(w - dayOfWeek(dates.head), 7) < len % 7) 1 else 0)
    val mask = (0 to 6).map(w =>
      if (possible(w) > 0 && dates.count(dayOfWeek(_) == w) == possible(w)) 1 else 0)
    val offMask = dates.filter(d => mask(dayOfWeek(d)) == 0)
    if (1 + offMask.size < dates.size) (Some(mask), offMask) else (None, dates)
  }

  // C8 --minimize-services (import.sh:74-76): re-encode each service as
  // the cheaper of (weekly calendar + exceptions) vs (pure
  // calendar_dates), one [[encodeService]] call per service; the
  // expansion is exactly preserved (property-tested in
  // CleanPropertySpec).
  def minimizeServices(feed: Feed): Feed = {
    if (!feed.contains("calendar") && !feed.contains("calendar_dates")) return feed
    val encode = udf((dates: Seq[LocalDate]) => encodeService(dates.toIndexedSeq))
    // One row per service, read by both outputs. Persisted with a
    // blocking release deferred to ops.Releases, not pinned: a caller
    // that drains (Warmup, the import's end) must find it freed.
    val enc = serviceDateSets(feed)
      .where(size(col("dates")) > 0) // a service whose only dates are null has none
      .select(col("service_id"), col("dates")(0).as("d0"),
        element_at(col("dates"), -1).as("d1"), encode(col("dates")).as("e"))
      .select(col("service_id"), col("d0"), col("d1"), col("e._1").as("mask"),
        col("e._2").as("added"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.ops.Releases.defer(() => { enc.unpersist(true); () })
    val dowNames = Seq("monday", "tuesday", "wednesday", "thursday", "friday",
      "saturday", "sunday")
    val newCalendar = enc.where(col("mask").isNotNull)
      .select(Seq(col("service_id")) ++
        dowNames.zipWithIndex.map { case (n, i) => col("mask")(i).as(n) } ++
        Seq(date_format(col("d0"), "yyyyMMdd").as("start_date"),
          date_format(col("d1"), "yyyyMMdd").as("end_date")): _*)
    val newCalDates = enc.select(col("service_id"), explode(col("added")).as("d"))
      .select(col("service_id"), date_format(col("d"), "yyyyMMdd").as("date"),
        lit(1).as("exception_type"))
    feed.updated("calendar", newCalendar).updated("calendar_dates", newCalDates)
  }

  /** One stop in `rsig`: arrival and departure in seconds after `t0`. */
  private[gtfs] final case class RelStop(stop_id: String, arr_s: Option[Long],
      dep_s: Option[Long])

  /** One trip as C9 sees it: its trip pattern (route, service and
    * `rsig`, compared as values) and its first departure `t0`. */
  private[gtfs] final case class PatternTrip(trip_id: String, route_id: String,
      service_id: String, rsig: Seq[RelStop], t0: Option[Long])

  /** C9's folds over one trip pattern's trips in (t0, trip_id) order,
    * nulls first: (trip_id, keep_trip, t0, headway_secs) for every trip
    * of every fold.
    *
    * delta_i = t0_i − t0_{i−1}, absent for the first trip or a null t0.
    * A run starts at trip i when delta_i is absent, ≤ 0, or differs from
    * delta_{i−1}; a run of 2 or more trips is foldable, at the headway
    * delta of its first trip. A fold is a foldable run plus the trip
    * before it, unless that trip's own run is foldable: two ADJACENT runs
    * share their boundary trip, and folding it into both would drop the
    * later fold's exemplar as a member of the earlier one. Only folds of
    * 3 or more trips are emitted; the fold's first trip is `keep_trip`. */
  private def foldRuns(trips: IndexedSeq[PatternTrip])
      : Seq[(String, String, Long, Long)] = {
    val delta = trips.indices.map(i =>
      if (i == 0) None else for (a <- trips(i - 1).t0; b <- trips(i).t0) yield b - a)
    val starts = trips.indices.filter(i =>
      i == 0 || delta(i).forall(_ <= 0) || delta(i) != delta(i - 1))
    val runs = starts.zip(starts.drop(1) :+ trips.size) // [start, end)
    def foldable(run: (Int, Int)) = run._2 - run._1 >= 2
    runs.indices.filter(k => foldable(runs(k))).flatMap { k =>
      val (start, end) = runs(k)
      // a foldable run starts at a delta, so it is never the first run
      val from = if (foldable(runs(k - 1))) start else start - 1
      if (end - from < 3) Nil
      else (from until end).map(i =>
        (trips(i).trip_id, trips(from).trip_id, trips(i).t0.get, delta(start).get))
    }
  }

  // C9 --minimize-stoptimes (import.sh:77-79): trips identical up to a
  // time shift that repeat at constant headway fold into
  // frequencies.txt (exact_times=1). One sorted pass per trip pattern
  // (route, service, relative stop times `rsig`) decides the folds.
  def minimizeStopTimes(feed: Feed): Feed =
    (feed.get("trips"), feed.get("stop_times")) match {
      case (Some(trips), Some(st)) =>
        val spark = trips.sparkSession
        import spark.implicits._
        val keyed = trips.join(relativeStopTimeSignatures(st), Seq("trip_id"))
          .select(col("trip_id"), col("route_id"), col("service_id"),
            col("rsig"), col("t0"))
        // Spark sorts each group: Scala's String order differs from
        // Spark's for characters outside the BMP
        val exemplars = keyed.as[PatternTrip]
          .groupByKey(t => (t.route_id, t.service_id, t.rsig))
          .flatMapSortedGroups(col("t0"), col("trip_id"))((_, it) => foldRuns(it.toIndexedSeq))
          .toDF("trip_id", "keep_trip", "t0", "headway_secs")
          .pin()
        val freqRows = exemplars
          .groupBy(col("keep_trip").as("trip_id"))
          .agg(GtfsTime.toGtfsString(min("t0")).as("start_time"),
            // half-open [start, end): end = last departure + headway
            GtfsTime.toGtfsString(max(col("t0")) + min(col("headway_secs")))
              .as("end_time"),
            min("headway_secs").cast("int").as("headway_secs"),
            lit(1).as("exact_times"))
        val dropTrips = exemplars.where(col("trip_id") =!= col("keep_trip"))
          .select("trip_id").distinct().pin()
        val newTrips = trips.join(dropTrips, Seq("trip_id"), "left_anti")
        val newSt = st.join(dropTrips, Seq("trip_id"), "left_anti")
        val newFreq = feed.get("frequencies") match {
          case Some(fr) => fr.unionByName(freqRows, allowMissingColumns = true)
          case None => freqRows
        }
        feed.updated("trips", newTrips).updated("stop_times", newSt)
          .updated("frequencies", newFreq)
      case _ => feed
    }

  // C10 --delete-orphans (import.sh:80-82): one pass of left-semi joins
  // in the order of GTFS's reference graph. A later step drops only rows
  // that no surviving row references, so the result is a fixed point.
  // Each table that later steps read is pinned where it is final for
  // this pass: trips twice, stop_times once.
  def deleteOrphans(feed: Feed): Feed = {
    var f = feed
    // trips must reference existing routes and services
    for (trips <- f.get("trips")) {
      var t = trips
      f.get("routes").foreach(r =>
        t = t.join(r.select("route_id"), Seq("route_id"), "left_semi"))
      val serviceIds = (f.get("calendar").map(_.select("service_id")).toSeq ++
        f.get("calendar_dates").map(_.select("service_id")).toSeq)
        .reduceOption(_ unionByName _).map(_.distinct())
      serviceIds.foreach(s =>
        t = t.join(s, Seq("service_id"), "left_semi"))
      f = f.updated("trips", t.pin())
    }
    // stop_times must reference existing trips and stops
    for (st <- f.get("stop_times")) {
      var s = st
      f.get("trips").foreach(t =>
        s = s.join(t.select("trip_id"), Seq("trip_id"), "left_semi"))
      f.get("stops").foreach(stp =>
        s = s.join(stp.select("stop_id"), Seq("stop_id"), "left_semi"))
      f = f.updated("stop_times", s.pin())
    }
    // trips without any stop_times are dead
    for (trips <- f.get("trips"); st <- f.get("stop_times"))
      f = f.updated("trips",
        trips.join(st.select("trip_id").distinct(), Seq("trip_id"), "left_semi").pin())
    // frequencies referencing dropped trips
    for (fr <- f.get("frequencies"); trips <- f.get("trips"))
      f = f.updated("frequencies",
        fr.join(trips.select("trip_id"), Seq("trip_id"), "left_semi"))
    // unreferenced shapes
    for (sh <- f.get("shapes"); trips <- f.get("trips"))
      f = f.updated("shapes", sh.join(
        trips.select("shape_id").where(col("shape_id").isNotNull).distinct(),
        Seq("shape_id"), "left_semi"))
    // unreferenced stops: keep the used ones and their parent chain, up
    // to the station above a boarding area (boarding area → platform →
    // station, the deepest chain GTFS allows)
    for (stops <- f.get("stops"); st <- f.get("stop_times")) {
      val parentOf = stops.select("stop_id", "parent_station")
      def parents(ids: DataFrame): DataFrame = ids.join(parentOf, "stop_id")
        .select(col("parent_station").as("stop_id")).where(col("stop_id").isNotNull)
      val used = st.select("stop_id").distinct()
      val usedParents = parents(used)
      val kept = used.unionByName(usedParents).unionByName(parents(usedParents)).distinct()
      f = f.updated("stops", stops.join(kept, Seq("stop_id"), "left_semi"))
    }
    f
  }
}
