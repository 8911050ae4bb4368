package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.gtfs.{Clean, Views}
import graft.meta.{MetaStore, SuccessfulImport}
import graft.ops.Checkpoints
import graft.pipeline.{Digests, Import, Retention}

/** The default atomic import, replayed step by step through the public
  * calls of each layer, with a span around every call. Each cleaning
  * stage ends in an eager barrier (`Checkpoints.pin(eager = true)` on
  * every entity, where `Clean.apply` pins lazily), so a stage's span
  * holds the Spark work that stage causes.
  *
  * The stage list must follow `Clean.apply`'s order. [[stageDrift]]
  * compares it with the stages the program's clean log records for the
  * default config, and the traced run checks this import's rows and reads
  * against the answer key that every untraced run checks
  * `Import.importGtfsAtomically` against. */
object TracedImport {

  /** `Clean.apply`'s stages with the default `Clean.Config`, in its
    * order: (reference id, name in the program's clean log). */
  val stageIds: Seq[(String, String)] = Seq("c5" -> "keep-spec-columns",
    "c2" -> "default-on-errs", "c3" -> "drop-errs", "c4" -> "check-null-coords",
    "c11" -> "remove-red-agencies", "c15" -> "remove-red-stops", "c12" -> "remove-red-routes",
    "c13" -> "remove-red-services", "c8" -> "minimize-services", "c9" -> "minimize-stoptimes",
    "c7" -> "min-shapes", "c14" -> "remove-red-shapes", "c16" -> "remove-red-trips",
    "c10" -> "delete-orphans")

  /** Metric name of each stage, e.g. `c9_minimize_stoptimes`. */
  val stageNames: Seq[String] = stageIds.map { case (c, n) => s"${c}_${n.replace('-', '_')}" }

  def cleanStages(implicit spark: SparkSession): Seq[(String, Clean.Feed => Clean.Feed)] = {
    val eps = Clean.Config().minShapesEpsilonDeg
    stageNames.zip(Seq[Clean.Feed => Clean.Feed](
      Clean.keepSpecColumns, Clean.defaultOnErrs, Clean.dropErrs, Clean.checkNullCoords,
      Clean.removeRedundantAgencies, Clean.removeRedundantStops, Clean.removeRedundantRoutes,
      f => Clean.removeRedundantServices(f), f => Clean.minimizeServices(f),
      f => Clean.minimizeStopTimes(f), f => Clean.minShapes(f, eps),
      Clean.removeRedundantShapes, Clean.removeRedundantTrips, Clean.deleteOrphans))
  }

  /** Differences between the stages replayed here and the stages the
    * clean log of an import (`clean-log.txt`, written by
    * `Import.importGtfsAtomically`) records as run, in order. */
  def stageDrift(cleanLog: Path): Seq[String] = {
    if (!Files.exists(cleanLog)) return Seq(s"stage drift: no clean log at $cleanLog")
    val lines = Files.readAllLines(cleanLog).asScala.toSeq
    val ran = lines.map(_.split("\t")).collect { case Array("stage", n, "on") => n }
    val replayed = stageIds.map(_._2)
    (if (!lines.contains("cleaning_enabled\ttrue")) Seq(s"$cleanLog: cleaning not enabled") else Nil) ++
      (if (ran != replayed) Seq(s"stage drift: the program ran ${ran.mkString(",")}; " +
        s"the traced import replays ${replayed.mkString(",")}") else Nil)
  }

  final case class Outcome(dbName: String, deleted: Seq[String],
      rowsRemoved: Map[String, Long], rowsRead: Long, writeBytes: Long)

  def run(spark: SparkSession, tr: Tracer, zip: Path, storeRoot: Path, prefix: String,
      tmpDir: Path): Outcome = tr.span("import") {
    implicit val s: SparkSession = spark
    val store = MetaStore(storeRoot.toString)
    val staged = tmpDir.resolve("gtfs-feed")
    val extracted = tmpDir.resolve("extracted")
    tr.span("pipeline.stage_extract") {
      Files.createDirectories(tmpDir)
      Files.copy(zip, staged, StandardCopyOption.REPLACE_EXISTING)
    }
    tr.span("meta.lock")(store.acquireLockNowait())
    try {
      val (live, deleted) = tr.span("meta.retention") {
        val recorded = store.listImports(prefix)
        val allDbs = store.listDatabases(prefix)
        val live = recorded.filter(r => allDbs.contains(r.dbName))
        val retained = Retention.newestTwo(live, allDbs)
        val pinned = store.pinnedDbNames(System.currentTimeMillis() / 1000)
        val victims = allDbs.filterNot(retained.contains).filterNot(pinned.contains)
        victims.foreach(store.dropDatabase)
        (live, victims)
      }
      val digest = tr.span("pipeline.digest")(Digests.compositeFeedDigest(staged, None, None))
      require(!live.exists(_.feedDigest == digest), "traced import expects a changed feed")
      val importedAt = System.currentTimeMillis() / 1000
      val dbName = Digests.formatDbName(prefix, importedAt, digest)
      val dbPath = tr.span("meta.create_db")(store.createDatabase(dbName))

      // row counts per entity, for rows removed per stage; counting runs
      // outside the stage spans and is reported as tracing overhead
      val counts = scala.collection.mutable.Map.empty[String, Long]
      def recount(pinned: Clean.Feed, changed: String => Boolean): Long = tr.span("trace.count") {
        pinned.iterator.filter(e => changed(e._1)).map { case (n, df) =>
          val c = df.count()
          val removed = counts.getOrElse(n, c) - c
          counts(n) = c
          removed
        }.sum
      }
      def barrier(f: Clean.Feed): Clean.Feed = f.map { case (n, df) => n -> Checkpoints.pin(df, eager = true) }

      tr.span("pipeline.stage_extract")(unzip(staged, extracted))
      var feed = tr.span("schemas.read") {
        barrier(Import.lowerLangCodes(Import.readFeed(spark, extracted)))
      }
      recount(feed, _ => true)
      val rowsRead = counts.values.sum
      val removed = cleanStages.map { case (name, stage) =>
        val before = feed
        val out = tr.span(s"clean.$name") {
          val o = stage(before)
          feed = barrier(o)
          o
        }
        // an entity the stage returned untouched keeps its count
        name -> recount(feed, n => !before.get(n).exists(_ eq out(n)))
      }.toMap

      tr.span("write") {
        feed.foreach { case (entity, df) =>
          df.write.mode("overwrite").parquet(dbPath.resolve(entity).toString)
        }
      }
      val writeBytes = feed.keys.map(e => dirBytes(dbPath.resolve(e))).sum
      tr.span("views.import_metadata") {
        Views.importMetadata(spark, digest, importedAt, prefix)
          .write.mode("overwrite").parquet(dbPath.resolve("import_metadata").toString)
      }
      tr.span("views.materialize") {
        Views.serviceDays(feed).write.mode("overwrite")
          .parquet(dbPath.resolve("service_days").toString)
        Views.materializeArrivalsDepartures(feed,
          dbPath.resolve("arrivals_departures").toString, "UTC")
      }
      tr.span("meta.transact") {
        val rec = SuccessfulImport(dbName, importedAt, digest)
        store.transact { _ =>
          (live.filterNot(r => deleted.contains(r.dbName)).toVector :+ rec, ())
        }
      }
      Outcome(dbName, deleted, removed, rowsRead, writeBytes)
    } finally {
      tr.span("ops.releases")(graft.ops.Releases.drain())
      store.releaseLock()
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Using.resource(Files.walk(p)) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  private def unzip(zip: Path, dst: Path): Unit = {
    if (Files.exists(dst)) Using.resource(Files.walk(dst)) {
      _.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    }
    Files.createDirectories(dst)
    Using.resource(new ZipFile(zip.toFile)) { zf =>
      zf.entries().asScala.filterNot(_.isDirectory).foreach { e =>
        Using.resource(zf.getInputStream(e)) { in =>
          Files.copy(in, dst.resolve(e.getName), StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }
}
