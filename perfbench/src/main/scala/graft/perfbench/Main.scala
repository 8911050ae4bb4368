package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try, Using}
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.meta.{MetaStore, SuccessfulImport}
import graft.pipeline.{Digests, Import}

/** Benchmark of the atomic GTFS importer and its read path.
  *
  * One run = one process, as the importer runs once per cron invocation:
  * start a `local[4]` session, generate the seeded feed, then
  *  1. rerun the feed against a store whose latest import it already is
  *     (the digest-skip path), `SkipReruns` times,
  *  2. import it into a store holding three imports of other feeds
  *     (zip → published; retention drops the oldest),
  *  3. open the published import and run a closed loop of 4 clients
  *     (70% departure boards, 20% nearest stops, 10% route-day counts)
  *     for at least `--seconds`.
  * Every import, rerun and read is checked against the generator's
  * answer key. With `--trace 1` the import in step 2 is replayed stage by
  * stage under spans and a Spark listener (see [[TracedImport]]).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  */
object Main {

  /** Feed shape of each workload. */
  val workloads: Map[String, FeedGen.Sizes] = Map(
    // the write side: per-import fixed cost, all cleaning stages, retention
    "import-churn" -> FeedGen.Sizes(routes = 24, tripsPerRoute = 28, stopsPerTrip = 15,
      stations = 240, foldFrac = 0.2, freqFrac = 0.05, freqReplicas = 6),
    // the read side: more routes and frequency trips make V2 about 2.5x
    // import-churn's
    "consumer-reads" -> FeedGen.Sizes(routes = 36, tripsPerRoute = 25, stopsPerTrip = 15,
      stations = 360, foldFrac = 0.2, freqFrac = 0.25, freqReplicas = 8))

  val Prefix = "gtfs_"
  val Clients = 4
  val WarmupReads = 4
  val SkipReruns = 100
  /** Timed reads a run needs at least: the fewest that leave ten samples
    * beyond the p75 of all reads and, with half of them boards, beyond the
    * board p50. More reads would not fit the benchmark's time budget
    * (48 runs and two builds in 3420 s; see METRICS.md). */
  val MinReads = 40
  val SetupReps = 3

  final class Failures {
    val count = new AtomicLong(0)
    val messages = new ConcurrentLinkedQueue[String]()
    def add(msgs: Seq[String]): Unit = if (msgs.nonEmpty) {
      count.incrementAndGet()
      if (messages.size < 20) msgs.foreach(messages.add)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opts("workload")
    val wl = workloads.getOrElse(wlName, {
      System.err.println(s"unknown workload $wlName; known: ${workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    val stamp = Stamp.start(seed, wlName, trace)

    val tSession = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$Clients]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    try {
      val (line, detail) =
        if (trace) new TracedRun(spark, wl, wlName, seed, seconds, work, out).run()
        else new TimedRun(spark, wl, seed, seconds, work, sessionS).run()
      val artifact = stamp.finish(detail)
      Files.createDirectories(out)
      Files.writeString(out.resolve(s"$wlName-seed$seed-trace${if (trace) 1 else 0}.json"), artifact)
      println(line)
    } finally spark.stop()
  }

  // ---- shared steps -------------------------------------------------

  final class Inputs(val feed: FeedGen.Feed, val zip: Path, val storeRoot: Path,
      val priors: Seq[String], val skipStoreRoot: Path, val skipDb: String)

  /** Generate the feed, write its zip, and create two stores: one
    * holding three earlier imports of other feeds (for the changed
    * import) and one whose latest import is this feed (for the reruns).
    * `SetupReps` times, returning the last inputs and the median time. */
  def setup(wl: FeedGen.Sizes, seed: Long, work: Path): (Inputs, Double) = {
    var inputs: Inputs = null
    val times = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val dir = work.resolve(s"inputs-$rep")
      val feed = FeedGen.generate(seed, wl)
      val zip = FeedGen.writeZip(feed.files, dir.resolve("feed.zip"))
      val storeRoot = dir.resolve("store")
      val store = MetaStore(storeRoot.toString)
      val now = System.currentTimeMillis() / 1000
      val priors = (1 to 3).map { i =>
        val digest = Digests.digestString(s"prior-$seed-$i")
        SuccessfulImport(Digests.formatDbName(Prefix, now - 1000 + i, digest), now - 1000 + i, digest)
      }
      priors.foreach(p => store.createDatabase(p.dbName))
      store.transact(_ => (priors.toVector, ()))
      val skipRoot = dir.resolve("skip-store")
      val digest = Digests.compositeFeedDigest(zip, None, None)
      val same = SuccessfulImport(Digests.formatDbName(Prefix, now - 10, digest), now - 10, digest)
      val skipStore = MetaStore(skipRoot.toString)
      skipStore.createDatabase(same.dbName)
      skipStore.transact(_ => (Vector(same), ()))
      inputs = new Inputs(feed, zip, storeRoot, priors.map(_.dbName), skipRoot, same.dbName)
      (System.nanoTime() - t0) / 1e9
    }
    (inputs, Stats.median(times))
  }

  /** The import as `ImporterMain` configures it (default cleaning), with
    * views materialized for the read side. */
  def config(zip: Path, storeRoot: Path, tmp: Path, dsn: Path): Import.Config =
    Import.Config(feedSource = zip, storeRoot = storeRoot, dbPrefix = Prefix, tmpDir = tmp,
      materializeViews = true, dsnFilePath = Some(dsn))

  /** The clean log (`clean-log.txt`) the program writes with an import
    * of `zip` under the default config. The import stage is replaced by
    * one that returns no entities, so only the pipeline around it runs. */
  def programCleanLog(spark: SparkSession, zip: Path, work: Path): Path = {
    val root = work.resolve("clean-log-store")
    val r = Import.importGtfsAtomically(spark, Import.Config(feedSource = zip, storeRoot = root,
      dbPrefix = Prefix, tmpDir = work.resolve("clean-log-tmp"),
      importStage = Some((_, _, _, _) => Map.empty)))
    MetaStore(root.toString).databasePath(r.newImport.map(_.dbName).getOrElse("none"))
      .resolve("clean-log.txt")
  }

  /** Row count per entity of a published import, from the parquet
    * footers (no Spark job, so checking does not disturb the session). */
  def rowCounts(spark: SparkSession, dbPath: Path, entities: Iterable[String]): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    entities.map { e =>
      val dir = dbPath.resolve(e)
      val n = if (!Files.isDirectory(dir)) -1L else Using.resource(Files.walk(dir)) {
        _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
          Using.resource(ParquetFileReader.open(
            HadoopInputFile.fromPath(new HPath(f.toUri), conf)))(_.getRecordCount)
        }.sum
      }
      e -> n
    }.toMap
  }

  def countDiffs(got: Map[String, Long], want: Map[String, Long], what: String): Seq[String] =
    want.toSeq.sorted.collect { case (e, n) if got.get(e) != Some(n) =>
      s"$what: $e has ${got.getOrElse(e, -1L)} rows, expected $n" }

  /** Checks after a changed import: the pointer and the DSN file name the
    * new db, retention dropped exactly the oldest earlier import, the
    * newest two earlier imports plus the new one remain, and every
    * entity has the generator's expected row count. */
  def checkImport(spark: SparkSession, store: MetaStore, r: Import.Result, dsn: Path,
      priors: Seq[String], feed: FeedGen.Feed): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    r.newImport match {
      case None => errs += s"import skipped=${r.importSkipped} published nothing"
      case Some(rec) =>
        if (store.listImports(Prefix).headOption.map(_.dbName) != Some(rec.dbName))
          errs += s"pointer names ${store.listImports(Prefix).headOption}, not ${rec.dbName}"
        if (!Files.readString(dsn).contains(rec.dbName)) errs += "DSN file does not name the new db"
        if (r.deletedDatabases != priors.take(1))
          errs += s"retention dropped ${r.deletedDatabases}, expected ${priors.take(1)}"
        val dbs = store.listDatabases(Prefix).toSet
        if (dbs != (priors.drop(1) :+ rec.dbName).toSet) errs += s"dbs after import: $dbs"
        errs ++= countDiffs(rowCounts(spark, store.databasePath(rec.dbName), feed.expectedRows.keys),
          feed.expectedRows, "import")
    }
    errs.toSeq
  }

  /** `SkipReruns` reruns of the unchanged feed, the digest-skip path,
    * each checked; returns their times in ms. Their mean is not steady
    * enough to gate on: between runs it sits near 1.9 or near 2.9 ms. */
  def skipReruns(spark: SparkSession, in: Inputs, work: Path,
      fails: Failures): Seq[Double] = {
    val store = MetaStore(in.skipStoreRoot.toString)
    val cfg = config(in.zip, in.skipStoreRoot, work.resolve("skip-tmp"),
      work.resolve("skip-dsn.ini"))
    (1 to SkipReruns).map { _ =>
      val before = store.listDatabases(Prefix).toSet
      val s = System.nanoTime()
      val r = Import.importGtfsAtomically(spark, cfg)
      val ms = (System.nanoTime() - s) / 1e6
      fails.add(checkSkip(store, r, before, in.skipDb))
      ms
    }
  }

  /** Checks after an unchanged rerun: skipped, nothing published, no db created. */
  def checkSkip(store: MetaStore, r: Import.Result, dbsBefore: Set[String], published: String): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (!r.importSkipped || r.newImport.nonEmpty) errs += s"rerun not skipped: $r"
    val created = store.listDatabases(Prefix).toSet -- dbsBefore
    if (created.nonEmpty) errs += s"rerun created $created"
    if (store.listImports(Prefix).headOption.map(_.dbName) != Some(published))
      errs += "rerun moved the published pointer"
    errs.toSeq
  }

  val ReadKinds = Seq("board", "nearby", "route_day")

  /** Closed loop of `Clients` threads. Each client's first `WarmupReads`
    * reads are checked but not timed (the read path's first queries plan
    * and compile); then the loop runs for at least `seconds` and until
    * there are `MinReads` timed reads, half of them boards. It stops at
    * 60 s regardless. `around` wraps each operation. Returns the timed
    * latencies per kind and the timed phase's length in seconds. */
  def readLoop(reads: Reads, seed: Long, seconds: Double, fails: Failures,
      around: (String, () => Option[String]) => Option[String]): (Map[String, Seq[Double]], Double) = {
    val lat = ReadKinds.map(k => k -> new ConcurrentLinkedQueue[Double]()).toMap
    val t0 = System.nanoTime()
    @volatile var timedFrom = Long.MaxValue
    def elapsed(from: Long) = (System.nanoTime() - from) / 1e9
    def done = elapsed(t0) >= 60 || (elapsed(timedFrom) >= seconds &&
      lat.values.map(_.size).sum >= MinReads && lat("board").size >= MinReads / 2)
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rnd = new Random(seed * 1000003L + c)
        var n = 0
        while (!done) {
          val x = rnd.nextDouble()
          val (kind, op) =
            if (x < 0.7) ("board", () => reads.board(rnd))
            else if (x < 0.9) ("nearby", () => reads.nearby(rnd))
            else ("route_day", () => reads.routeDay(rnd))
          n += 1
          val timed = n > WarmupReads
          val s = System.nanoTime()
          if (timed) synchronized { if (timedFrom == Long.MaxValue) timedFrom = s }
          val res = try around(kind, op) catch { case NonFatal(e) => Some(s"$kind threw $e") }
          if (timed) lat(kind).add((System.nanoTime() - s) / 1e6)
          reads.attempted.incrementAndGet()
          fails.add(res.toSeq)
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (lat.map { case (k, q) => k -> q.asScala.toSeq }, elapsed(timedFrom))
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def inputJson(in: Inputs): String = Json.obj(Seq(
    "zip_bytes" -> Files.size(in.zip).toString,
    "input_stop_times" -> in.feed.inputStopTimes.toString,
    "expected_rows" -> Json.obj(in.feed.expectedRows.toSeq.sorted.map { case (k, v) => k -> v.toString })))

  // ---- untraced run: the end-to-end metrics -------------------------

  final class TimedRun(spark: SparkSession, wl: FeedGen.Sizes, seed: Long, seconds: Double,
      work: Path, sessionS: Double) {
    def run(): (String, String) = {
      val (in, setupMedianS) = setup(wl, seed, work)
      val fails = new Failures
      var attempted = 0L
      val store = MetaStore(in.storeRoot.toString)
      val dsn = work.resolve("dsn.ini")
      val cfg = config(in.zip, in.storeRoot, work.resolve("tmp"), dsn)

      val skipMs = skipReruns(spark, in, work, fails)
      attempted += skipMs.size

      // the changed import: zip → published, retention drops the oldest
      val t0 = System.nanoTime()
      val r = Import.importGtfsAtomically(spark, cfg)
      val importS = (System.nanoTime() - t0) / 1e9
      attempted += 1
      fails.add(checkImport(spark, store, r, dsn, in.priors, in.feed))
      val dbName = r.newImport.map(_.dbName).getOrElse("")
      val dbPath = store.databasePath(dbName)

      val opened = Import.openLatestImport(spark, in.storeRoot, Prefix)
      if (opened != Some(dbName)) fails.add(Seq(s"openLatestImport gave $opened, not $dbName"))
      val reads = new Reads(spark, in.feed, dbPath.resolve("arrivals_departures").toString)
      val (lat, readS) = readLoop(reads, seed, seconds, fails, (_, op) => op())
      val all = lat.values.flatten.toSeq
      attempted += reads.attempted.get

      val metrics = Seq(
        ("setup_s", sessionS + setupMedianS, "s"),
        ("import_s", importS, "s"),
        ("store_bytes_per_feed_byte", TracedImport.dirBytes(dbPath).toDouble / Files.size(in.zip), "ratio"),
        ("board_p50_ms", Stats.pct(lat("board"), 50), "ms"),
        ("read_p75_ms", Stats.pct(all, 75), "ms"),
        ("reads_per_s", all.size / readS, "1/s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      val failed = fails.count.get
      val detail = Json.obj(Seq(
        "metrics" -> Json.metricsObj(metrics),
        "samples" -> Json.obj((ReadKinds.map(k => k -> lat(k).size) :+ ("skip" -> skipMs.size))
          .map { case (k, n) => k -> n.toString }),
        "skip_ms_mean" -> Json.num(skipMs.sum / skipMs.size),
        "skip_ms_quartiles" -> Json.arr(Seq(25.0, 50.0, 75.0).map(p => Json.num(Stats.pct(skipMs, p)))),
        "session_s" -> Json.num(sessionS),
        "setup_inputs_median_s" -> Json.num(setupMedianS),
        "read_phase_s" -> Json.num(readS),
        "nearby_p50_ms" -> Json.num(Stats.pct(lat("nearby"), 50)),
        "route_day_p50_ms" -> Json.num(Stats.pct(lat("route_day"), 50)),
        "published_db" -> Json.str(dbName),
        "input" -> inputJson(in),
        "failures" -> Json.arr(fails.messages.asScala.toSeq.map(Json.str))))
      (Json.result(failed == 0, attempted, failed, metrics), detail)
    }
  }

  // ---- traced run: the per-layer metrics -----------------------------

  final class TracedRun(spark: SparkSession, wl: FeedGen.Sizes, wlName: String, seed: Long,
      seconds: Double, work: Path, out: Path) {
    def run(): (String, String) = {
      val sc = spark.sparkContext
      val log = new JobLog
      sc.addSparkListener(log)
      val tr = new Tracer(s"$wlName-$seed-${ProcessHandle.current().pid()}", sc)
      val (in, _) = setup(wl, seed, work)
      val fails = new Failures
      var attempted = 0L

      val skipMs = skipReruns(spark, in, work, fails)
      attempted += skipMs.size

      // the traced replay, first in the process like the untraced import
      val store = MetaStore(in.storeRoot.toString)
      val outcome = TracedImport.run(spark, tr, in.zip, in.storeRoot, Prefix, work.resolve("tmp"))
      attempted += 1
      val tracedSpan = tr.named("import").head
      val dbPath = store.databasePath(outcome.dbName)
      val tracedCounts = rowCounts(spark, dbPath, in.feed.expectedRows.keys)
      fails.add(countDiffs(tracedCounts, in.feed.expectedRows, "traced import") ++
        (if (outcome.deleted != in.priors.take(1)) Seq(s"traced retention dropped ${outcome.deleted}") else Nil))

      // traced reads over the traced import
      if (Import.openLatestImport(spark, in.storeRoot, Prefix) != Some(outcome.dbName))
        fails.add(Seq("openLatestImport does not name the traced import"))
      val adPath = dbPath.resolve("arrivals_departures")
      val reads = new Reads(spark, in.feed, adPath.toString)
      val spanName = Map("board" -> "views.board", "nearby" -> "geo.nearby", "route_day" -> "views.route_day")
      readLoop(reads, seed, seconds, fails, (kind, op) => tr.span(spanName(kind))(op()))
      attempted += reads.attempted.get

      // drift guard: the replayed stages must be the ones the program's
      // clean log records for the default config, in its order (the rows
      // and reads above are checked against the answer key)
      fails.add(TracedImport.stageDrift(programCleanLog(spark, in.zip, work)))
      attempted += 1
      BenchBus.drain(sc)

      val v2Files = Using.resource(Files.walk(adPath)) {
        _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      }
      val v2Rows = rowCounts(spark, dbPath, Seq("arrivals_departures")).values.sum
      val metrics = ("pipeline.skip_ms", skipMs.sum / skipMs.size, "ms") +:
        Layers.metrics(tr, log, tracedSpan, outcome, v2Rows, v2Files, reads)
      // tracing overhead: traced import_s minus the untraced import_s of
      // the same workload and seed, when an untraced run left its record
      val untracedRecord = out.resolve(s"$wlName-seed$seed-trace0.json")
      val untraced = Try(Files.readString(untracedRecord)).toOption
        .flatMap(t => "\"import_s\": \\{\"value\": ([0-9.eE+-]+)".r.findFirstMatchIn(t))
        .map(_.group(1).toDouble)
      val failed = fails.count.get
      val detail = Json.obj(Seq(
        "metrics" -> Json.metricsObj(metrics),
        "untraced_import_s" -> Json.num(untraced.getOrElse(Double.NaN)),
        "tracing_overhead_s" -> Json.num(untraced.map(tracedSpan.ms / 1000 - _).getOrElse(Double.NaN)),
        "tracing_overhead_reference" -> Json.str(
          if (untraced.isDefined) untracedRecord.toString else s"none: no record $untracedRecord"),
        "input" -> inputJson(in),
        "failures" -> Json.arr(fails.messages.asScala.toSeq.map(Json.str)),
        "spans" -> tr.toJson))
      (Json.result(failed == 0, attempted, failed, metrics), detail)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }
}

object Json {
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def metricsObj(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsObj(ms)))
}

/** The load and provenance stamp every artifact carries. */
final class Stamp(fields: Seq[(String, String)]) {
  def finish(detail: String): String = Json.obj(fields ++ Seq(
    "loadavg_end" -> Json.str(Stamp.loadavg()),
    "detail" -> detail)) + "\n"
}
object Stamp {
  def loadavg(): String =
    Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
  def start(seed: Long, workload: String, trace: Boolean): Stamp = new Stamp(Seq(
    "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "spark_master" -> Json.str(s"local[${Main.Clients}]"),
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
    "source" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE", "unknown")),
    "loadavg_start" -> Json.str(loadavg())))
}
