package graft.pipeline

import java.nio.file.{Files, Path}
import graft.SparkSpec
import graft.gtfs.TestFeed
import graft.meta.MetaStore

/** SURVEY.md §5.3 pipeline integration tests: import twice → second run
  * skips (P5); changed feed → new import; retention drops the oldest
  * (T4); lock NOWAIT (T1); abort leaves a reimportable state (T3/T6);
  * dangling-pointer reconciliation (P3). */
class ImportPipelineSpec extends SparkSpec {

  // Default to the C17 whole-stage cleaning bypass (a REAL reference
  // path, GTFSTIDY_BEFORE_IMPORT=off): most tests here assert
  // bookkeeping/digest/lock/retention semantics, not cleaned entity
  // content, and the 14-stage cleaning pipeline dominated the suite's
  // wall clock (round 7: this spec was 337 s of an 8:50 `sbt test`).
  // Tests that DO assert cleaned output (materialized views, K1's
  // C11-merged agency, the clean-log artifact, C19's through-cleaning
  // flow) opt back in with clean = true.
  private def mkCfg(root: Path, feedDir: Path, tag: String,
      clean: Boolean = false): Import.Config =
    Import.Config(
      feedSource = feedDir,
      storeRoot = root,
      dbPrefix = "gtfs_",
      tmpDir = root.resolve(s"tmp-$tag"),
      cleanConfig = graft.gtfs.Clean.Config(enabled = clean),
      dsnFilePath = Some(root.resolve("dsn.txt")))

  test("import → skip-if-unchanged → changed feed → retention of newest 2") {
    val root = Files.createTempDirectory("store")
    val feed1 = TestFeed.writeTo(Files.createTempDirectory("f1"))

    // fixed clock so db names are deterministic but distinct
    var clock = 1700000000L
    def cfg(dir: Path, tag: String) =
      mkCfg(root, dir, tag).copy(now = () => { clock += 10; clock })

    val r1 = Import.importGtfsAtomically(spark, cfg(feed1, "a"))
    assert(!r1.importSkipped && r1.newImport.isDefined)
    val store = MetaStore(root.toString)
    assert(store.listImports("gtfs_").size == 1)
    assert(Files.exists(store.databasePath(r1.newImport.get.dbName).resolve("stops")))
    // DSN file points at the new db (K4)
    assert(Files.readString(root.resolve("dsn.txt")).contains(r1.newImport.get.dbName))

    // same feed again → P5 skip, no new db
    val r2 = Import.importGtfsAtomically(spark, cfg(feed1, "b"))
    assert(r2.importSkipped && r2.newImport.isEmpty)
    assert(store.listImports("gtfs_").size == 1)

    // changed feed → new import recorded
    val feed2 = TestFeed.writeTo(Files.createTempDirectory("f2"),
      _.updated("feed_info.txt",
        "feed_publisher_name,feed_publisher_url,feed_lang\nMetro2,https://m2,EN\n"))
    val r3 = Import.importGtfsAtomically(spark, cfg(feed2, "c"))
    assert(!r3.importSkipped)
    assert(store.listImports("gtfs_").size == 2)

    // third distinct feed: retention runs at the START of a run
    // (import.js:160-198), so immediately after an import up to 3 DBs
    // exist (the new one + the 2 retained at run start)
    val feed3 = TestFeed.writeTo(Files.createTempDirectory("f3"),
      _.updated("feed_info.txt",
        "feed_publisher_name,feed_publisher_url,feed_lang\nMetro3,https://m3,FR\n"))
    val r4 = Import.importGtfsAtomically(spark, cfg(feed3, "d"))
    assert(!r4.importSkipped)
    assert(store.listImports("gtfs_").size == 3)

    // fourth distinct feed → the run-start retention pass now drops the
    // oldest (r1) before importing
    val feed4 = TestFeed.writeTo(Files.createTempDirectory("f4"),
      _.updated("feed_info.txt",
        "feed_publisher_name,feed_publisher_url,feed_lang\nMetro4,https://m4,IT\n"))
    val r5 = Import.importGtfsAtomically(spark, cfg(feed4, "e"))
    assert(!r5.importSkipped)
    val after = store.listImports("gtfs_")
    assert(after.size == 3, s"newest-2 retained + new import, got ${after.size}")
    assert(!after.map(_.dbName).contains(r1.newImport.get.dbName),
      "oldest import dropped")
    assert(store.listDatabases("gtfs_").size == 3)
    // consumer path resolves the newest import (T5 swap semantics)
    assert(Import.openLatestImport(spark, root, "gtfs_")
      .contains(r5.newImport.get.dbName))
  }

  test("materialized views land in the published import, date-partitioned") {
    val root = Files.createTempDirectory("store-mat")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fm"))
    val r = Import.importGtfsAtomically(spark,
      mkCfg(root, feed, "m", clean = true)
        .copy(materializeViews = true, now = () => 1700000500L))
    val db = MetaStore(root.toString).databasePath(r.newImport.get.dbName)
    assert(Files.exists(db.resolve("service_days")))
    val adDir = db.resolve("arrivals_departures")
    assert(Files.exists(adDir))
    // partitionBy(svc_date) directory layout → partition pruning
    val partDirs = java.nio.file.Files.list(adDir).iterator()
    val hasDatePartition = {
      var found = false
      while (partDirs.hasNext) {
        if (partDirs.next().getFileName.toString.startsWith("svc_date=")) found = true
      }
      found
    }
    assert(hasDatePartition, "expected svc_date= partition directories")
    val ad = spark.read.parquet(adDir.toString)
    assert(ad.count() > 0)
  }

  test("T1: second importer fails fast while the lock is held (NOWAIT)") {
    val root = Files.createTempDirectory("store-lock")
    val store = MetaStore(root.toString)
    store.acquireLockNowait()
    try {
      val feed = TestFeed.writeTo(Files.createTempDirectory("fl"))
      intercept[IllegalStateException] {
        Import.importGtfsAtomically(spark, mkCfg(root, feed, "x"))
      }
    } finally store.releaseLock()
  }

  test("T3/T6: aborted import leaves orphan dir; next run reaps and succeeds") {
    val root = Files.createTempDirectory("store-abort")
    val store = MetaStore(root.toString)
    // simulate a crashed import: orphan db dir, no meta row, stale lock
    // already released (process died after releasing? no — crashed hard:
    // lock file still present must NOT survive a real crash; the
    // reference's lock dies with the PG session. Our file lock maps to
    // "operator removes stale lock" — simulate post-crash state.)
    store.createDatabase("gtfs_1600000000_dead00")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fa"))
    val r = Import.importGtfsAtomically(spark,
      mkCfg(root, feed, "y").copy(now = () => 1700000100L))
    assert(!r.importSkipped)
    assert(r.deletedDatabases.contains("gtfs_1600000000_dead00"),
      "orphan from aborted import reaped by retention pass")
    assert(store.listImports("gtfs_").size == 1)
  }

  test("a real import runs at the feed-sized shuffle width and restores the caller's") {
    val key = "spark.sql.shuffle.partitions"
    val sessionWidth = spark.conf.get(key)
    val root = Files.createTempDirectory("store-width")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fw"))
    var seen = Seq.empty[String]
    def recording(fail: Boolean): Import.ImportStage = { (s, c, staged, dbPath) =>
      seen :+= s.conf.get(key)
      if (fail) throw new RuntimeException("stage failed")
      Import.defaultImportStage(s, c, staged, dbPath)
    }
    spark.conf.set(key, "7")
    try {
      val cfg = mkCfg(root, feed, "w").copy(importStage = Some(recording(fail = false)),
        now = () => 1700000300L)
      val r = Import.importGtfsAtomically(spark, cfg)
      assert(!r.importSkipped)
      val expected = graft.ops.ShuffleWidth.forDir(
        cfg.tmpDir.resolve("gtfs-feed").toString, spark.sparkContext.defaultParallelism)
      assert(seen === Seq(expected.toString))
      assert(spark.conf.get(key) === "7")

      // an aborted import (the T3/T6 shape) restores the width too
      val feed2 = TestFeed.writeTo(Files.createTempDirectory("fw2"),
        _.updated("feed_info.txt",
          "feed_publisher_name,feed_publisher_url,feed_lang\nMetroW,https://mw,EN\n"))
      intercept[RuntimeException] {
        Import.importGtfsAtomically(spark, mkCfg(root, feed2, "w2").copy(
          importStage = Some(recording(fail = true)), now = () => 1700000310L))
      }
      assert(seen.size === 2, "the failing stage ran")
      assert(spark.conf.get(key) === "7")
    } finally spark.conf.set(key, sessionWidth)
  }

  test("P3: dangling meta rows (db dir gone) are reconciled away") {
    val root = Files.createTempDirectory("store-dangling")
    val store = MetaStore(root.toString)
    store.transact { _ =>
      (Vector(graft.meta.SuccessfulImport("gtfs_1500000000_gone00", 1500000000L, "gone00")), ())
    }
    val feed = TestFeed.writeTo(Files.createTempDirectory("fd"))
    val r = Import.importGtfsAtomically(spark,
      mkCfg(root, feed, "z").copy(now = () => 1700000200L))
    assert(!r.importSkipped)
    val after = store.listImports("gtfs_").map(_.dbName)
    assert(!after.contains("gtfs_1500000000_gone00"))
    assert(after.size == 1)
  }

  test("S1: import straight from a URL (mirror download wired in)") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // serve the fixture feed as a zip over local HTTP
    val feedDir = graft.gtfs.TestFeed.writeTo(Files.createTempDirectory("fz"))
    val zipPath = Files.createTempDirectory("fzz").resolve("gtfs.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    Files.list(feedDir).forEach { f =>
      zos.putNextEntry(new java.util.zip.ZipEntry(f.getFileName.toString))
      zos.write(Files.readAllBytes(f)); zos.closeEntry()
    }
    zos.close()
    val bytes = Files.readAllBytes(zipPath)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/gtfs.zip", (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes); ex.close()
    })
    server.start()
    try {
      val root = Files.createTempDirectory("store-url")
      val cfg = mkCfg(root, feedDir, "u").copy(
        feedUrl = Some(s"http://127.0.0.1:${server.getAddress.getPort}/gtfs.zip"),
        userAgent = "graft-test/1.0", now = () => 1700000400L)
      val r = Import.importGtfsAtomically(spark, cfg)
      assert(!r.importSkipped && r.newImport.isDefined)
      val store = MetaStore(root.toString)
      assert(Files.exists(
        store.databasePath(r.newImport.get.dbName).resolve("stop_times")))
    } finally server.stop(0)
  }

  test("postprocessing scripts change the composite digest → re-import") {
    val root = Files.createTempDirectory("store-pp")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fp"))
    val pp = Files.createTempDirectory("pp-scripts")
    var clock = 1700000300L
    def cfg(ppDir: Option[Path], tag: String) =
      mkCfg(root, feed, tag).copy(postprocessingDir = ppDir,
        now = () => { clock += 10; clock })
    val r1 = Import.importGtfsAtomically(spark, cfg(None, "a"))
    assert(!r1.importSkipped)
    // same feed, but now a postprocessing script exists → digest differs
    Files.writeString(pp.resolve("01-x.sql"), "SELECT count(*) FROM stops")
    val r2 = Import.importGtfsAtomically(spark, cfg(Some(pp), "b"))
    assert(!r2.importSkipped, "changed scripts must force reimport (H3)")
    // unchanged scripts → skip
    val r3 = Import.importGtfsAtomically(spark, cfg(Some(pp), "c"))
    assert(r3.importSkipped)
  }

  test("postprocessing.d entry that is neither .sql nor executable fails loudly") {
    val root = Files.createTempDirectory("store-ppnx")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fppnx"))
    val pp = Files.createTempDirectory("ppnx-scripts")
    // forgot chmod +x — silently skipping would lose the postprocessing
    // forever (content is already in the digest, so chmod alone never
    // triggers a re-import)
    Files.writeString(pp.resolve("20-fixup"), "#!/bin/sh\necho hi\n")
    val e = intercept[IllegalStateException] {
      Import.importGtfsAtomically(spark,
        mkCfg(root, feed, "ppnx").copy(postprocessingDir = Some(pp),
          now = () => 1700000650L))
    }
    assert(e.getMessage.contains("chmod"), e.getMessage)
  }

  test("§2.11 postprocessing.d executes: sql → views, executables get the import dir") {
    val root = Files.createTempDirectory("store-ppx")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fppx"))
    val pp = Files.createTempDirectory("ppx-scripts")
    // *.sql runs against the registered entity views (psql analog);
    // two statements in one file (the `-1` whole-file semantics)
    Files.writeString(pp.resolve("10-views.sql"),
      """CREATE OR REPLACE TEMPORARY VIEW pp_stop_count AS
        |SELECT count(*) AS n FROM stops;
        |SELECT * FROM pp_stop_count""".stripMargin)
    // non-.sql executable runs with (gtfs dir, db dir) argv — its effect
    // must land in the PUBLISHED import
    val sh = pp.resolve("20-marker")
    Files.writeString(sh, "#!/bin/sh\necho postprocessed > \"$2/pp-marker.txt\"\n")
    sh.toFile.setExecutable(true)
    // dotfiles are excluded (P6) — this one would fail the import if run
    Files.writeString(pp.resolve(".90-broken.sql"), "SELECT * FROM no_such_table")
    val r = Import.importGtfsAtomically(spark,
      mkCfg(root, feed, "ppx", clean = true).copy(postprocessingDir = Some(pp),
        now = () => 1700000600L))
    assert(!r.importSkipped)
    val db = MetaStore(root.toString).databasePath(r.newImport.get.dbName)
    assert(Files.exists(db.resolve("pp-marker.txt")),
      "executable postprocessing script's effect visible in the published import")
    assert(spark.sql("SELECT n FROM pp_stop_count").head().getLong(0) >= 1L,
      "sql postprocessing script's view queryable after import")
    // C18: the cleaning log artifact is persisted alongside the import
    val log = db.resolve("clean-log.txt")
    assert(Files.exists(log))
    val logTxt = Files.readString(log)
    assert(logTxt.contains("delete-orphans\ton") && logTxt.contains("feed_digest"))
  }

  test("K1 JDBC: per-import schema load; retention drops the old schema") {
    import graft.sinks.JdbcSink
    val url = "jdbc:derby:memory:graftpipe;create=true"
    val target = JdbcSink.JdbcTarget(url, loadParallelism = 1)
    val root = Files.createTempDirectory("store-jdbc")
    var clock = 1700001000L
    def cfg(dir: Path, tag: String) =
      mkCfg(root, dir, tag, clean = true).copy(jdbcTarget = Some(target),
        determineDbsToRetain = Retention.newestN(1),
        now = () => { clock += 10; clock })
    val f1 = TestFeed.writeTo(Files.createTempDirectory("fj1"))
    val r1 = Import.importGtfsAtomically(spark, cfg(f1, "a"))
    val db1 = r1.newImport.get.dbName
    // entities queryable via JDBC in the import's schema
    val agencies = JdbcSink.readTable(spark, target, s"$db1.agency")
    assert(agencies.count() == 1, "C11-merged agency loaded via JDBC")
    assert(JdbcSink.readTable(spark, target, s"$db1.stops").count() > 0)
    // two more imports with newest-1 retention → db1's schema is dropped
    val f2 = TestFeed.writeTo(Files.createTempDirectory("fj2"),
      _.updated("feed_info.txt",
        "feed_publisher_name,feed_publisher_url,feed_lang\nM2,https://m2,EN\n"))
    Import.importGtfsAtomically(spark, cfg(f2, "b"))
    val f3 = TestFeed.writeTo(Files.createTempDirectory("fj3"),
      _.updated("feed_info.txt",
        "feed_publisher_name,feed_publisher_url,feed_lang\nM3,https://m3,FR\n"))
    val r3 = Import.importGtfsAtomically(spark, cfg(f3, "c"))
    assert(!MetaStore(root.toString).listDatabases("gtfs_").contains(db1))
    intercept[Exception] { // schema gone with the directory (T4)
      JdbcSink.readTable(spark, target, s"$db1.agency").count()
    }
    // newest import remains queryable
    assert(JdbcSink.readTable(spark, target,
      s"${r3.newImport.get.dbName}.agency").count() == 1)
  }

  test("stage overrides: GTFS_DOWNLOAD_SCRIPT / GTFS_IMPORT_SCRIPT analogs") {
    val root = Files.createTempDirectory("store-ovr")
    val feedDir = TestFeed.writeTo(Files.createTempDirectory("fovr"))
    var dlCalled = false
    var impCalled = false
    val cfg = mkCfg(root, feedDir, "ov").copy(
      feedUrl = Some("http://unreachable.invalid/feed.zip"),
      userAgent = "graft-test/1.0",
      // download override ignores the URL and zips the fixture itself —
      // proving the stage is replaced wholesale (no network touched)
      downloadStage = Some { (_, dest, _) =>
        val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(dest))
        Files.list(feedDir).forEach { f =>
          zos.putNextEntry(new java.util.zip.ZipEntry(f.getFileName.toString))
          zos.write(Files.readAllBytes(f)); zos.closeEntry()
        }
        zos.close(); dlCalled = true; dest
      },
      importStage = Some { (s, c, staged, dbPath) =>
        impCalled = true
        Import.defaultImportStage(s, c, staged, dbPath)
      },
      now = () => 1700000700L)
    val r = Import.importGtfsAtomically(spark, cfg)
    assert(dlCalled && impCalled, "both stage overrides invoked")
    assert(!r.importSkipped && r.newImport.isDefined)
    assert(Files.exists(
      MetaStore(root.toString).databasePath(r.newImport.get.dbName).resolve("stops")))
  }

  test("zip feed + importStage override: postprocessing gets an extracted DIR") {
    val root = Files.createTempDirectory("store-ovz")
    val feedDir = TestFeed.writeTo(Files.createTempDirectory("fovz"))
    // zip the fixture: the staged feed is then a FILE, the case where
    // handing argv[1] = staged verbatim would violate the gtfs-dir
    // contract for postprocessing executables
    val zip = Files.createTempDirectory("zovz").resolve("feed.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    Files.list(feedDir).forEach { f =>
      zos.putNextEntry(new java.util.zip.ZipEntry(f.getFileName.toString))
      zos.write(Files.readAllBytes(f)); zos.closeEntry()
    }
    zos.close()
    val pp = Files.createTempDirectory("ppovz")
    val sh = pp.resolve("10-check")
    // the script fails unless argv[1] is a directory containing the feed
    Files.writeString(sh,
      "#!/bin/sh\ntest -d \"$1\" && test -f \"$1/stops.txt\" || exit 7\n" +
        "echo ok > \"$2/ppz-marker.txt\"\n")
    sh.toFile.setExecutable(true)
    val cfg = mkCfg(root, zip, "ovz").copy(
      postprocessingDir = Some(pp),
      importStage = Some { (s, c, staged, dbPath) =>
        Import.defaultImportStage(s, c, staged, dbPath)
      },
      now = () => 1700000800L)
    val r = Import.importGtfsAtomically(spark, cfg)
    assert(!r.importSkipped && r.newImport.isDefined)
    val db = MetaStore(root.toString).databasePath(r.newImport.get.dbName)
    assert(Files.exists(db.resolve("ppz-marker.txt")),
      "script must have received an extracted gtfs directory")
  }

  test("C19 preprocess script: runs over extracted CSVs pre-clean, digest-coupled") {
    val root = Files.createTempDirectory("store-pre")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fpre"))
    var clock = 1700002000L
    def cfg(script: Option[Path], tag: String) =
      mkCfg(root, feed, tag, clean = true).copy(preprocessScript = script,
        now = () => { clock += 10; clock })
    // the script edits a referenced stop's name IN THE EXTRACTED CSVs —
    // the effect must flow through cleaning into the published import
    // (reference: /etc/gtfs/preprocess.sh over $gtfs_path pre-gtfsclean)
    val script = Files.createTempDirectory("pre").resolve("preprocess.sh")
    Files.writeString(script,
      "#!/bin/sh\nsed -i 's/Zoologischer Garten/Preprocessed Garten/' \"$1/stops.txt\"\n")
    script.toFile.setExecutable(true)
    val r1 = Import.importGtfsAtomically(spark, cfg(Some(script), "a"))
    assert(!r1.importSkipped)
    val db = MetaStore(root.toString).databasePath(r1.newImport.get.dbName)
    val stops = spark.read.parquet(db.resolve("stops").toString)
    import org.apache.spark.sql.functions.col
    assert(stops.where(col("stop_name") === "Preprocessed Garten").count() == 1,
      "preprocess script's CSV edit visible in the published import")
    // same feed + same script → P5 skip still works
    val r2 = Import.importGtfsAtomically(spark, cfg(Some(script), "b"))
    assert(r2.importSkipped)
    // editing the script changes the composite digest → re-import (H3)
    Files.writeString(script,
      "#!/bin/sh\nsed -i 's/Zoologischer Garten/Other Garten/' \"$1/stops.txt\"\n")
    val r3 = Import.importGtfsAtomically(spark, cfg(Some(script), "c"))
    assert(!r3.importSkipped, "edited preprocess script must defeat skip-if-unchanged")
    // forgot chmod +x → fail loudly (the content is already digested, so
    // silently skipping would make the fix invisible to P5 forever)
    val bad = Files.createTempDirectory("prebad").resolve("preprocess.sh")
    Files.writeString(bad, "#!/bin/sh\nexit 0\n")
    val e = intercept[IllegalStateException] {
      Import.importGtfsAtomically(spark, cfg(Some(bad), "d"))
    }
    assert(e.getMessage.contains("chmod"), e.getMessage)
  }

  test("postprocessing SQL with a quoted ';' splits correctly (psql whole-file parity)") {
    val root = Files.createTempDirectory("store-semi")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fsemi"))
    val pp = Files.createTempDirectory("pp-semi")
    Files.writeString(pp.resolve("10-semi.sql"),
      """-- a comment with a ; that must not split
        |CREATE OR REPLACE TEMPORARY VIEW pp_semi AS
        |SELECT ';' AS semi, 'it''s; fine' AS escaped /* block ; comment */;
        |SELECT * FROM pp_semi""".stripMargin)
    val r = Import.importGtfsAtomically(spark,
      mkCfg(root, feed, "semi").copy(postprocessingDir = Some(pp),
        now = () => 1700002500L))
    assert(!r.importSkipped)
    val row = spark.sql("SELECT semi, escaped FROM pp_semi").head()
    assert(row.getString(0) == ";")
    assert(row.getString(1) == "it's; fine")
  }

  test("T1: a stale lockfile from a crashed importer does not wedge the next run") {
    val root = Files.createTempDirectory("store-stale")
    val store = MetaStore(root.toString)
    // a crashed JVM leaves the lockFILE behind, but the OS released its
    // region lock with the process — the next importer must proceed
    // (the reference's PG lock dies with the session, import.js:128-132)
    Files.createFile(root.resolve("meta").resolve(".import.lock"))
    store.acquireLockNowait() // must NOT fail fast on the stale file
    store.releaseLock()
  }

  test("openLatestImport registers translated views for present translatable pairs only") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-trv")
    val feed = TestFeed.writeTo(Files.createTempDirectory("ftrv"))
    Import.importGtfsAtomically(spark, mkCfg(root, feed, "trv"))
    assert(Import.openLatestImport(spark, root, "gtfs_").isDefined)
    val t = spark.table("stops_translated")
      .where("record_key = 's2' and language = 'de'")
      .select("stop_name_translated").as[String].collect().toSeq
    assert(t == Seq("Alexanderplatz Bhf"), s"got $t")
    // routes.txt omits route_long_name but the schema'd scan (S3)
    // carries every spec column, so the pair IS registered — with no
    // translations its rows are pure fallback (language NULL)
    val rt = spark.table("routes_translated")
    assert(rt.count() == 2 && rt.where("language is not null").count() == 0)
  }

  test("T5+: a reader lease on the versioned manifest survives the retention pass") {
    val root = Files.createTempDirectory("store-lease")
    val store = MetaStore(root.toString)
    var clock = 1700000000L
    def cfg(dir: Path, tag: String) =
      mkCfg(root, dir, tag).copy(now = () => { clock += 10; clock })
    def distinctFeed(n: Int) = TestFeed.writeTo(
      Files.createTempDirectory(s"lease-f$n"),
      _.updated("feed_info.txt",
        s"feed_publisher_name,feed_publisher_url,feed_lang\nPub$n,https://p$n,DE\n"))
    val r1 = Import.importGtfsAtomically(spark, cfg(distinctFeed(1), "l1"))
    val db1 = r1.newImport.get.dbName
    // a long-running reader pins the manifest version that names db1
    val lease = store.pinCurrent(ttlSecs = 100000, now = () => clock)
    assert(store.listImportsAt(lease.version).map(_.dbName) == Seq(db1))
    // three more imports: newest-2 retention would normally reap db1
    // (proven by the first test in this suite)
    (2 to 4).foreach(n =>
      Import.importGtfsAtomically(spark, cfg(distinctFeed(n), s"l$n")))
    assert(Files.exists(store.databasePath(db1)),
      "pinned db deleted out from under a leased reader")
    // the pinned snapshot is still fully readable mid-retention
    assert(spark.read.parquet(
      store.databasePath(db1).resolve("agency").toString).count() > 0)
    // release → the NEXT retention pass reaps it
    lease.release()
    Import.importGtfsAtomically(spark, cfg(distinctFeed(5), "l5"))
    assert(!Files.exists(store.databasePath(db1)),
      "released db must be reaped by the next retention pass")
    // an EXPIRED lease pins nothing: pin, advance past ttl, import
    val r6 = store.listImports("gtfs_").head
    val expiring = store.pinCurrent(ttlSecs = 5, now = () => clock)
    clock += 100000
    Import.importGtfsAtomically(spark, cfg(distinctFeed(6), "l6"))
    Import.importGtfsAtomically(spark, cfg(distinctFeed(7), "l7"))
    Import.importGtfsAtomically(spark, cfg(distinctFeed(8), "l8"))
    assert(!Files.exists(store.databasePath(r6.dbName)),
      s"expired lease must not pin ${r6.dbName}")
    expiring.release() // idempotent on an already-reaped lease file
  }

  test("service loop: openLatestImport drains deferred releases — no net persistent-RDD growth") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-drain")
    val feed = TestFeed.writeTo(Files.createTempDirectory("fdrain"))
    Import.importGtfsAtomically(spark, mkCfg(root, feed, "drain"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // two service-loop cycles, each running a fixpoint-backed query the
    // way the query surface does (Components.run + Releases.defer) but
    // NEVER draining itself — the drain-less caller the release
    // contract on openLatestImport is written for
    (1 to 2).foreach { cycle =>
      assert(Import.openLatestImport(spark, root, "gtfs_").isDefined)
      val labels = graft.ops.Components.run(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
      assert(labels.components.count() == 5) // caller's action
      graft.ops.Releases.defer(labels.release)
      // the cycle's own blocks are still pinned (lazy caller), but the
      // PREVIOUS cycle's were drained at the openLatestImport boundary:
      // net growth stays bounded by one cycle, not the loop length
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.nonEmpty, "fixpoint should pin checkpoint blocks until drained")
      assert(pinned.size <= 2,
        s"cycle $cycle: more than one cycle's blocks pinned: $pinned")
    }
    graft.ops.Releases.drain() // end of service: caller-owned final drain
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "all checkpoint blocks released after the final drain")
  }
}
