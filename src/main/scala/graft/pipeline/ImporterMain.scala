package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Env-driven entrypoint — the runnable-image role of the reference's
  * `importer.js:5-26` + `Dockerfile:73` (`CMD node importer.js`): read
  * the import contract from the environment, fail fast on the
  * mandatory trio, run ONE atomic import, print the K6 result object,
  * exit non-zero on failure (r14 VERDICT #6 — the last reference
  * artifact with no repo counterpart).
  *
  * Mandatory (same names, same fail-fast as importer.js:5-20):
  *   GTFS_DOWNLOAD_USER_AGENT   UA for the mirror download (S1)
  *   GTFS_DOWNLOAD_URL          feed zip URL
  *   GTFS_IMPORTER_DB_PREFIX    db-name prefix (suffix "_" appended,
  *                              importer.js:25)
  * Optional (import.js:57-77 analogs; defaults in parens):
  *   GTFS_STORE_ROOT            MetaStore root dir (./gtfs-store) —
  *                              the parquet-warehouse analog of the PG
  *                              cluster the reference imports into
  *   GTFS_TMP_DIR               staging dir (/tmp/gtfs, import.js:69)
  *   GTFS_IMPORTER_DSN_FILE     PgBouncer-style DSN pointer file (K4)
  *   GTFS_POSTPROCESSING_D_PATH postprocessing.d dir, hashed into the
  *                              feed digest AND executed (§2.11;
  *                              /etc/gtfs/postprocessing.d when present)
  *   GTFS_PREPROCESS_SCRIPT     pre-clean shell hook (C19;
  *                              /etc/gtfs/preprocess.sh when present,
  *                              import.sh:32-35)
  *   GTFS_IMPORTED_CONTINUE_ON_FAILURE_DELETING_OLD_DB ("false")
  *   GTFS_MATERIALIZE_VIEWS     write V1/V2 into the import ("false")
  *   PGURL / PGUSER / PGPASSWORD  optional JDBC bulk-load target (K1):
  *                              one schema per import, e.g.
  *                              PGURL=jdbc:postgresql://host:5432/db
  *   SPARK_MASTER               ("local[*]") — on a cluster, prefer
  *                              spark-submit, which sets the master
  *
  * The import sizes its own shuffle width from the feed
  * ([[graft.ops.ShuffleWidth]]), so `spark.sql.shuffle.partitions`
  * needs no setting.
  *
  * Launch (see README "Run the importer" + Dockerfile):
  *   bin/graft-importer        — thin jar + /opt/spark/jars classpath
  *   spark-submit --class graft.pipeline.ImporterMain <thin jar>
  */
object ImporterMain {

  /** K6 result object as one JSON line — importer.js surfaces the same
    * fields from import.js:83-90. Db names are derived from the
    * configured prefix, so they are escaped like any untrusted string
    * (a quote or backslash in GTFS_IMPORTER_DB_PREFIX must not emit
    * invalid JSON — ImporterMainSpec's hostile-prefix case). */
  private[pipeline] def resultJson(r: Import.Result): String = {
    import graft.ops.JsonOut.q
    s"""{"importSkipped": ${r.importSkipped}, """ +
      s""""newDb": ${r.newImport.map(i => q(i.dbName)).getOrElse("null")}, """ +
      s""""deletedDatabases": [${r.deletedDatabases.map(q).mkString(", ")}], """ +
      s""""retainedDatabases": [${r.retainedDatabases.map(q).mkString(", ")}], """ +
      s""""downloadDurationMs": ${r.downloadDurationMs}, """ +
      s""""importDurationMs": ${r.importDurationMs}}"""
  }

  private def required(name: String): String =
    sys.env.get(name).filter(_.nonEmpty).getOrElse {
      System.err.println(s"Missing/empty $$$name.")
      sys.exit(1)
    }

  def main(args: Array[String]): Unit = {
    val userAgent = required("GTFS_DOWNLOAD_USER_AGENT")
    val url = required("GTFS_DOWNLOAD_URL")
    val dbPrefix = required("GTFS_IMPORTER_DB_PREFIX") + "_"

    val storeRoot = Paths.get(
      sys.env.getOrElse("GTFS_STORE_ROOT", "gtfs-store"))
    val tmpDir = Paths.get(sys.env.getOrElse("GTFS_TMP_DIR", "/tmp/gtfs"))
    def optPath(env: String, fallbackIfExists: String) =
      sys.env.get(env).map(Paths.get(_))
        .orElse(Some(Paths.get(fallbackIfExists)).filter(Files.exists(_)))
    val jdbc = sys.env.get("PGURL").map(u =>
      graft.sinks.JdbcSink.JdbcTarget(u,
        user = sys.env.getOrElse("PGUSER", ""),
        password = sys.env.getOrElse("PGPASSWORD", "")))

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-gtfs-importer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled",
        sys.env.getOrElse("SPARK_UI_ENABLED", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Import.Config(
      feedSource = tmpDir.resolve("gtfs.zip"), // unused: feedUrl wins
      storeRoot = storeRoot,
      dbPrefix = dbPrefix,
      tmpDir = tmpDir,
      feedUrl = Some(url),
      userAgent = userAgent,
      postprocessingDir =
        optPath("GTFS_POSTPROCESSING_D_PATH", "/etc/gtfs/postprocessing.d"),
      preprocessScript =
        optPath("GTFS_PREPROCESS_SCRIPT", "/etc/gtfs/preprocess.sh"),
      continueOnDeleteFailure = sys.env.get(
        "GTFS_IMPORTED_CONTINUE_ON_FAILURE_DELETING_OLD_DB").contains("true"),
      dsnFilePath = sys.env.get("GTFS_IMPORTER_DSN_FILE").map(Paths.get(_)),
      materializeViews =
        sys.env.get("GTFS_MATERIALIZE_VIEWS").contains("true"),
      jdbcTarget = jdbc)

    try {
      val r = Import.importGtfsAtomically(spark, cfg)
      println(resultJson(r))
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"[importer] import failed: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
