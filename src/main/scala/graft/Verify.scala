package graft
import graft.ops.JsonOut.q
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Current git HEAD, resolved by file read (no git exec, no JNI):
    * `.git/HEAD` is either a detached sha or `ref: <path>`; symbolic
    * refs may live loose under `.git/<path>` or only in
    * `.git/packed-refs`. Best-effort — "unknown" if the layout is
    * anything else (worktrees, shallow mirrors). */
  private def buildCommit: String = try {
    val head = Files.readString(Paths.get(".git/HEAD")).trim
    if (!head.startsWith("ref: ")) head
    else {
      val ref = head.stripPrefix("ref: ")
      val loose = Paths.get(s".git/$ref")
      if (Files.exists(loose)) Files.readString(loose).trim
      else Files.readAllLines(Paths.get(".git/packed-refs")).stream()
        .filter(l => l.endsWith(" " + ref)).findFirst()
        .map[String](_.split(" ")(0)).orElse("unknown")
    }
  } catch { case _: Exception => "unknown" }

  /** Machine-readable protocol stamp (r13 VERDICT #7): the knobs that
    * shaped this run, so CORRECTNESS artifacts are self-describing —
    * the compare tools merge these fields into their `_meta`. Strings go
    * through [[graft.ops.JsonOut.q]]: an sf dir may carry any character. */
  private[graft] def runMeta(sfDir: String, cpus: Int, shufflePartitions: Int,
      sparkVersion: String, buildCommit: String): String =
    s"""{"sf_dir": ${q(sfDir)}, "cpus": $cpus, "shuffle_partitions": $shufflePartitions,
       | "codegen_cache_max_entries": ${SparkEntry.CodegenCacheEntries},
       | "spark_version": ${q(sparkVersion)},
       | "build_commit": ${q(buildCommit)}}""".stripMargin

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names, for fast local iteration
    // on a subset (driver always calls with two args = run everything).
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    // the bench's own session, so correctness runs exercise the width
    // and settings the bench uses
    val spark = SparkEntry.sessionBuilder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/run_meta.json"), runMeta(sfDir,
      SparkEntry.cpus, spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.version, buildCommit))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // release checkpoint blocks the query deferred (caller-owned:
        // only after the write has materialized the result)
        graft.ops.Releases.drain()
      }
    }
    // JSON string escape (shared ops.JsonOut) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
