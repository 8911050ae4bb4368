package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.QueryDef
import graft.{queries => q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query families live in `graft.queries.*`; each entry pairs a Spark
  * plan with a DuckDB-equivalent oracle SQL (where SQL-expressible).
  */
object SparkEntry {

  private lazy val families: Seq[Map[String, QueryDef]] = Seq(
    q.Bookkeeping.defs,
    q.Views.defs,
    q.Clean.defs,
    q.LlmOps.defs,
    q.GeoOps.defs,
    q.Events.defs,
    q.Warehouse.defs,
  )

  private lazy val defs: Map[String, QueryDef] = {
    val total = families.map(_.size).sum
    val merged = families.foldLeft(Map.empty[String, QueryDef])(_ ++ _)
    require(merged.size == total,
      s"duplicate query names across families: ${total - merged.size} shadowed")
    merged
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core consumer view: the arrivals/departures star join
    * (SURVEY.md §2.7 V2) re-expressed over the TPC-H-ish tables —
    * fact ⋈ broadcast dims + grouped stats. Only the bounded dims
    * (nation, region — fixed cardinality at any SF) are broadcast;
    * customer scales with SF, so its join is left to AQE.
    */
  def entry(spark: SparkSession): DataFrame = q.Views.v2Entry(spark, SmokeDir)

  /** The smoke tables: the flagship query's input and the data
    * [[Warmup]] runs the suite over. */
  val SmokeDir = "/root/testdata/sf0.001"

  /** Cores the suite session runs on: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Whole-stage-codegen class cache entries, sized to the SUITE rather
    * than Spark's default 100. The 101-query suite compiles several
    * codegen units per query, so one whole-suite pass cycles the
    * default LRU many times over and every extra bench pass re-paid
    * full Janino compilation per query. Measured A/B, same build, back
    * to back (r13): at 100 entries pass totals climbed MONOTONICALLY
    * 57.4→90.5→127.8 s; at 2048 a 5-pass run read
    * 54.7/55.6/79.3/68.7/50.4 s, pass 5 the fastest, the residual spread
    * uniform across queries (host noise). First-run totals dropped too
    * (97.1→88.5 s, under the hand-written warmup of the time): warmed
    * classes survive to the late-alphabet queries instead of being
    * evicted mid-pass. [[Warmup]] now compiles every query's classes in
    * one untimed suite pass, which pays off only if the cache holds the
    * whole suite. 2048 entries ≈ the suite's working set at ~50 KB/entry,
    * and the same knob a long-lived SQL service running a repeated query
    * mix raises for the same reason. */
  private[graft] val CodegenCacheEntries = 2048

  /** The one session builder of the suite mains (Bench, Verify, Probe,
    * Explain), so correctness runs, plan audits and timings all see the
    * settings the bench uses. Returned unbuilt: a caller may add its
    * own settings (Probe's event log) before `getOrCreate`.
    *   - `local[cpus]`, see [[cpus]];
    *   - shuffle width sized to the input (r12 VERDICT #1,
    *     [[graft.ops.ShuffleWidth.forDir]]): floor = cpus, so small
    *     corpora keep one partition per core, while at sf10+ the width
    *     grows with the data and the fixed-width spill family
    *     (q22/q9/ppl_buckets) stays inside its per-task memory;
    *   - UTC session time zone and no UI;
    *   - codegen class cache of [[CodegenCacheEntries]];
    *   - `spark.sql.broadcastTimeout` 3600 s: the lmScore model joins
    *     broadcast an AGGREGATED relation (c2 = corpus-wide bigram
    *     counts), so the broadcast future awaits a corpus-scale build
    *     job — at sf1000 that job alone exceeds the 300 s default,
    *     which assumes the build side is a scan. */
  def sessionBuilder(sfDir: String): SparkSession.Builder = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions",
        graft.ops.ShuffleWidth.forDir(sfDir, n).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.broadcastTimeout", "3600")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    defs.map { case (k, v) => k -> v.oracle }
}
