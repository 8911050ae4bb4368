package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

package object queries {
  /** Spread the next compute-heavy narrow stage across the cluster. The
    * driver's test parquet files are single-row-group, so a scan is ONE
    * input split and every narrow transform above it (explode+hash,
    * per-group signature building, distance loops) runs in a single
    * task regardless of local[n]. One hash shuffle of the small base
    * spreads that work across all cores.
    *
    * ADAPTIVE: the repartition only happens when the input's planned
    * partition count is below the cluster's parallelism. At production
    * scale — many files, many row groups — the scan splits on its own
    * and fanout is the identity, so no query pays an extra all-data
    * exchange for what is purely a small-input parallelization aid.
    * (getNumPartitions plans the RDD lineage but runs no job; fanout
    * inputs here are scan+narrow pipelines, never post-shuffle plans.)
    *
    * Width PINNED (r18, cf. ops.OrderedDigest): a bare
    * repartition(col) is REPARTITION_BY_COL, which AQE's byte-based
    * coalescer may legally shrink — and did: llm_cosine_neardup's
    * 5.5 MB probe-side fanout coalesced to 5 tasks, each 1 MB
    * partition expanding to millions of pair dot-products the
    * advisory size cannot see. EVERY fanout call site exists because
    * the stage above it is compute-heavy relative to its bytes, so
    * coalescing is wrong here by construction. The pin is the
    * session's ShuffleWidth-derived value — scale-adaptive, not a
    * local-core constant. */
  def fanout(df: DataFrame, key: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, key: _*)
  }

  /** Epoch seconds as BIGINT. Parquet timestamps arrive as TIMESTAMP_NTZ
    * in Spark 4 (inferTimestampNTZ); with the session tz pinned to UTC the
    * NTZ→TZ cast is the identity, so this matches DuckDB's
    * `CAST(floor(epoch(ts)) AS BIGINT)` exactly.
    */
  def epochS(c: Column): Column = c.cast("timestamp").cast("long")

  /** Exact, order-independent sum of a 2-decimal double column, in cents.
    * round() on the double is IEEE-deterministic, so Spark and DuckDB
    * produce bit-identical BIGINTs regardless of aggregation order.
    */
  def sumCents(c: Column): Column = sum(round(c * 100).cast("long"))
}
