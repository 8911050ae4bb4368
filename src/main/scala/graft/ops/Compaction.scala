package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-files compaction — the table-maintenance pass every long-lived
  * deployment needs: streaming drains (Streams.drainDropToParquet),
  * per-import snapshots and CDC applies all accrete many small files,
  * and at 100 TB an un-compacted table turns every scan into millions
  * of opens + footer reads and starves split planning.
  *
  * Two modes, chosen by `clusterBy`:
  *  - EMPTY: pure bin-packing via `coalesce(n)` — NARROW (no shuffle;
  *    existing partitions are concatenated), the cheap steady-state
  *    pass. File sizes can skew toward whatever the input partitions
  *    held; that is the price of shuffle-freedom and is fine for the
  *    routine "thousands of 1 MB drains → 128 MB files" case.
  *  - NON-EMPTY: `repartitionByRange(n, keys) + sortWithinPartitions`
  *    — ONE shuffle that additionally lays rows out for min/max
  *    zone-map pruning on the cluster keys (the Geo.scala:56 layout,
  *    generalized), the right choice when the table is scanned with
  *    selective predicates on those keys.
  *
  * The target file count is computed from the ACTUAL byte size of the
  * input files (Hadoop listing), not a row-count guess, so the result
  * tracks `targetFileBytes` as data compresses. The write goes through
  * Spark's committer (temporary dir + rename + _SUCCESS) into a fresh
  * directory — publish-by-pointer-swap on top is MetaStore's versioned
  * manifest (readers keep the old directory until their lease ends;
  * the old dir is retired by retention, never overwritten in place).
  */
object Compaction {

  final case class DirStats(files: Int, bytes: Long)

  /** Count + total bytes of the data files under `dir` (non-recursive,
    * skips dotfiles/_SUCCESS — same rule as the import digests). */
  def dirStats(spark: SparkSession, dir: String): DirStats = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")
    }
    DirStats(parts.length, parts.map(_.getLen).sum)
  }

  /** Compact `inDir` (parquet) into `outDir` at ~`targetFileBytes` per
    * file. Returns the output stats. `outDir` must be fresh (immutable
    * snapshot discipline — see the scaladoc). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L << 20,
      clusterBy: Seq[String] = Nil): DirStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val in = dirStats(spark, inDir)
    val n = math.max(1, math.ceil(in.bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inDir)
    val shaped =
      if (clusterBy.isEmpty) df.coalesce(n)
      else {
        val keys: Seq[Column] = clusterBy.map(col)
        df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
      }
    shaped.write.mode("errorifexists").parquet(outDir)
    dirStats(spark, outDir)
  }
}
