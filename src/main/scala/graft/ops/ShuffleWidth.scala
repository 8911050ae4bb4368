package graft.ops

/** Data-derived shuffle width (r12 VERDICT #1): size
  * `spark.sql.shuffle.partitions` to the INPUT, not the core count.
  *
  * Why: the r12 sf10/sf100 probes proved every >4×/decade wall-time
  * reading in the suite (q22_pagerank 4.5×, q9_overlap_same_part 5.7×
  * at sf10; llm_ppl_buckets 12× at sf100) was per-task spill at a
  * fixed 32-partition shuffle width — not a plan defect. Re-running at
  * 64/128 partitions collapsed both the times and the iteration spread
  * (SCALE.md's r12 notes, in its git history). A cluster deployment
  * sizes width to the data as a matter of course; this makes the
  * engine do it unprompted, from the same signal a cluster uses: the
  * input footprint.
  *
  * Formula: one shuffle partition per [[TargetBytes]] = 32 MiB of
  * on-disk columnar input. Parquet compresses this corpus ~4×, so a
  * partition holds ≈128 MiB decoded — the classic healthy shuffle
  * partition size, small enough to sort/aggregate in task memory
  * without spilling, large enough that per-task overhead stays
  * amortized. The raw count is then
  *   - floored at `cpus`: never fewer partitions than cores, or the
  *     session underuses the machine on small inputs (keeps the sf0.1
  *     bench at exactly 32, unchanged);
  *   - rounded UP to a multiple of `cpus`: full task waves, no
  *     straggler tail of a partial wave (a no-op concern on a real
  *     cluster where total cores >> width, harmless there too);
  *   - capped (default [[DefaultCap]]): a runaway input cannot ask for
  *     a width past what the scheduler amortizes; 4096 × 32 MiB ≈
  *     128 GiB of compressed input per session, past which a real
  *     deployment splits the job anyway. Conf-overridable at the call
  *     sites via `SPARK_GRAFT_SHUFFLE_PARTS` (Probe) for experiments.
  *
  * Derived widths on the checked-in corpora: sf0.001/sf0.01/sf0.1/sf1
  * → 32 (floor; bench protocol unchanged), sf10 (1.80 GB) → 64 —
  * exactly the width the r12 probe proved cures q22/q9 — and the
  * sf100 mixed dir (2.38 GB) → 96.
  *
  * Callers: `SparkEntry.sessionBuilder`, the one session of the suite
  * mains (Bench, Verify, Probe, Explain), which fixes the width for the
  * whole session, and the atomic importer
  * (`pipeline.Import.importGtfsAtomically`), which sizes it from the
  * staged feed (the zip copy or the feed dir) and scopes it to ONE
  * import: set after the digest-skip decision, restored to the
  * caller's value when the import lock is released.
  */
private[graft] object ShuffleWidth {
  /** Compressed input bytes per shuffle partition (≈128 MiB decoded). */
  val TargetBytes: Long = 32L * 1024 * 1024
  /** Width ceiling: 4096 × 32 MiB ≈ 128 GiB compressed per session. */
  val DefaultCap: Int = 4096

  /** clamp(ceil(bytes / targetBytes), cpus, cap), rounded up to a full
    * wave of `cpus` (the cap wins over the rounding so callers get an
    * exact ceiling). */
  def derive(inputBytes: Long, cpus: Int,
             targetBytes: Long = TargetBytes, cap: Int = DefaultCap): Int = {
    require(cpus > 0 && targetBytes > 0 && cap >= cpus,
      s"cpus=$cpus targetBytes=$targetBytes cap=$cap")
    val raw = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes)
    val floored = math.max(raw, cpus.toLong)
    val waves = (floored + cpus - 1) / cpus
    math.min(waves * cpus, cap.toLong).toInt
  }

  /** File names the sizing walk treats as columnar/data input. */
  private val DataExts = Seq(".parquet", ".orc", ".avro", ".csv",
    ".json", ".tsv", ".txt", ".gz", ".zst", ".zip")

  /** Total data bytes under `dir`, via the Hadoop FileSystem API — the
    * same listing a cluster session would make against hdfs:///s3a://
    * input (local paths resolve to RawLocalFileSystem, which follows
    * symlinks — the sf100 dir links its unchanged sf10 tables).
    *
    * The walk is DEFENSIVE against layout accidents (r13 VERDICT #4) —
    * a sizing heuristic must never wedge or skew a session:
    *   - directories are deduped by canonical path, so symlink cycles
    *     (self-links, A→B→A) are visited once and terminate — the
    *     naive `getContentSummary` walk was measured counting a cycled
    *     subtree ~20× before the OS path-length limit stopped it,
    *     silently inflating the derived width;
    *   - hidden/bookkeeping entries (`.`-/`_`-prefixed: _SUCCESS,
    *     .crc, …) are skipped, matching Spark's own scan path filter;
    *   - when any recognized data file ([[DataExts]]) is present, only
    *     data bytes count — a stray multi-GB log or core dump next to
    *     the tables cannot inflate the width; a dir with NO recognized
    *     extension falls back to its total (exotic layouts still size);
    *   - an unlistable subdir is skipped, a missing/unreadable root is
    *     0 (callers then keep the cpu floor rather than failing a
    *     session over a sizing heuristic). */
  def inputBytes(dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      if (!fs.exists(p)) return 0L
      val seen = scala.collection.mutable.HashSet[String]()
      // canonicalize through local symlinks for the cycle guard; remote
      // schemes (hdfs/s3a) have no symlinks — their path string is
      // already canonical for dedupe purposes
      def canon(path: org.apache.hadoop.fs.Path): String = {
        val scheme = path.toUri.getScheme
        if (scheme == null || scheme == "file")
          try new java.io.File(path.toUri.getPath).getCanonicalPath
          catch { case scala.util.control.NonFatal(_) => path.toString }
        else path.toString
      }
      var total = 0L
      var dataTotal = 0L
      def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
        if (st.isDirectory) {
          if (seen.add(canon(st.getPath))) {
            val children =
              try fs.listStatus(st.getPath)
              catch { case scala.util.control.NonFatal(_) =>
                Array.empty[org.apache.hadoop.fs.FileStatus] }
            children.foreach(walk)
          }
        } else {
          val name = st.getPath.getName
          if (!name.startsWith(".") && !name.startsWith("_")) {
            total += st.getLen
            if (DataExts.exists(name.endsWith)) dataTotal += st.getLen
          }
        }
      walk(fs.getFileStatus(p))
      if (dataTotal > 0) dataTotal else total
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** One-call form for the session builders: width for `dir` on
    * `cpus` cores. */
  def forDir(dir: String, cpus: Int): Int = derive(inputBytes(dir), cpus)

  /** Width for the TABLE SUBSET a workload actually reads (r16 VERDICT
    * #7): `forDir` walks the whole directory, so the width a
    * documents-only replay derives depends on which OTHER tables
    * happen to sit next to it — r16's documents-only sf10 regen
    * (610 MB) derived 32 where r15's mixed dir (1.80 GB) derived 64,
    * silently moving batch-op walls 6× via spill and forcing a
    * hand-pinned SPARK_GRAFT_SHUFFLE_PARTS for comparability. Sizing
    * to the tables the job reads makes the derivation a function of
    * the WORKLOAD, invariant to directory composition, so same-table
    * replays derive the same width in any round. Each table resolves
    * as `dir/<table>.parquet` (file or directory — `inputBytes`
    * handles both; a missing table contributes 0). No main calls it
    * any more: the documents-only streaming replay it was written for
    * is retired, and the suite mains size to the whole dir. */
  def forTables(dir: String, tables: Seq[String], cpus: Int): Int =
    derive(tables.map(t =>
      inputBytes(new org.apache.hadoop.fs.Path(dir, s"$t.parquet").toString)).sum,
      cpus)
}
