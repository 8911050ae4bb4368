package graft

/** Plan-audit main: prints `.explain("formatted")` for the named
  * queries (or all) against a testdata dir. Used to check the plans we
  * want: filters pushed into scans (PushedFilters), pruned ReadSchema,
  * broadcasts only on bounded dims, WholeStageCodegen spans, no
  * cartesian products outside the bounded ANN baseline.
  *
  * Run: sbt "runMain graft.Explain <sfDir> [query ...]"
  * With AQE (the default) static explain hides runtime exchange reuse;
  * pass `-run` before the query names to EXECUTE each query (noop sink)
  * and print the final adaptive plan instead — ReusedExchange /
  * ReusedQueryStage only appear there. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val run = args.contains("-run")
    // `-run` with no query names must still mean "all queries": compute
    // the name list AFTER stripping flags, then fall back on empty.
    val named = args.drop(1).toSeq.filterNot(_ == "-run")
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    // the bench's session, so the audited plans carry the bench's
    // shuffle width and settings
    val spark = SparkEntry.sessionBuilder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[explain] sfDir=$sfDir cpus=${SparkEntry.cpus} " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (run) {
        // collect, not a noop write: DataFrameWriter builds its OWN
        // QueryExecution, so after a write df.queryExecution is still
        // the unexecuted plan (isFinalPlan=false) — only an action on
        // the Dataset itself finalizes the adaptive plan we print
        df.collect()
        println(df.queryExecution.executedPlan.toString)
        // -run executes eager fixpoints (llm_cluster_fixpoint et al.)
        // which defer localCheckpoint block release to ops.Releases —
        // drain per query like Verify/Bench/Probe do, or a long -run
        // sweep accumulates checkpoint blocks.
        graft.ops.Releases.drain()
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
