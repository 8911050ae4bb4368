package graft.perfbench

/** Per-layer metrics of a traced run, from its spans and Spark events.
  * The tracer's own row counts between stages (`trace.count` spans) are
  * left out of every `spark.*` and driver-only figure: their jobs are not
  * counted, and their time is neither job time nor driver-only time. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def metrics(tr: Tracer, log: JobLog, imp: Span, outcome: TracedImport.Outcome,
      v2Rows: Long, v2Files: Long, reads: Reads): Seq[(String, Double, String)] = {
    def inImport(s: Span) = s.startNs >= imp.startNs && s.endNs <= imp.endNs
    def ms(name: String) = tr.named(name).filter(inImport).map(_.ms).sum
    def jobsOf(group: String) = log.jobsIn(_ == group).size.toDouble
    val inWindow = (j: log.Job) => j.startNs >= imp.startNs && j.startNs <= imp.endNs
    val importJobs = log.jobsIn(_ != "trace.count").filter(inWindow)
    val importGroups = importJobs.map(_.group).toSet
    val importTasks = log.tasksIn(importGroups)
    val busyIv = importJobs.filter(_.endNs > 0).map(j => (j.startNs, j.endNs)) ++
      tr.named("trace.count").map(s => (s.startNs, s.endNs))
    def driverOnlyMs(s: Span) = s.ms - Intervals.unionNs(Intervals.clip(busyIv, s.startNs, s.endNs)) / 1e6

    val cleanSpans = tr.all.filter(s => s.name.startsWith("clean.") && inImport(s))
    val stages = TracedImport.stageNames
    val perStage = stages.flatMap { st =>
      val g = s"clean.$st"
      Seq((s"$g.ms", ms(g), "ms"), (s"$g.jobs", jobsOf(g), "count"),
        (s"$g.rows_removed", outcome.rowsRemoved(st).toDouble, "count"))
    }
    val readTasks = (g: String) => log.tasksIn(_ == g).map(_.recordsRead).sum.toDouble
    val boardSpans = tr.named("views.board"); val nearbySpans = tr.named("geo.nearby")
    val taskMs = importTasks.map(_.durationMs.toDouble)
    val children = tr.children(imp)

    Seq(
      ("pipeline.digest_ms", ms("pipeline.digest"), "ms"),
      ("pipeline.stage_extract_ms", ms("pipeline.stage_extract"), "ms"),
      ("meta.lock_ms", ms("meta.lock"), "ms"),
      ("meta.transact_ms", ms("meta.transact"), "ms"),
      ("meta.retention_ms", ms("meta.retention"), "ms"),
      ("meta.dbs_dropped", outcome.deleted.size.toDouble, "count"),
      ("schemas.read_ms", ms("schemas.read"), "ms"),
      ("schemas.rows_read", outcome.rowsRead.toDouble, "count"),
      ("schemas.tasks", log.tasksIn(_ == "schemas.read").size.toDouble, "count")) ++
    perStage ++ Seq(
      ("clean.driver_only_ms", cleanSpans.map(driverOnlyMs).sum, "ms"),
      ("clean.checkpoint_mb", cleanSpans.map(s => log.blockBytesBetween(s.startNs, s.endNs)).sum / MB, "MB"),
      ("write.ms", ms("write"), "ms"),
      ("write.bytes", outcome.writeBytes.toDouble, "bytes"),
      ("views.materialize_ms", ms("views.materialize"), "ms"),
      ("views.v2_rows", v2Rows.toDouble, "count"),
      ("views.v2_files", v2Files.toDouble, "count"),
      ("views.board_ms", Stats.median(boardSpans.map(_.ms)), "ms"),
      ("views.board_files_scanned", reads.boardFilesScanned.toDouble / math.max(1, boardSpans.size), "count"),
      ("views.board_rows_scanned_per_result",
        readTasks("views.board") / math.max(1L, reads.boardResultRows), "ratio"),
      ("geo.nearby_ms", Stats.median(nearbySpans.map(_.ms)), "ms"),
      ("geo.nearby_rows_scanned_per_result",
        readTasks("geo.nearby") / math.max(1L, reads.nearbyResultRows), "ratio"),
      ("spark.jobs", importJobs.size.toDouble, "count"),
      ("spark.tasks", importTasks.size.toDouble, "count"),
      ("spark.driver_only_ms", driverOnlyMs(imp), "ms"),
      ("spark.shuffle_write_mb", importTasks.map(_.shuffleWriteBytes).sum / MB, "MB"),
      ("spark.spill_mb", importTasks.map(_.spillBytes).sum / MB, "MB"),
      ("spark.gc_ms", importTasks.map(_.gcMs).sum.toDouble, "ms"),
      ("spark.task_p50_ms", Stats.median(taskMs), "ms"),
      ("spark.task_max_ms", if (taskMs.isEmpty) 0.0 else taskMs.max, "ms"),
      ("spark.scheduler_delay_ms", importTasks.map(_.schedulerDelayMs).sum.toDouble, "ms"),
      ("trace.import_s", imp.ms / 1000, "s"),
      ("trace.count_ms", ms("trace.count"), "ms"),
      ("trace.unaccounted_ms", imp.ms - children.map(_.ms).sum, "ms"))
  }
}
