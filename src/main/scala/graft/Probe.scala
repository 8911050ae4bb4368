package graft

/** Timing probe: runs each named query `iters` times (noop sink, like
  * Bench) and prints every iteration's seconds. Iteration 1 minus the
  * steady-state tail isolates the fixed planning/codegen cost from the
  * repeatable data-path cost — the split that decides whether a slow
  * bench row needs a better plan or is pure per-query overhead.
  *
  * Run: sbt "runMain graft.Probe <sfDir> <iters> <query ...>" */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    // The suite session (SparkEntry.sessionBuilder, input-sized width);
    // the env override remains for width EXPERIMENTS, i.e. separating
    // "plan grows super-linearly" from "fixed width spills at this input".
    val widthOverride = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").filter(_.nonEmpty)
    val builder = SparkEntry.sessionBuilder(sfDir)
    widthOverride.foreach(builder.config("spark.sql.shuffle.partitions", _))
    // Optional durability-mode probe (r12 VERDICT #4): route every
    // ops.Checkpoints.pin through a RELIABLE checkpoint to this dir
    // (local disk standing in for HDFS) to measure the snapshot-write
    // overhead vs the default localCheckpoint on the same queries.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
      .foreach(d => builder.config("spark.graft.checkpointDir", d))
    // Optional per-stage profiling (r18, guide §7): write the Spark
    // event log so a slow probe row can be broken into stage wall /
    // shuffle bytes / task-time skew offline — the empirical loop the
    // optimization guide demands, with the UI disabled.
    sys.env.get("SPARK_GRAFT_EVENTLOG").filter(_.nonEmpty).foreach { dir =>
      new java.io.File(dir).mkdirs()
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    println(s"[probe] sfDir=$sfDir cpus=${SparkEntry.cpus} shuffle.partitions=$parts" +
      (if (widthOverride.isDefined) " (env override)" else " (derived)"))
    // Same untimed warmup as Bench (every query once over the smoke
    // tables), so probe numbers are comparable to bench rows: the first
    // iteration's extra cost is planning plus whatever the smoke-scale
    // plans did not compile.
    Warmup.run(spark, sfDir)
    // Cumulative stop-the-world GC seconds across all collectors — the
    // per-iteration DELTA separates "the iteration was slow because the
    // collector ran" from "the data path was slow" (the r14 sf1000
    // scorer spread 704→1194 s was attributed to GC churn by shape;
    // r15's heap-sizing rule was validated by this number).
    // per-bean baselines: a bean's FIRST non-negative reading is its
    // baseline (delta 0), so neither a -1→real transition nor a bean
    // appearing mid-run can charge its lifetime collection time to one
    // iteration (r16 ADVICE: the earlier filter(_ >= 0) still summed
    // absolute counters, so the first real reading landed whole)
    val gcBase = scala.collection.mutable.HashMap.empty[String, Long]
    def gcSec(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map { b =>
          val t = b.getCollectionTime
          if (t < 0L) 0L else t - gcBase.getOrElseUpdate(b.getName, t)
        }.sum / 1e3
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val ts = (1 to iters).zipWithIndex.map { case (_, it) =>
        // label the jobs (guide §1.5) so event-log stages attribute
        // to (query, iteration) without timestamp archaeology
        spark.sparkContext.setJobDescription(s"$n#$it")
        val g0 = gcSec()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val gc = gcSec() - g0 // GC inside the timed window only
        graft.ops.Releases.drain() // untimed, like Bench
        System.gc()                // untimed, like Bench (spike hygiene)
        (sec, gc)
      }
      println(f"$n%-28s ${ts.map(t => f"${t._1}%6.2f").mkString(" ")}" +
        f"   gc: ${ts.map(t => f"${t._2}%5.1f").mkString(" ")}")
    }
    spark.stop()
  }
}
