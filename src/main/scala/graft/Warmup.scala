package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Untimed warmup shared by Bench and Probe: every query in
  * [[SparkEntry.queries]] runs once over the smoke tables
  * ([[SparkEntry.SmokeDir]]) inside the caller's own session, so each
  * query's generated code is compiled under the caller's shuffle width
  * and lands in the caller's codegen cache before any timed run. Each
  * query writes to Bench's sink (`noop`) and is followed by the drain
  * Bench runs after every query, so the warmup leaves no cached blocks.
  *
  * Before the suite, the relations of [[Tables.all]] under the caller's
  * `sfDir` are resolved (one file listing and footer read per table, no
  * rows read), so the timed runs find them in [[Tables]]' cache.
  *
  * A failing table or query never stops the warmup. A degraded warmup
  * leaves that query's first compile to its first timed run, so it says
  * so in one stderr line, which counts failed tables and queries alike.
  */
object Warmup {
  def run(spark: SparkSession, sfDir: String): Unit = {
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    def attempt(name: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) => failures.getOrElseUpdate(name, e) }

    Tables.all.foreach(t => attempt(t)(Tables.load(spark, sfDir, t)))
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    queries.foreach { case (name, fn) =>
      attempt(name)(fn(spark, SparkEntry.SmokeDir)
        .write.mode("overwrite").format("noop").save())
      graft.ops.Releases.drain()
    }

    failures.headOption.foreach { case (name, e) =>
      Console.err.println(s"[warmup] DEGRADED: ${failures.size} of " +
        s"${Tables.all.size + queries.size} queries failed " +
        s"(first: $name: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')})")
    }
  }
}
