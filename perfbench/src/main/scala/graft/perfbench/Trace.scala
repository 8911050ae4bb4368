package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one run share `runId`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, runId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. `span` nests by thread: the innermost open
  * span of the calling thread is the parent. Every Spark job started
  * inside a span carries the span's name as its job group, so [[JobLog]]
  * can attribute jobs and tasks to layers. */
final class Tracer(runId: String, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)

  def span[A](name: String)(body: => A): A = {
    val id = nextId.incrementAndGet()
    val stack = open.get()
    val parent = stack.headOption.map(_._1).getOrElse(0)
    open.set((id, name) :: stack)
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, parent, t0, System.nanoTime(), runId))
      open.set(stack)
      stack.headOption match {
        case Some((_, outer)) => sc.setJobGroup(outer, outer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = s.ms - Intervals.unionNs(children(s).map(c => (c.startNs, c.endNs))) / 1e6

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"self_ms":${selfMs(s)},"run":"${s.runId}"}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Intervals {
  /** Total length covered by possibly overlapping [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}

/** Job, task and block events, keyed by job group (= span name). Times
  * are converted from the listener's wall clock to `System.nanoTime`
  * so they compare with span bounds. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, group: String, startNs: Long, var endNs: Long = -1L)
  final case class Task(group: String, durationMs: Long, gcMs: Long,
      schedulerDelayMs: Long, shuffleWriteBytes: Long, spillBytes: Long, recordsRead: Long)

  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(wallMs: Long): Long = wallMs * 1000000L + offsetNs

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val tasks = mutable.ArrayBuffer.empty[Task]
  /** (arrival nanoTime, bytes) of every cached/checkpointed RDD block stored */
  val blocks = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, toNano(e.time))
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = toNano(e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      tasks += Task(stageGroup.getOrElse(e.stageId, ""), info.duration, m.jvmGCTime, delay, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) synchronized {
      blocks += ((System.nanoTime(), b.memSize + b.diskSize))
    }
  }

  def jobsIn(groups: String => Boolean): Seq[Job] = synchronized(jobs.values.filter(j => groups(j.group)).toSeq)
  def tasksIn(groups: String => Boolean): Seq[Task] = synchronized(tasks.filter(t => groups(t.group)).toSeq)
  def blockBytesBetween(lo: Long, hi: Long): Long =
    synchronized(blocks.filter(b => b._1 >= lo && b._1 < hi).map(_._2).sum)
}
