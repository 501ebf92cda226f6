package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. Times are epoch nanoseconds; `parent` is
  * the id of the span that caused this one (0 for a root), and spans of one
  * request share `req`.
  */
final case class Span(id: Long, parent: Long, name: String, req: Long, start: Long, end: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","req":$req,"start_ns":$start,"end_ns":$end}"""
}

/** Spans kept in memory for the traced run and written out at the end.
  * With tracing off every method is a no-op apart from running the body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val originNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Span id per Spark job group, so jobs can name the span that caused them. */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def now: Long = originNs + System.nanoTime()

  def span[T](name: String, parent: Long = 0, req: Long = -1, group: String = null)(body: Long => T): T =
    if (!enabled) body(0)
    else {
      val id = ids.incrementAndGet()
      if (group != null) groupSpan.put(group, id)
      val t0 = now
      try body(id) finally spans.add(Span(id, parent, name, req, t0, now))
    }

  def add(name: String, parent: Long, req: Long, start: Long, end: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, req, start, end))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Summed self time of the spans `p` selects: each span's duration minus
    * the part of it that its children cover.
    */
  def selfSeconds(p: Span => Boolean): Double = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.filter(p).map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(p => p._1 < p._2))
      (s.end - s.start - covered) / 1e9
    }.sum
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }
}

object JobListener {
  /** Local property naming the benchmark span that launched a job. */
  val GroupProperty = "perfbench.group"
  /** Phases of a streaming trigger summed from `StreamingQueryProgress.durationMs`. */
  val StreamingDurations = Seq("addBatch", "getBatch", "walCommit", "commitOffsets", "queryPlanning")
}

/** Per-job Spark counters, keyed by the group the benchmark set on the
  * calling thread, and streaming trigger phases. Registered only on the
  * benchmark's own context in the traced run; events arrive on the
  * listener-bus thread only.
  *
  * Streaming progress arrives here, not through a `StreamingQueryListener`:
  * the EventStream drains run their queries in derived sessions, whose
  * query managers a listener on the benchmark's session does not see. Every
  * `StreamingQueryListener` event is also posted to the context's bus.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end = 0L
    var tasks = 0
    var runMs, gcMs, shuffleWrite, spill = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  val streamMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var batches = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.GroupProperty)))
      .getOrElse("")
    val j = new Job(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach { j =>
    j.end = e.time
    val parent = Option(tracer.groupSpan.get(j.group)).map(_.longValue).getOrElse(0L)
    val req = if (j.group.startsWith("req")) j.group.drop(3).toLong else -1L
    tracer.add("spark.job", parent, req, j.start * 1000000L, j.end * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      batches += 1
      p.progress.durationMs.asScala.foreach { case (k, v) => streamMs(k) += v.longValue }
    case _ =>
  }

  def inGroups(p: String => Boolean): Seq[Job] = jobs.values.filter(j => p(j.group)).toSeq
}
