package servebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** A layer-boundary span: times are System.nanoTime; `parent` 0 = root;
  * spans of one request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store; nothing is recorded unless tracing is on. Spans
  * are written out once, when the run ends. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def record(parent: Long, req: Long, name: String, start: Long, end: Long): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, req, name, start, end))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Spark-side counts for the traced run: every job and task, tagged with the
  * job's origin (request, refresh writer, or the engine's refresh ticks), so
  * request work is counted apart from background work. */
final class JobListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final case class Job(id: Int, origin: String, start: Long, var end: Long,
                       var tasks: Int)
  final case class Task(job: Int, schedDelayMs: Long, shuffleBytes: Long,
                        inputBytes: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // listener-bus times are wall-clock ms; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nanos(wallMs: Long): Long = wallMs * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val origin = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.Origin)))
      .getOrElse("request")
    jobs.put(e.jobId, Job(e.jobId, origin, nanos(e.time), 0L, 0))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = nanos(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
    Option(jobs.get(job)).foreach(j => j.synchronized(j.tasks += 1))
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      tasks.add(Task(job, delay,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.bytesRead))
    }
  }
}

object JobListener {
  /** Spark local property naming a job's origin (inherited by threads a
    * thread starts, such as the engine's refresh scheduler). */
  val Origin = "servebench.origin"
}
