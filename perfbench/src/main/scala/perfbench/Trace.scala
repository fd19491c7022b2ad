package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Benchmark-side spans around calls into the engine's public functions.
  * Off: `apply` just runs the body. On: each call records a span (name,
  * start, end, parent, request id) in memory; `write` dumps them as JSON
  * lines when the run ends. The client is a single thread, so the parent is
  * the innermost open span. */
final case class Span(id: Int, parent: Int, request: Long, name: String, startNs: Long, endNs: Long)

final class Tracer(var enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private var request = 0L

  /** Starts a new request id; spans until the next call share it. */
  def newRequest(): Unit = request += 1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, request, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark-side counters, from a listener registered on the benchmark's own
  * session: per job its wall interval, stages, tasks, task busy time and
  * input / shuffle / spill bytes. Spans are matched to jobs by time, so the
  * job counts of a span are the jobs that started inside it. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var busyMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    j.stages = e.stageIds.size
    e.stageIds.foreach(stageJob(_) = e.jobId)
    jobs(e.jobId) = j
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.busyMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    events += 1
  }

  /** Waits until the asynchronous listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (System.nanoTime() < deadline &&
      (events != last || synchronized(jobs.values.exists(_.endMs < 0)))) {
      last = events
      Thread.sleep(100)
    }
  }

  /** Jobs started within [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def coveredMs(fromMs: Long, toMs: Long): Long = {
    val iv = jobsIn(fromMs, toMs).map(j => (j.startMs, math.min(toMs, if (j.endMs < 0) toMs else j.endMs)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Wall clock on the listener's epoch-millisecond scale. */
object Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def ms(nanoTime: Long): Long = epochMs0 + (nanoTime - ns0) / 1_000_000L
  def nowMs: Long = ms(System.nanoTime())
}
