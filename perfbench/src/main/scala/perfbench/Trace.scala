package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._

/** A timed interval around one call into the library. Times are taken
  * on both clocks: nanoTime for the span's own duration, epoch millis
  * to line it up with Spark's job events. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, startMs: Long, endNs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work of one job, as its listener events report it. */
final class JobWork(val tags: Set[String], val startMs: Long) {
  var endMs: Long = -1L
  var taskMs: Long = 0L
  var inputB: Long = 0L
  var inputRows: Long = 0L
  var shuffleB: Long = 0L
  var outputB: Long = 0L
}

/** Per-span totals: wall, self, in-job and driver-only time, task time
  * and bytes of the jobs tagged to the span. */
final case class SpanStats(s: Double, selfS: Double, inJobS: Double,
    taskS: Double, jobs: Long, inputB: Long, inputRows: Long,
    shuffleB: Long, outputB: Long) {
  def driverOnlyS: Double = s - inJobS
  def +(o: SpanStats): SpanStats = SpanStats(s + o.s, selfS + o.selfS,
    inJobS + o.inJobS, taskS + o.taskS, jobs + o.jobs, inputB + o.inputB,
    inputRows + o.inputRows, shuffleB + o.shuffleB, outputB + o.outputB)
}

object SpanStats {
  val Zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** What tracing has cost so far: seconds spent opening and closing
  * spans on the calling thread, and seconds spent in the listener's
  * event handlers on the listener-bus thread. */
final case class Cost(spanS: Double, listenerS: Double) {
  def -(o: Cost): Cost = Cost(spanS - o.spanS, listenerS - o.listenerS)
}

/** Where a workload records its layer boundaries. The untraced
  * implementation runs the body and nothing else. */
trait Tracer {
  def span[A](name: String)(body: => A): A
  /** The cost so far, once every event posted before the call has been
    * handled. */
  def cost: Cost
}

object NoTrace extends Tracer {
  def span[A](name: String)(body: => A): A = body
  val cost: Cost = Cost(0, 0)
}

/** Records spans in memory and attributes Spark jobs to them through
  * job tags: opening a span adds the tag `<runId>-<spanId>` to the
  * calling thread's job tags, so every job started inside the span —
  * including jobs started from threads the body creates, which inherit
  * the tags — carries it in its job-start properties. The listener
  * keeps per-job intervals and task metrics; [[stats]] drains the bus
  * exactly before reading them. Spans must be opened and closed on
  * one thread. */
final class SparkTracer(sc: SparkContext, val runId: String)
    extends SparkListener with Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  /** Open spans, innermost first: id, start nanos, start millis. */
  private var stack = List.empty[(Int, Long, Long)]
  private var nextId = 0
  private val jobs = mutable.HashMap.empty[Int, JobWork]
  private val stageJob = mutable.HashMap.empty[Int, JobWork]
  private val spanNs = new AtomicLong
  private val listenerNs = new AtomicLong

  private def tag(id: Int) = s"$runId-$id"

  def span[A](name: String)(body: => A): A = {
    val b0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, System.nanoTime(), System.currentTimeMillis()) :: stack
    sc.addJobTag(tag(id))
    spanNs.addAndGet(System.nanoTime() - b0)
    try body
    finally {
      val endNs = System.nanoTime()
      val endMs = System.currentTimeMillis()
      sc.removeJobTag(tag(id))
      val (_, startNs, startMs) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, runId, startNs, startMs, endNs, endMs)
      spanNs.addAndGet(System.nanoTime() - endNs)
    }
  }

  def cost: Cost = {
    BusBridge.drain(sc)
    Cost(spanNs.get / 1e9, listenerNs.get / 1e9)
  }

  /** Runs one event handler under the lock and counts its time. */
  private def handle(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(body)
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkTracer.JobTagsKey)))
      .map(_.split(",").filter(_.startsWith(runId)).toSet)
      .getOrElse(Set.empty[String])
    val j = new JobWork(tags, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = handle {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.taskMs += m.executorRunTime
      j.inputB += m.inputMetrics.bytesRead
      j.inputRows += m.inputMetrics.recordsRead
      j.shuffleB += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.outputB += m.outputMetrics.bytesWritten
    }
  }

  /** All closed spans, in closing order. */
  def spans: Seq[Span] = done.toSeq

  /** Jobs that carry none of this tracer's tags although they started
    * while a span was open: work the tags failed to attribute. */
  def untaggedJobs: Int = {
    BusBridge.drain(sc)
    synchronized {
      jobs.values.count(j => j.tags.isEmpty &&
        done.exists(s => s.parent == -1 && j.startMs >= s.startMs &&
          j.startMs <= s.endMs))
    }
  }

  /** Totals per span id, read after an exact drain of the bus. */
  def stats: Map[Int, SpanStats] = {
    BusBridge.drain(sc)
    val children = done.groupBy(_.parent)
    synchronized {
      done.map { s =>
        val mine = jobs.values.filter(_.tags.contains(tag(s.id))).toSeq
        val inJob = SparkTracer.unionMs(mine.map(j =>
          (math.max(j.startMs, s.startMs),
            math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
        val covered = SparkTracer.unionNs(children.get(s.id).toSeq.flatten
          .map(c => (c.startNs, c.endNs)))
        s.id -> SpanStats(s.seconds, s.seconds - covered, inJob,
          mine.map(_.taskMs).sum / 1e3, mine.size.toLong,
          mine.map(_.inputB).sum, mine.map(_.inputRows).sum,
          mine.map(_.shuffleB).sum, mine.map(_.outputB).sum)
      }.toMap
    }
  }

  /** Writes every span as one JSON line: name, start, end, parent and
    * run id. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"run_id":"${s.runId}","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"s":${s.seconds}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object SparkTracer {
  /** `SparkContext.SPARK_JOB_TAGS`, the job-start property that holds
    * the comma-joined tags. */
  val JobTagsKey = "spark.job.tags"

  /** Length of the union of [start, end] intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
  def unionMs(iv: Seq[(Long, Long)]): Double = union(iv) / 1e3
  def unionNs(iv: Seq[(Long, Long)]): Double = union(iv) / 1e9
}
