package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are epoch nanoseconds so
  * they line up with the millisecond timestamps Spark's listener bus
  * stamps on jobs. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                      attrs: Map[String, String] = Map.empty) {
  def durNs: Long = end - start
  def contains(tNs: Long): Boolean = start <= tNs && tNs <= end
}

/** One Spark job as the listener bus reports it, with its tasks folded in. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Int, tasks: Int,
                        runMs: Long, gcMs: Long, schedDelayMs: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
                        recordsRead: Long = 0L)

object Trace {
  private val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Current time as epoch nanoseconds, from the monotonic clock. */
  def now(): Long = System.nanoTime() + epochOffsetNs

  /** A span's self time: its duration minus the part of it that its child
    * spans cover (overlapping children count once). */
  def selfTimeNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    span.durNs - covered
  }

  /** Parent each job to the innermost span whose window holds the job's
    * start; None when no span does. With one closed-loop client at most
    * one request span is open at a time, so the choice is unambiguous. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Option[Int]] = {
    val byStart = spans.sortBy(_.start)
    jobs.map { j =>
      val t = j.startMs * 1000000L
      val holding = byStart.filter(_.contains(t))
      j.id -> (if (holding.isEmpty) None else Some(holding.minBy(_.durNs).id))
    }.toMap
  }

  /** Share of [fromNs, toNs] during which no job was running. */
  def idleShare(jobs: Seq[JobRec], fromNs: Long, toNs: Long): Double = {
    val ivs = jobs.map(j => (math.max(j.startMs * 1000000L, fromNs), math.min(j.endMs * 1000000L, toNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    val wall = toNs - fromNs
    if (wall <= 0) 0.0 else 1.0 - busy.toDouble / wall
  }
}

/** Spans kept in memory, written out when the run ends. Spans nest by a
  * stack, so they must be opened and closed on one thread. A disabled
  * tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var lastClosed = 0

  /** Id of the span that closed most recently (0 before any). */
  def lastId: Int = lastClosed

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = Trace.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, start, Trace.now(), attrs)
        lastClosed = id
      }
    }

  /** Add attributes to a recorded span, e.g. what its call returned. */
  def annotate(id: Int, kv: (String, String)*): Unit =
    if (enabled) {
      val i = spans.lastIndexWhere(_.id == id)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ kv)
    }

  /** Record an interval measured elsewhere, as a child of `parent`. */
  def record(name: String, start: Long, end: Long, parent: Int): Unit =
    if (enabled) {
      val id = nextId; nextId += 1
      spans += Span(id, parent, name, start, end)
    }

  def all: Seq[Span] = spans.toSeq
}

/** Collects job, stage and task counts from Spark's listener bus. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = 0L
    var stages = 0; var tasks = 0
    var runMs = 0L; var gcMs = 0L; var schedMs = 0L
    var shRead = 0L; var shWrite = 0L; var spill = 0L; var records = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val a = new Acc(e.jobId, e.time, e.stageIds)
    jobs(e.jobId) = a
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); a <- jobs.get(jid)) {
      a.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // rows read from materialized (locally checkpointed) blocks and files
        a.records += m.inputMetrics.recordsRead
        // the web UI's scheduler delay: task wall time not spent
        // deserializing, running, serializing or fetching the result
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        a.schedMs += math.max(0L, delay)
      }
    }
  }

  /** Completed jobs, after waiting for the bus to deliver pending events. */
  def completed(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.BusDrain.drain(sc)
    synchronized {
      jobs.values.filter(_.endMs > 0).map(a => JobRec(a.id, a.startMs, a.endMs, a.stages, a.tasks,
        a.runMs, a.gcMs, a.schedMs, a.shRead, a.shWrite, a.spill, a.records)).toSeq
    }
  }
}
