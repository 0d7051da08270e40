package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. `op` groups the spans of one
  * operation (a query execution or a micro-batch); `parent` is the id of
  * the span that caused it, 0 for a root. */
final case class Span(id: Long, op: String, name: String, parent: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out; with tracing off `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  /** Spans are recorded only while this is set: set-up and warm-up work is
    * left out of the trace. */
  @volatile var recording: Boolean = enabled

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Id of the innermost open span on this thread (0 outside any span). */
  def currentId: Long = current.get()

  def span[T](op: String, name: String, parent: Long = -1L)(body: => T): T =
    if (!recording) body
    else {
      val id = ids.getAndIncrement()
      val p = if (parent >= 0) parent else current.get().longValue
      val saved = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(saved)
        spans.synchronized(spans += Span(id, op, name, p, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the part of it covered by its children; children that
    * ran in parallel on task threads are merged before subtracting. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.filter(_.parent > 0).groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
      name -> ((group.size, group.map(_.ms).sum, self))
    }
  }
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Task metrics summed per (operation, stage depth). Depth is the stage's
  * distance from the job's source stages: 0 reads no shuffle (scan and
  * decode), 1 reads the first exchange, and so on. The operation is the
  * `graftbench.op` local property of the thread that submitted the job. */
final class TaskListener extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val stageKey = mutable.Map.empty[Int, (String, Int)]
  val acc = mutable.Map.empty[(String, Int), Acc]
  val jobs = mutable.Map.empty[String, Int]
  val stages = mutable.Map.empty[String, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.OpKey)))
      .getOrElse("")
    val infos = e.stageInfos.map(s => s.stageId -> s).toMap
    val depth = mutable.Map.empty[Int, Int]
    def d(id: Int): Int = depth.getOrElseUpdate(id,
      infos(id).parentIds.filter(infos.contains) match {
        case Nil => 0
        case ps  => 1 + ps.map(d).max
      })
    e.stageInfos.foreach(s => stageKey(s.stageId) = (op, d(s.stageId)))
    jobs(op) = jobs.getOrElse(op, 0) + 1
    stages(op) = stages.getOrElse(op, 0) + e.stageInfos.size
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate(stageKey.getOrElse(e.stageId, ("", 0)), new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sum of one field over every stage of the given operations. */
  def sum(ops: Set[String], depth: Option[Int] = None)(f: Acc => Long): Long =
    synchronized(acc.collect {
      case ((op, d), a) if ops.contains(op) && depth.forall(_ == d) => f(a)
    }.sum)
}

object TaskListener {
  val OpKey = "graftbench.op"
}

/** Catalyst phase times and action counts per operation, from every
  * query execution the session reports. */
final class PhaseListener extends QueryExecutionListener {
  @volatile var op: String = ""
  val actions = mutable.Map.empty[String, Int]
  val phaseMs = mutable.Map.empty[(String, String), Long]

  private def record(qe: QueryExecution): Unit = synchronized {
    actions(op) = actions.getOrElse(op, 0) + 1
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs((op, phase)) = phaseMs.getOrElse((op, phase), 0L) + s.durationMs
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Every streaming progress report, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def byBatch: Map[Long, StreamingQueryProgress] =
    synchronized(progress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap)
}
