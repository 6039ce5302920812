package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of benchmark code around a call into the engine.
  * `parent` is -1 for an op's root span; `op` is the sample id. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Spans nest by
  * call structure; nothing is written until [[toJsonLines]] at the end.
  * When disabled, [[span]] is a plain call. */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def withOp[T](opId: Int)(body: => T): T = {
    op = opId
    try body finally op = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), op, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per span: duration minus the time its direct children cover. */
  def selfNs: Map[Int, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  def toJsonLines: Iterator[String] = {
    val self = selfNs
    spans.iterator.map { s =>
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id)))
    }
  }
}

/** Spark job/stage/task events, attributed to the op whose thread
  * submitted the job (local property [[ExecListener.OpKey]]). */
final class ExecListener extends SparkListener {
  final class OpExec {
    var jobs = 0; var stages = 0; var tasks = 0; var tasksFailed = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byOp = mutable.Map.empty[Int, OpExec]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val stageOp = mutable.Map.empty[Int, Int]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(ExecListener.OpKey))).map(_.toInt)

  def get(op: Int): Option[OpExec] = synchronized(byOp.get(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new OpExec).jobs += 1
      jobStart(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      byOp(op).jobIntervals += ((t0, e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(byOp(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val x = byOp(op)
      x.tasks += 1
      if (!e.taskInfo.successful) x.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        x.cpuNs += m.executorCpuTime
        x.runMs += m.executorRunTime
        x.gcMs += m.jvmGCTime
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        x.input += m.inputMetrics.bytesRead
      }
    }
  }
}

object ExecListener {
  val OpKey = "graftbench.op"

  /** Length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
      if (a >= end) (sum + (b - a), b)
      else if (b > end) (sum + (b - end), b)
      else (sum, end)
    }._1
}

/** Catalyst phase times per action, read from `QueryExecution.tracker`.
  * Callbacks arrive on the listener bus, so actions are attributed to
  * ops by wall-clock window ([[within]]). */
final class PlanListener extends QueryExecutionListener {
  final case class Action(startMs: Long, analyzeMs: Long, optimizeMs: Long, physicalMs: Long)
  private val actions = mutable.ArrayBuffer.empty[Action]

  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    synchronized {
      actions += Action(start, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def within(t0Ms: Long, t1Ms: Long): Seq[Action] =
    synchronized(actions.filter(a => a.startMs >= t0Ms && a.startMs <= t1Ms).toSeq)
}

/** Process-wide JVM, codegen and Hadoop-filesystem counters, read
  * before and after every op. */
final case class Counters(gcMs: Long, gcCount: Long, jitMs: Long, codeCacheBytes: Long,
    cgCompiles: Long, cgCompileMs: Double, fsBytesRead: Long, fsBytesWritten: Long,
    fsReadOps: Long, fsWriteOps: Long) {
  def -(o: Counters): Counters = Counters(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs,
    codeCacheBytes - o.codeCacheBytes, cgCompiles - o.cgCompiles, cgCompileMs - o.cgCompileMs,
    fsBytesRead - o.fsBytesRead, fsBytesWritten - o.fsBytesWritten,
    fsReadOps - o.fsReadOps, fsWriteOps - o.fsWriteOps)
}

object Counters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)
  private val codePools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getName.startsWith("CodeHeap"))
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def snapshot(): Counters = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    val cgCount = METRIC_COMPILATION_TIME.getCount
    Counters(
      gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      jit.filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L),
      codePools.map(_.getUsage.getUsed).sum,
      cgCount, METRIC_COMPILATION_TIME.getSnapshot.getMean * cgCount,
      fs.map(_.getBytesRead).sum, fs.map(_.getBytesWritten).sum,
      fs.map(s => (s.getReadOps + s.getLargeReadOps).toLong).sum, fs.map(_.getWriteOps.toLong).sum)
  }

  /** Old-generation bytes in use; call right after a full GC. */
  def oldGenUsed(): Long = oldPools.map(_.getUsage.getUsed).sum
}
