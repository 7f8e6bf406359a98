package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `layer` is the module the call goes into (e.g.
  * `pipeline`, `operators.TextOps`, `storage`), `parent` the enclosing
  * span's id (-1 for the round's top level). Times are ns from
  * `System.nanoTime`. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, var endNs: Long)

/** Spark-side counters from the public listener callbacks. Task busy
  * intervals are kept so that the wall time with no task running (the
  * driver-side time) can be computed per round. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, singleTaskStages = new AtomicLong
  val taskBusyMs, scanBytes, shuffleWriteBytes, spillBytes,
    outputBytes, planningMs = new AtomicLong
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.incrementAndGet()
    if (i.numTasks == 1) singleTaskStages.incrementAndGet()
    val m = i.taskMetrics
    if (m != null) {
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val ti = e.taskInfo
    taskBusyMs.addAndGet(ti.finishTime - ti.launchTime)
    intervals.synchronized { intervals += ((ti.launchTime, ti.finishTime)) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Milliseconds of [fromMs, toMs] during which at least one task ran. */
  def busyWallMs(fromMs: Long, toMs: Long): Long = {
    val clipped = intervals.synchronized(intervals.toList)
      .map { case (a, b) => (a.max(fromMs), b.min(toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        covered += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    covered + (curB - curA)
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "single_task_stages" -> singleTaskStages.get,
    "task_busy_ms" -> taskBusyMs.get, "scan_bytes" -> scanBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get, "output_bytes" -> outputBytes.get,
    "planning_ms" -> planningMs.get)
}

/** Spans and counters for a traced round. With tracing off every
  * `span` call is the bare body: nothing is recorded and no listener is
  * registered, so the untraced figures carry no tracing cost. */
final class Recorder(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var counters: Option[SparkCounters] = None

  def tracing: Boolean = counters.nonEmpty

  def start(): Unit = if (counters.isEmpty) {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    counters = Some(c)
  }

  def sparkCounters: Option[SparkCounters] = counters

  /** Counters after every posted event has been delivered. */
  def drained(): Map[String, Long] = counters.fold(Map.empty[String, Long]) {
    c =>
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      c.snapshot()
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), layer, name,
        System.nanoTime(), -1L)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }
}
