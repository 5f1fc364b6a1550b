package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call from the benchmark into one of the engine's
  * public functions. Times are nanoseconds from the run's start. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int)

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. With tracing off, [[span]] only runs
  * its body, so the untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val s = System.nanoTime() - t0
      try body
      finally {
        stack.pop()
        spans += Span(id, name, s, System.nanoTime() - t0, parent, op)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Durations (seconds) of every span called `name`. */
  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e9).toSeq

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Main.json.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
  }
}

/** Counters of the `exec`, `plan` and `sources` layers, fed by a
  * SparkListener and a QueryExecutionListener that the benchmark itself
  * registers. Read through [[snapshot]], which first drains the bus. */
final class Counters(spark: SparkSession) {
  private val c = mutable.LinkedHashMap.empty[String, AtomicLong]
  private val d = mutable.LinkedHashMap.empty[String, DoubleAdder]
  private def cnt(k: String) = c.getOrElseUpdate(k, new AtomicLong)
  private def dbl(k: String) = d.getOrElseUpdate(k, new DoubleAdder)
  Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_failures",
    "exec.stage_retries", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.broadcast_bytes", "exec.gate_broadcast",
    "exec.gate_shuffle", "sources.input_bytes", "sources.state_bytes_written",
    "plan.queries").foreach(cnt)
  Seq("exec.task_busy_s", "exec.task_cpu_s", "exec.gc_s", "exec.sched_wait_s",
    "plan.analysis_s", "plan.optimizer_s", "plan.physical_s").foreach(dbl)

  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cnt("exec.jobs").incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      cnt("exec.stages").incrementAndGet()
      if (si.attemptNumber() > 0) cnt("exec.stage_retries").incrementAndGet()
      stageSubmitted.put((si.stageId, si.attemptNumber()),
        java.lang.Long.valueOf(si.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      // Time a stage waited for its first task to launch.
      val sub = stageSubmitted.remove((e.stageId, e.stageAttemptId))
      if (sub != null) dbl("exec.sched_wait_s").add(
        math.max(0L, e.taskInfo.launchTime - sub) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      cnt("exec.tasks").incrementAndGet()
      if (e.reason != Success) cnt("exec.task_failures").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        dbl("exec.task_busy_s").add(m.executorRunTime / 1e3)
        dbl("exec.task_cpu_s").add(m.executorCpuTime / 1e9)
        dbl("exec.gc_s").add(m.jvmGCTime / 1e3)
        cnt("exec.shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        cnt("exec.shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        cnt("exec.spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        cnt("sources.input_bytes").addAndGet(m.inputMetrics.bytesRead)
        cnt("sources.state_bytes_written").addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    cnt("plan.queries").incrementAndGet()
    val ph = qe.tracker.phases
    def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    dbl("plan.analysis_s").add(phase("analysis"))
    dbl("plan.optimizer_s").add(phase("optimization"))
    dbl("plan.physical_s").add(phase("planning"))
    walk(qe.executedPlan)
  }

  /** Broadcast sizes and the join side taken, over the final adaptive
    * plan (query stages and subqueries included, reused exchanges once). */
  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case s: QueryStageExec => walk(s.plan); return
      case _: ReusedExchangeExec => return
      case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").foreach(m => cnt("exec.broadcast_bytes").addAndGet(m.value))
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
        cnt("exec.gate_broadcast").incrementAndGet()
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: CartesianProductExec =>
        cnt("exec.gate_shuffle").incrementAndGet()
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  def snapshot(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    (c.iterator.map { case (k, v) => k -> v.get.toDouble } ++
      d.iterator.map { case (k, v) => k -> v.sum }).toMap
  }
}

/** JVM-wide figures the listener cannot see. */
object Jvm {
  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since [[resetPeaks]], in MiB. */
  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
}
