package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative process counters at one instant. A span is the difference of
  * two snapshots, so nested spans need no bookkeeping of their own. */
final case class Counters(
    wallMs: Double,
    jobs: Long,
    stages: Long,
    tasks: Long,
    taskMs: Long, // executor run time summed over tasks
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    jobBusyMs: Long, // wall time during which at least one job was running
    queries: Long, // query executions seen by the QueryExecutionListener
    analysisMs: Long,
    optimizationMs: Long,
    planningMs: Long,
    codegenCompiles: Long,
    codegenMs: Double,
    gcMs: Long,
    jitMs: Long
) {
  def +(o: Counters): Counters = this - o.negate

  private def negate: Counters = Counters(
    -wallMs, -jobs, -stages, -tasks, -taskMs, -shuffleReadBytes,
    -shuffleWriteBytes, -spillBytes, -jobBusyMs, -queries, -analysisMs,
    -optimizationMs, -planningMs, -codegenCompiles, -codegenMs, -gcMs, -jitMs)

  def -(o: Counters): Counters = Counters(
    wallMs - o.wallMs, jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    jobBusyMs - o.jobBusyMs, queries - o.queries, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    codegenCompiles - o.codegenCompiles, codegenMs - o.codegenMs,
    gcMs - o.gcMs, jitMs - o.jitMs)

  /** Analysis + optimization + physical planning, from the tracker. */
  def planMs: Long = analysisMs + optimizationMs + planningMs
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
  /** Wall time of the span during which no Spark job was running. */
  def nonJobMs: Double = math.max(0.0, wallMs - jobBusyMs)

  def toMap: Map[String, Double] = Map(
    "wall_ms" -> wallMs, "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_ms" -> taskMs.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "job_busy_ms" -> jobBusyMs.toDouble,
    "queries" -> queries.toDouble, "analysis_ms" -> analysisMs.toDouble,
    "optimization_ms" -> optimizationMs.toDouble,
    "planning_ms" -> planningMs.toDouble,
    "codegen_compiles" -> codegenCompiles.toDouble, "codegen_ms" -> codegenMs,
    "gc_ms" -> gcMs.toDouble, "jit_ms" -> jitMs.toDouble)
}

final case class Span(name: String, d: Counters)

/** Spark-side trace of one benchmark run. When enabled it registers a
  * `SparkListener` (jobs, stages, tasks, executor run time, shuffle and
  * spill bytes, job-busy wall time) and a `QueryExecutionListener` (the
  * tracker's analysis/optimization/planning phase times), and reads
  * Spark's codegen counters and the JVM's GC and JIT MXBeans. `span`
  * records the counter difference around one public graft call; spans stay
  * in memory until the run writes them out. When disabled, `span` only runs
  * its body, so untraced runs carry no listener and no bus drain. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val jobs, stages, tasks, taskMs = new AtomicLong
  private val shRead, shWrite, spill = new AtomicLong
  private val busyMs, queries, analysisMs, optimizationMs, planningMs = new AtomicLong
  private var running = 0
  private var busySince = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      if (running == 0) busySince = e.time
      running += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running -= 1
      if (running == 0) busyMs.addAndGet(e.time - busySince)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      queries.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms(QueryPlanningTracker.ANALYSIS))
      optimizationMs.addAndGet(ms(QueryPlanningTracker.OPTIMIZATION))
      planningMs.addAndGet(ms(QueryPlanningTracker.PLANNING))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L
  /** Sum of the heap pools' peak usage since JVM start. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def snapshot(): Counters = {
    if (enabled) PerfbenchBus.drain(spark.sparkContext)
    Counters(
      System.nanoTime() / 1e6, jobs.get, stages.get, tasks.get, taskMs.get,
      shRead.get, shWrite.get, spill.get, busyMs.get, queries.get,
      analysisMs.get, optimizationMs.get, planningMs.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e6, gcMs, jitMs)
  }

  private val recorded = ArrayBuffer.empty[Span]
  def spans: Seq[Span] = recorded.synchronized(recorded.toList)
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val c0 = snapshot()
      val out = body
      val d = snapshot() - c0
      recorded.synchronized(recorded += Span(name, d))
      out
    }
}
