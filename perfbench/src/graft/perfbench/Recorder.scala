package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark-side work counters. Deltas of two snapshots taken
  * around one operation give that operation's cost. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleWriteBytes: Long = 0, analysisMs: Long = 0,
    optimizationMs: Long = 0, planningMs: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_run_ms" -> runMs,
    "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
}

final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startMs: Double, endMs: Double)

/** Spans around the benchmark's calls into each layer, plus the Spark
  * listeners (jobs, tasks, CPU, GC, shuffle, Catalyst phases) that give
  * per-layer counts.
  * With tracing off nothing is registered and `span` only runs its body,
  * so untraced runs pay no recording cost. */
final class Recorder(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** shared by every span of this process's run */
  val runId: String = java.util.UUID.randomUUID().toString

  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val start = nowMs
      stack.set(id :: parents)
      try body
      finally {
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0), layer, name, start, nowMs))
      }
    }

  /** id of the innermost open span on this thread (0 at top level) */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** a span measured elsewhere (a micro-batch from its progress report,
    * a Spark job from listener times) */
  def add(layer: String, name: String, startMs: Double, endMs: Double,
          parent: Int): Int =
    if (!enabled) 0
    else {
      val id = nextId.getAndIncrement()
      spans.add(Span(id, parent, layer, name, startMs, endMs))
      id
    }

  /** adds every Spark job that ran inside [fromMs, toMs] as a child of
    * `parent`, so the parent's self time is its driver-side time */
  def addJobs(parent: Int, fromMs: Long, toMs: Long): Unit =
    if (enabled) jobSpans.asScala.foreach { case (s, e) =>
      if (s >= fromMs && e <= toMs) add("spark.job", "job", s.toDouble, e.toDouble, parent)
    }

  def spanList: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run" -> runId))

  // ---- Spark listeners ---------------------------------------------------

  @volatile private var c = Counters()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      synchronized { c = c.copy(jobs = c.jobs + 1) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        c = c.copy(
          tasks = c.tasks + 1,
          runMs = c.runMs + m.executorRunTime,
          cpuNs = c.cpuNs + m.executorCpuTime,
          gcMs = c.gcMs + m.jvmGCTime,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      synchronized {
        c = c.copy(
          analysisMs = c.analysisMs + ms("analysis"),
          optimizationMs = c.optimizationMs + ms("optimization"),
          planningMs = c.planningMs + ms("planning"))
      }
    }
  }

  private var attachedTo: Option[SparkSession] = None

  def attach(spark: SparkSession): Unit = if (enabled) {
    detach()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attachedTo = Some(spark)
  }

  def detach(): Unit = attachedTo.foreach { s =>
    if (!s.sparkContext.isStopped) {
      PerfbenchBus.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(sparkListener)
      s.listenerManager.unregister(qeListener)
    }
    attachedTo = None
  }

  /** counters after every event posted so far has been delivered */
  def snapshot(): Counters = {
    attachedTo.foreach(s => PerfbenchBus.drain(s.sparkContext))
    synchronized(c)
  }

  /** [start, end] of every Spark job that overlaps [fromMs, toMs] */
  def jobIntervals(fromMs: Long, toMs: Long): Seq[Seq[Long]] =
    jobSpans.asScala.toSeq.collect { case (s, e) if e > fromMs && s < toMs => Seq(s, e) }
}

object Jvm {
  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
