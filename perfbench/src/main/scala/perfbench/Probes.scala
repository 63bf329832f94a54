package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one operation. */
final class ExecAgg {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs, analysisMs, optimizationMs, physicalMs = 0.0
  var shuffleWrite, shuffleRead, spill = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch µs
}

/** Progress of one streaming micro-batch, as Spark reports it. */
final case class BatchProgress(
    batchId: Long, startOffset: Long, endOffset: Long, rows: Long,
    durations: Map[String, Long], receivedUs: Long)

/** Reads Spark's own listener events — `SparkListener` job/stage/task
  * events, `QueryExecutionListener` planning phases and
  * `StreamingQueryListener` progress — from outside the program. Job and
  * task events are attributed to an operation through the `perfbench.op`
  * local property the client sets; only the traced run aggregates them.
  */
final class Probes(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  val byOp = new ConcurrentHashMap[Long, ExecAgg]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long)]() // stage → (op, job span)
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long, Long)]() // job → (op, parent, span, start)
  // (op, root) of the job started last, as the bus thread sees it. Job
  // events and QueryExecutionListener callbacks share one listener queue
  // and arrive in the order they were posted, and the client runs one
  // operation at a time; so a query's callback arrives after its own jobs
  // have started and before the next operation's jobs do.
  @volatile private var busOp: Option[(Long, Long)] = None
  val progress = new ConcurrentLinkedQueue[BatchProgress]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.nonEmpty && p.sources.head.endOffset != null) {
        val s = p.sources.head
        progress.add(BatchProgress(p.batchId,
          Option(s.startOffset).map(_.trim.toLong).getOrElse(Long.MinValue), s.endOffset.trim.toLong,
          p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          Trace.nowUs()))
      }
    }
  })

  private def agg(op: Long): ExecAgg = byOp.computeIfAbsent(op, _ => new ExecAgg)

  /** Tag jobs started from this thread with the operation in flight. */
  def tagThread(): Unit =
    sc.setLocalProperty("perfbench.op", s"${Trace.currentOp}:${Trace.currentRoot}")

  private def owner(p: Properties): Option[(Long, Long)] =
    Option(p).flatMap(pp => Option(pp.getProperty("perfbench.op"))).map { s =>
      val Array(o, r) = s.split(':'); (o.toLong, r.toLong)
    }.filter(_._1 > 0)

  /** Wait until every posted event has been delivered. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    busOp = owner(e.properties)
    if (Trace.enabled) busOp.foreach { case (op, root) =>
      agg(op).synchronized(agg(op).jobs += 1)
      val span = Trace.newId()
      val parent = if (Trace.currentOp == op) Trace.currentParent else root
      jobSpan.put(e.jobId, (op, parent, span, e.time * 1000L))
      e.stageIds.foreach(s => stageOwner.put(s, (op, span)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobSpan.remove(e.jobId)).foreach {
    case (op, parent, span, start) => Trace.recordAs(span, "spark.job", op, parent, start, e.time * 1000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (op, _) =>
      val a = agg(op); a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOwner.get(e.stageId)).foreach {
    case (op, span) =>
      val a = agg(op)
      val i = e.taskInfo
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskIntervals += ((i.launchTime * 1000L, i.finishTime * 1000L))
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      Trace.record("spark.task", op, span, i.launchTime * 1000L, i.finishTime * 1000L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) busOp.foreach { case (op, root) => planPhases(qe, op, root) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Add `qe`'s planning phases (analysis, optimization, physical planning)
    * to an operation, as spans and as totals.
    */
  def planPhases(qe: QueryExecution, op: Long, root: Long, only: Set[String] = Set.empty): Unit = {
    val a = agg(op)
    qe.tracker.phases.filter { case (p, _) => only.isEmpty || only(p) }.foreach { case (phase, s) =>
      a.synchronized(phase match {
        case "analysis" => a.analysisMs += s.durationMs
        case "optimization" => a.optimizationMs += s.durationMs
        case "planning" => a.physicalMs += s.durationMs
        case _ => ()
      })
      Trace.record(s"spark.plan.$phase", op, root, s.startTimeMs * 1000L, s.endTimeMs * 1000L)
    }
  }
}

object Probes {
  /** Length of the union of intervals, in the intervals' unit. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-operation means of the Spark execution and planning layers over
    * the given operations, whose wall times (ms) are `wallMs`.
    */
  def layerValues(probes: Probes, wallMs: Map[Long, Double], cores: Int): Map[String, Double] = {
    val ops = wallMs.keys.toSeq
    val aggs = ops.map(o => o -> Option(probes.byOp.get(o)).getOrElse(new ExecAgg)).toMap
    val n = math.max(1, ops.size).toDouble
    def mean(f: ExecAgg => Double): Double = aggs.values.map(f).sum / n
    val mb = 1024.0 * 1024.0
    val gaps = ops.map { o =>
      val a = aggs(o)
      val busy = covered(a.taskIntervals.toSeq) / 1000.0
      math.max(0.0, wallMs(o) - a.analysisMs - a.optimizationMs - a.physicalMs - busy)
    }
    val wallTotal = wallMs.values.sum
    Map(
      "exec.jobs" -> mean(_.jobs.toDouble),
      "exec.stages" -> mean(_.stages.toDouble),
      "exec.tasks" -> mean(_.tasks.toDouble),
      "exec.task_ms" -> mean(_.taskMs),
      "exec.task_cpu_ms" -> mean(_.cpuMs),
      "exec.gc_ms" -> mean(_.gcMs),
      "exec.shuffle_write_mb" -> mean(_.shuffleWrite / mb),
      "exec.shuffle_read_mb" -> mean(_.shuffleRead / mb),
      "exec.spill_mb" -> mean(_.spill / mb),
      "exec.core_busy_ratio" ->
        (if (wallTotal > 0) aggs.values.map(_.taskMs).sum / (wallTotal * cores) else 0.0),
      "exec.driver_gap_ms" -> gaps.sum / n,
      "plan.analysis_ms" -> mean(_.analysisMs),
      "plan.optimization_ms" -> mean(_.optimizationMs),
      "plan.physical_ms" -> mean(_.physicalMs))
  }
}

/** JVM-wide resource figures: heap peak, GC time, live threads. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def threads: Double = ManagementFactory.getThreadMXBean.getThreadCount.toDouble
}
