package e2ebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, or one piece of engine work reported by a
  * listener. Times are microseconds on the trace clock. A span belongs to the
  * op that holds it; its parent is the enclosing span one level shallower. */
final case class Span(name: String, layer: String, start: Long, end: Long, depth: Int)

/** One timed op of a workload: its root span, the spans recorded under it,
  * and the engine counters attributed to it. */
final class Op(val id: Int, val kind: String, val start: Long) {
  var end: Long = start
  /** In the timed window. */
  var timed = false
  /** In the fixed prefix of the window that count metrics are taken over,
    * so counts do not depend on how many ops the window fits. */
  var counted = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def ms: Double = (end - start) / 1000.0
}

/** The benchmark's tracer. Spans are kept in memory and summarised when the
  * run ends. With tracing off, `span` and `op` only time their bodies and no
  * listener is registered, so untraced runs pay nothing for it. */
object Trace {
  @volatile var enabled = false

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Trace clock in microseconds; listener timestamps (epoch ms) map onto
    * it through `fromEpochMs`. */
  def now(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
  def fromEpochMs(ms: Long): Long = ms * 1000

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val listenerSpans = mutable.ArrayBuffer.empty[Span]
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  @volatile private var current: Op = null
  @volatile private var lastEvent = System.nanoTime()

  def allOps: Seq[Op] = ops.synchronized(ops.toList)

  /** Runs `body` as one op; the returned Op carries its wall time. */
  def op[A](kind: String)(body: => A): (A, Op) = {
    val o = new Op(ops.synchronized(ops.size), kind, now())
    val gc0 = gcMs()
    val cg0 = codegenCompiles()
    if (enabled) { ops.synchronized(ops += o); current = o }
    depth.set(1)
    val r = try body finally {
      o.end = now()
      depth.set(0)
      current = null
      if (enabled) {
        o.counts("gc_ms") += gcMs() - gc0
        o.counts("codegen_compiles") += codegenCompiles() - cg0
        o.counts("heap_used_mb") = heapUsedMb()
      }
    }
    (r, o)
  }

  /** A span around one call into a layer's public function. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val o = current
      val d = depth.get()
      val t0 = now()
      depth.set(d + 1)
      try body finally {
        depth.set(d)
        if (o != null) o.spans.synchronized(o.spans += Span(name, layer, t0, now(), d))
      }
    }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  private def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  // ---------------------------------------------------------------- listeners

  private final class Job(val start: Long, val stages: Int) {
    var end: Long = start
    var tasks, cpuNs, runMs, shuffleRead, shuffleWrite, spill, written = 0L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  /** Streaming progress of one executed micro-batch, keyed by query id. */
  final case class Trigger(query: String, start: Long, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long, stateCommitMs: Long, dropped: Long)
  val triggers = mutable.ArrayBuffer.empty[Trigger]

  private def touched(): Unit = lastEvent = System.nanoTime()

  /** Registers the three listeners on `spark`. */
  def install(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = new Job(fromEpochMs(e.time), e.stageInfos.size)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        touched()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = fromEpochMs(e.time))
        touched()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.written += m.outputMetrics.bytesWritten
        }
        touched()
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        phases(qe)
        touched()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
        phases(qe)
        touched()
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        // idle progress reports carry no addBatch: only executed batches count
        if (d.contains("addBatch")) {
          val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
          val ops = p.stateOperators.toSeq
          triggers.synchronized(triggers += Trigger(p.id.toString,
            start, d, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
            ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
          listenerSpans.synchronized(listenerSpans +=
            Span("trigger", "stream", start, start + d.getOrElse("triggerExecution", 0L) * 1000, 0))
        }
        touched()
      }
    })
  }

  private def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning").contains(phase))
        listenerSpans.synchronized(listenerSpans +=
          Span(phase, "catalyst", fromEpochMs(s.startTimeMs), fromEpochMs(s.endTimeMs), 0))
    }
  }

  /** Waits until the listener bus has been quiet for 300 ms (at most 10 s),
    * so every event of the timed ops has been delivered. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** Attaches listener-reported work to the ops it ran in. A job, phase or
    * trigger belongs to the op whose interval holds its start: ops are run
    * one at a time by one client, so this needs no job tagging (the engine
    * runs some jobs from pool threads, which would carry stale tags).
    * Triggers and phases go in first, so the jobs inside them nest deeper. */
  def attribute(): Unit = {
    val all = allOps.sortBy(_.start)
    def owner(t: Long): Option[Op] = all.find(o => o.start <= t && t <= o.end)
    def parentDepth(o: Op, t: Long): Int =
      (o.spans.filter(s => s.start <= t && t <= s.end).map(_.depth) :+ 0).max
    for (s <- listenerSpans.synchronized(listenerSpans.toList); o <- owner(s.start)) {
      o.spans += s.copy(depth = parentDepth(o, s.start) + 1)
      if (s.layer == "catalyst") o.counts(s.name + "_ms") += (s.end - s.start) / 1000.0
    }
    for (j <- jobs.synchronized(jobs.values.toList); o <- owner(j.start)) {
      o.spans += Span("job", "exec", j.start, j.end, parentDepth(o, j.start) + 1)
      o.counts("jobs") += 1
      o.counts("stages") += j.stages
      o.counts("tasks") += j.tasks
      o.counts("task_cpu_ms") += j.cpuNs / 1e6
      o.counts("task_run_ms") += j.runMs
      o.counts("shuffle_read_bytes") += j.shuffleRead
      o.counts("shuffle_write_bytes") += j.shuffleWrite
      o.counts("spill_bytes") += j.spill
      o.counts("bytes_written") += j.written
      val inBuild = o.spans.exists(s => s.name == "SparkEntry.build" &&
        s.start <= j.start && j.start <= s.end)
      if (inBuild) o.counts("build_jobs") += 1
    }
  }

  /** Splits an op's wall time over layers along its blocking path: at every
    * instant the deepest open span (the latest-started among equals) owns
    * the time, and the root owns what no span covers. The parts sum to the
    * op's wall time exactly. */
  def selfTimes(o: Op): Map[String, Double] = {
    val sp = o.spans.toVector.map(s => s.copy(start = s.start.max(o.start), end = s.end.min(o.end)))
      .filter(s => s.end > s.start)
    val cuts = (sp.flatMap(s => Seq(s.start, s.end)) ++ Seq(o.start, o.end)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val open = sp.filter(s => s.start <= a && s.end >= b)
        val layer =
          if (open.isEmpty) "bench"
          else open.maxBy(s => (s.depth, s.start)).layer
        out(layer) += (b - a) / 1000.0
      case _ =>
    }
    out.toMap
  }
}
