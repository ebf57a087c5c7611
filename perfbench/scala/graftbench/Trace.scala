package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark: a pass, a query's build or run, a
  * generator commit, a micro-batch. Times are epoch milliseconds (the
  * clock Spark's listener events carry) with a nanosecond-derived
  * fraction, so spans and job intervals share one axis.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Everything the traced run records. Built only with `--trace 1`; the
  * untraced run registers no listener, so its timings carry no tracing
  * cost. Nothing inside graft is instrumented: the layers are read off
  * Spark's own listener buses and the benchmark's wall-clock spans.
  *
  *  - [[SparkListener]]: job intervals (for driver gaps), stage/task
  *    counts, task run/CPU/GC time, bytes and spills, retries. Every job
  *    is attributed to the span that submitted it through the
  *    `graftbench.span` local property, which [[span]] sets on the
  *    calling thread.
  *  - [[QueryExecutionListener]]: the analysis / optimization / planning
  *    phases of every batch action (`QueryExecution.tracker`).
  *  - [[StreamingQueryListener]]: the per-trigger duration breakdown of
  *    every micro-batch.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-millisecond resolution. */
  def now(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private val spansQ = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  /** Nanoseconds spent inside the benchmark's own listener callbacks. */
  private val listenerNanos = new java.util.concurrent.atomic.AtomicLong()

  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = current.get()
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val start = now()
    try body
    finally {
      spansQ.add(Span(id, parent, name, start, now()))
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  /** Record a span measured elsewhere (micro-batches, from their progress). */
  def addSpan(name: String, start: Double, end: Double): Unit =
    spansQ.add(Span(nextId.getAndIncrement(), 0, name, start, end))

  def spans: Seq[Span] = spansQ.asScala.toSeq.sortBy(_.start)

  // ------------------------------------------------------------ Spark jobs

  final case class Job(span: Int, start: Double, var end: Double, stages: Int)
  final case class Task(span: Int, launch: Double, runMs: Double, cpuNs: Long,
                        gcMs: Long, inBytes: Long, shRead: Long, shWrite: Long,
                        spill: Long, attempt: Int)
  final case class Phases(at: Double, analysisMs: Double, optimizerMs: Double,
                          planningMs: Double)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally listenerNanos.addAndGet(System.nanoTime() - t)
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val s = spanOf(e.properties)
      jobs.synchronized {
        jobs(e.jobId) = Job(s, e.time.toDouble, Double.NaN, e.stageIds.size)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val info = e.taskInfo
      val s = jobs.synchronized(stageSpan.getOrElse(e.stageId, 0))
      val t = if (m == null) Task(s, info.launchTime.toDouble, info.duration.toDouble,
        0L, 0L, 0L, 0L, 0L, 0L, info.attemptNumber)
      else Task(s, info.launchTime.toDouble, m.executorRunTime.toDouble,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, info.attemptNumber)
      tasks.synchronized(tasks += t)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        // the listener runs on the bus thread, so the action is placed
        // in time (end of its planning phase), not by thread property
        val at = p.get("planning").map(_.endTimeMs.toDouble)
          .getOrElse(System.currentTimeMillis().toDouble)
        phases.add(Phases(at, ms("analysis"), ms("optimization"), ms("planning")))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.add(e))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
  Tracer.resetHeapPeaks()

  /** Wait for the listener buses, then detach. */
  def close(): Unit = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def listenerSeconds: Double = listenerNanos.get() / 1e9
  def streamProgress: Seq[StreamingQueryListener.QueryProgressEvent] = progress.asScala.toSeq

  /** Span ids under (and including) the spans named by `roots`. */
  def subtree(roots: Seq[Span]): Set[Int] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    roots.flatMap(r => walk(r.id)).toSet
  }

  /** The session and executor layers over the given timed regions, per
    * unit of work. `inScope(span, time)` selects the jobs and tasks that
    * belong to the workload (by submitting span, or by time for work other
    * threads submit); `regions` select the query phases and bound the
    * driver-gap and core-busy computations.
    */
  def execMetrics(inScope: (Int, Double) => Boolean, regions: Seq[Span],
                  cores: Int, units: Double): Map[String, Double] = {
    val js = jobs.synchronized(jobs.values.filter(j => inScope(j.span, j.start)).toSeq)
    val ts = tasks.synchronized(tasks.filter(t => inScope(t.span, t.launch)).toSeq)
    val ph = phases.asScala.filter(p => within(regions)(p.at)).toSeq
    val wall = regions.map(r => r.end - r.start).sum
    val busy = regions.map { r =>
      Tracer.unionLength(js.map(j => (j.start max r.start,
        (if (j.end.isNaN) r.end else j.end) min r.end)).filter(i => i._2 > i._1))
    }.sum
    val u = units max 1.0
    Map(
      "spark.analysis_s" -> ph.map(_.analysisMs).sum / 1e3 / u,
      "spark.optimizer_s" -> ph.map(_.optimizerMs).sum / 1e3 / u,
      "spark.planning_s" -> ph.map(_.planningMs).sum / 1e3 / u,
      "exec.jobs" -> js.size / u,
      "exec.stages" -> js.map(_.stages).sum / u,
      "exec.tasks" -> ts.size / u,
      "exec.driver_gap_s" -> (wall - busy) / 1e3 / u,
      "exec.task_retries" -> ts.count(_.attempt > 0).toDouble,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3 / u,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / u,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3 / u,
      "exec.input_bytes" -> ts.map(_.inBytes).sum / u,
      "exec.shuffle_read_bytes" -> ts.map(_.shRead).sum / u,
      "exec.shuffle_write_bytes" -> ts.map(_.shWrite).sum / u,
      "exec.spill_bytes" -> ts.map(_.spill).sum / u,
      "exec.core_busy_ratio" -> (if (wall > 0) ts.map(_.runMs).sum / (cores * wall) else 0.0))
  }

  def jobsIn(ids: Set[Int]): Int = jobs.synchronized(jobs.values.count(j => ids(j.span)))

  /** True when `t` (epoch ms) falls inside one of `regions`. */
  def within(regions: Seq[Span])(t: Double): Boolean =
    regions.exists(r => t >= r.start && t <= r.end)
}

object Tracer {
  val SpanProp = "graftbench.span"

  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = curE max e
    }
    if (open) total += curE - curS
    total
  }

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
