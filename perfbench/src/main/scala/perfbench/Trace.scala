package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark did on behalf of one span (or one streaming query). */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong          // executorRunTime summed over tasks
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val bytesWritten = new AtomicLong    // task output metrics (parquet files)
  val recordsRead = new AtomicLong     // task input metrics (scans)
  // (start, end) epoch ms of every finished job, for job coverage
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  /** Milliseconds of wall time covered by at least one job. */
  def jobCoveredMs: Long = {
    var covered, end = 0L
    jobSpans.asScala.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  def copy(): Counters = { val c = new Counters; c += this; c }

  def -(o: Counters): Counters = {
    val c = copy()
    c.jobs.addAndGet(-o.jobs.get); c.stages.addAndGet(-o.stages.get)
    c.tasks.addAndGet(-o.tasks.get); c.taskMs.addAndGet(-o.taskMs.get)
    c.shuffleReadBytes.addAndGet(-o.shuffleReadBytes.get)
    c.shuffleWriteBytes.addAndGet(-o.shuffleWriteBytes.get)
    c.bytesWritten.addAndGet(-o.bytesWritten.get)
    c.recordsRead.addAndGet(-o.recordsRead.get)
    c
  }

  def +=(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get); taskMs.addAndGet(o.taskMs.get)
    shuffleReadBytes.addAndGet(o.shuffleReadBytes.get)
    shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    bytesWritten.addAndGet(o.bytesWritten.get)
    recordsRead.addAndGet(o.recordsRead.get)
  }
}

/** One timed call into a layer. `request` groups the spans of one
  * benchmark request (a queue step, a query pass); `parent` is the
  * enclosing span or -1. Plan and codegen time are filled in when the
  * span closes. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, var endNs: Long = 0L,
                      var planMs: Double = 0.0, var codegenMs: Double = 0.0) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder and Spark listeners, active only in traced runs.
  *
  * Jobs, stages, tasks, task time and shuffle bytes are attributed to
  * the innermost open span through a SparkContext local property that
  * the benchmark thread sets on entry (jobs inherit it); jobs started
  * by a streaming query carry that query's id instead and are counted
  * per query. Spans live in memory until [[spans]] is written out. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val StreamKey = "sql.streaming.queryId"
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val all = mutable.ArrayBuffer.empty[Span]
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val byStream = new ConcurrentHashMap[String, Counters]()
  private val stageOwner = new ConcurrentHashMap[Int, Counters]()
  private val jobStart = new ConcurrentHashMap[Int, (Counters, Long)]()
  // planning phase time of every finished query execution, drained into
  // the span open when it finishes (listener calls are asynchronous)
  private val planMsQueue = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private def owner(props: java.util.Properties): Option[Counters] =
    Option(props).flatMap { p =>
      Option(p.getProperty(SpanKey)).map(s =>
        bySpan.computeIfAbsent(s.toLong, _ => new Counters))
        .orElse(Option(p.getProperty(StreamKey)).map(q =>
          byStream.computeIfAbsent(q, _ => new Counters)))
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      owner(e.properties).foreach { c =>
        c.jobs.incrementAndGet()
        e.stageIds.foreach(stageOwner.put(_, c))
        jobStart.put(e.jobId, (c, e.time))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (c, t0) => c.jobSpans.add((t0, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (c <- Option(stageOwner.get(e.stageId)); m <- Option(e.taskMetrics)) {
        c.tasks.incrementAndGet()
        c.taskMs.addAndGet(m.executorRunTime)
        c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planMsQueue.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(f, qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `f` inside a span named `name`. Untraced runs just run `f`. */
  def span[T](name: String, request: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val stack = open.get
      val id = nextId.incrementAndGet()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      // events of earlier work are delivered before the clock starts, so
      // the span times only the call into the layer
      drain()
      planMsQueue.clear()
      val s = Span(id, name, stack.headOption.fold(-1L)(_.id), request, System.nanoTime())
      open.set(s :: stack)
      val cg0 = CodeGenerator.compileTime
      try f
      finally {
        s.endNs = System.nanoTime()
        s.codegenMs = (CodeGenerator.compileTime - cg0) / 1e6
        drain()
        var p = planMsQueue.poll()
        while (p != null) { s.planMs += p; p = planMsQueue.poll() }
        open.set(stack)
        sc.setLocalProperty(SpanKey, prev)
        all.synchronized { all += s }
      }
    }

  def spans: Seq[Span] = all.synchronized(all.toList)

  /** Counters of one span, children excluded (they carry their own). */
  def countersOf(s: Span): Counters = Option(bySpan.get(s.id)).getOrElse(new Counters)

  /** Counters summed over every span named `name`. */
  def countersNamed(name: String): Counters = {
    val c = new Counters
    spans.filter(_.name == name).foreach(s => c += countersOf(s))
    c
  }

  def streamCounters(queryId: String): Counters =
    Option(byStream.get(queryId)).getOrElse(new Counters)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans as JSON-ready maps, for the trace file written at exit. A
    * span's self time is its duration minus the time its children
    * cover; its driver time is its duration minus the time its own
    * Spark jobs cover. */
  def spanRecords: Seq[Map[String, Any]] = {
    val ss = spans
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.sortBy(_.startNs).map { s =>
      val c = countersOf(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "ms" -> s.ms, "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0)),
        "plan_ms" -> s.planMs, "codegen_ms" -> s.codegenMs,
        "job_covered_ms" -> c.jobCoveredMs, "driver_ms" -> (s.ms - c.jobCoveredMs),
        "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "task_ms" -> c.taskMs.get, "shuffle_read_bytes" -> c.shuffleReadBytes.get,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.get,
        "bytes_written" -> c.bytesWritten.get, "records_read" -> c.recordsRead.get)
    }
  }
}
