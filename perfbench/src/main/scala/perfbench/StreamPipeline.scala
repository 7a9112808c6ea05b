package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.Dedup
import graft.queue.ParquetQueue
import graft.schema.{GraftSchema, GraftType}
import graft.streaming.QueueStreaming

/** `stream_pipeline`: open loop. One generator thread pushes a batch of
  * `DocsPerPush` documents into a ParquetQueue every `PeriodMs`, on a
  * fixed schedule, for three quarters of the run; the queue's `readStream` feeds
  * `QueueStreaming.pipelineStream` (Gopher rules, MinHash dedup against
  * a growing signature table, winnow decontamination, parquet sink).
  *
  * The period is longer than a trigger (~4 s on 4 cores, almost all of
  * it fixed per-trigger cost), so the rate is sustainable and each push
  * is consumed by a trigger of its own. At a period shorter than a
  * trigger the stream runs back to back, each trigger's length decides
  * how many pushes the next one carries, and a run's latency moves by
  * whole triggers with small changes in speed.
  *
  * A push is delivered when the first trigger whose cumulative input
  * rows cover it commits; its latency runs from its scheduled time, so
  * a stall also charges the pushes queued behind it. Trigger progress
  * comes from the query's own `recentProgress`, so untraced runs need
  * no listener.
  *
  * Once the sink has caught up and the stream has stopped, the default
  * consumer drains the queue with `pop` and the drained segments are
  * compacted, outside the timed region: the consume half of the queue
  * is checked (and, in traced runs, measured) on the same rows. */
final class StreamPipeline(ctx: Ctx) extends Workload {
  import StreamPipeline._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val docSchema = GraftSchema(("doc_id", GraftType.INTEGER), ("text", GraftType.TEXT))
  private var gen: Gen.StreamDocs = _
  private var q: ParquetQueue = _
  private var query: StreamingQuery = _
  private var first: IndexedSeq[Gen.Doc] = _  // pushed during warm-up
  private var firstBatchId = -1L
  private val outDir = ctx.work.resolve("sink").toString

  private def frame(docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava, docSchema.sparkSchema)

  def prepare(): Unit = {
    val corpus = spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("text").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    gen = new Gen.StreamDocs(ctx.seed, corpus, SignatureDocs, 0.10, 0.10, 0.05)
    import spark.implicits._
    val eval = gen.evalPassages.toDF("doc_id", "text")
    val sigCorpus = gen.signatureCorpus.toDF("doc_id", "text")
    val table = s"perfbench_sigs_${ctx.work.getFileName}"

    Dedup.buildSignatureTable(sigCorpus, "doc_id", "text", table)
    q = new ParquetQueue(spark, ctx.work.resolve("queue").toString, docSchema)
    // The subscriber starts on a non-empty queue: a `readStream` started
    // on an empty queue fails at the first push (the source's schema is
    // fixed before any `batch=` partition exists, and the first
    // partitioned batch then fails Spark's "Invalid batch" assertion).
    // Warm-up: `WarmupPushes` pushes, each consumed by its own trigger
    // before the next (the first trigger compiles the pipeline; the
    // following ones are still 20-30 % slower while the JIT settles).
    val warm = IndexedSeq.fill(WarmupPushes)(IndexedSeq.fill(DocsPerPush)(gen.next()))
    first = warm.flatten
    q.push(frame(warm.head))
    query = QueueStreaming.pipelineStream(
      q.readStream(maxBatchesPerTrigger = 100000).select("doc_id", "text"),
      "doc_id", "text", eval, table, outDir, ctx.work.resolve("ckpt").toString,
      stopWords = Seq("the", "a"))
    query.processAllAvailable()
    warm.tail.foreach { docs => q.push(frame(docs)); query.processAllAvailable() }
    firstBatchId = query.lastProgress.batchId
  }

  def run(seconds: Double, out: Outcome): Unit = {
    // push for three quarters of the run; the sink catches up after it
    val pushes = math.max(1, (seconds * 750 / PeriodMs).toInt)
    val sizeUs = mutable.ArrayBuffer.empty[Double]
    val planned = IndexedSeq.fill(pushes)(IndexedSeq.fill(DocsPerPush)(gen.next()))
    val frames = planned.map(frame)
    val pushMs = mutable.ArrayBuffer.empty[Double]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val pushEndEpochMs = mutable.ArrayBuffer.empty[Long]
    var cum = first.length.toLong
    val cumRows = mutable.ArrayBuffer.empty[Long]
    tracer.drain()
    val before = tracer.streamCounters(query.id.toString).copy()
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    planned.indices.foreach { i =>
      val dueNs = t0Ns + i * PeriodMs * 1000000L
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lateMs += (System.nanoTime() - dueNs) / 1e6
      val (n, ms) = Stats.timed(tracer.span("queue.push", i)(q.push(frames(i))))
      out.op(n == planned(i).length)
      pushMs += ms
      pushEndEpochMs += System.currentTimeMillis()
      cum += n
      cumRows += cum
      val (sz, szMs) = Stats.timed(tracer.span("queue.size", i)(q.size()))
      sizeUs += szMs * 1000
      out.op(sz == cum) // no consumer commits offsets: size is the highwater
    }
    val lastDueMs = t0Ms + (pushes - 1) * PeriodMs
    // wait until the sink covers every pushed row
    val deadline = System.currentTimeMillis() + CatchupLimitMs
    def covered: Long = query.recentProgress.map(_.numInputRows).sum // includes `first`
    while (covered < cum && System.currentTimeMillis() < deadline && query.isActive)
      Thread.sleep(5)
    // triggers after the one(s) that consumed `first` before the clock started
    val progress = query.recentProgress
      .filter(p => p.numInputRows > 0 && p.batchId > firstBatchId).sortBy(_.batchId).toSeq
    val commits = commitsOf(progress)
    progress.foreach(p => Main.log(s"trigger ${p.batchId}: ${p.numInputRows} rows " +
      s"${p.durationMs.get("triggerExecution")} ms"))
    val coveredAll = commits.lastOption.exists(_._2 >= cum)
    out.check("stream caught up within the limit", coveredAll,
      s"covered ${commits.lastOption.map(_._2)} of $cum rows; ${query.exception}")
    query.stop()
    val docs = first ++ planned.flatten
    val segments = QueueLayer.segments(ctx.work.resolve("queue"))
    val (popped, freed) = queueChecks(out, docs)

    // deliver: scheduled push time -> first commit covering its rows
    val deliverMs = cumRows.indices.flatMap { i =>
      commits.find(_._2 >= cumRows(i)).map(c => (c._1 - (t0Ms + i * PeriodMs)).toDouble)
    }
    val doneMs = commits.lastOption.map(_._1).getOrElse(System.currentTimeMillis())
    checks(out, docs)

    // a run has a few pushes: their mean, with p50/p90 kept as detail
    out.metrics("request_ms") = deliverMs.sum / deliverMs.length
    out.detail("drain_s") = (doneMs - t0Ms) / 1000.0
    Stats.summary("push_ms", pushMs.toSeq).foreach(out.detail += _)
    Stats.summary("deliver_ms", deliverMs).foreach(out.detail += _)
    out.detail("deliver_ms_samples") = deliverMs
    out.detail("publish_rows_s") = cum / (pushMs.sum / 1000.0)
    out.detail("consume_rows_s") = cum / ((doneMs - t0Ms) / 1000.0)
    out.detail("gen_late_ms_p90") = Stats.pct(lateMs.toSeq, 90)
    out.detail("catchup_s") = (doneMs - lastDueMs) / 1000.0
    out.detail("rate_docs_s") = DocsPerPush * 1000.0 / PeriodMs
    out.detail("pushes") = pushes
    out.detail("rows_pushed") = cum
    out.detail("triggers") = progress.length
    out.detail("size_us_p50") = Stats.median(sizeUs.toSeq)
    if (tracer.enabled) layerMetrics(out, t0Ms, doneMs, before, pushEndEpochMs.toSeq,
      cumRows.toSeq, commits, planned.flatten.map(d => 8L + d.text.getBytes("UTF-8").length).sum,
      popped, freed, segments)
  }

  /** (commit epoch ms, cumulative input rows) per data-carrying trigger. */
  private def commitsOf(ps: Seq[StreamingQueryProgress]): Seq[(Long, Long)] = {
    var c = first.length.toLong
    ps.map { p =>
      c += p.numInputRows
      (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution"), c)
    }
  }

  /** The queue half of the output checks: `latest` is the last push;
    * popping until `size` reads 0 returns every pushed doc exactly once,
    * in push order; `consumerLags` then read 0; `compact` frees the
    * drained segments; a fresh handle sees the same highwater. Returns
    * the rows popped and the bytes compaction freed. */
  private def queueChecks(out: Outcome, docs: IndexedSeq[Gen.Doc]): (Long, Long) = {
    val l = tracer.span("queue.latest")(q.latest)
    out.check("latest equals the last push", l.exists(_.getLong(0) == docs.last.id),
      s"latest=${l.map(_.get(0))} want ${docs.last.id}")
    val popMs = mutable.ArrayBuffer.empty[Double]
    var popped, bad = 0
    var more = true
    while (more && q.size() > 0) {
      val (got, ms) = Stats.timed(tracer.span("queue.pop", popMs.length)(q.pop(PopRows)))
      popMs += ms
      got.foreach { r =>
        if (popped >= docs.length || r.getLong(0) != docs(popped).id ||
          r.getString(1) != docs(popped).text) bad += 1
        popped += 1
      }
      more = got.nonEmpty
    }
    out.check("every pushed doc popped exactly once, in push order, text intact",
      bad == 0 && popped == docs.length, s"popped=$popped pushed=${docs.length} bad=$bad")
    out.check("size reads 0 after the drain", q.size() == 0, s"size=${q.size()}")
    out.check("consumerLags read 0 after the drain",
      q.consumerLags().forall(_._3 == 0), q.consumerLags().toString)
    val (freed, compactMs) = Stats.timed(tracer.span("queue.compact")(q.compact()))
    out.check("compact frees the drained segments", freed > 0, s"freed=$freed")
    Stats.summary("pop_ms", popMs.toSeq).foreach(out.detail += _)
    out.detail("pop_rows_s") = popped / (popMs.sum / 1000.0)
    out.detail("compact_ms") = compactMs
    val hw = q.highwater
    q.close()
    q = tracer.span("queue.reopen")(new ParquetQueue(spark, q.root, docSchema))
    out.check("highwater survives reopen", q.highwater == hw && hw > 0,
      s"reopened ${q.highwater}, before $hw")
    q.close()
    (popped.toLong, freed)
  }

  private def funnel: DataFrame = spark.read.parquet(s"$outDir/funnel")

  private def checks(out: Outcome, docs: Seq[Gen.Doc]): Unit = {
    val f = funnel.groupBy("stage").agg(sum("n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.check("funnel ingest rows sum to rows pushed",
      f.getOrElse("ingest", -1L) == docs.length, s"funnel=$f pushed=${docs.length}")
    val sinkIds = spark.read.parquet(s"$outDir/data").select("doc_id").collect()
      .map(_.getLong(0))
    val pushedIds = docs.map(_.id).toSet
    out.check("sink ids distinct", sinkIds.distinct.length == sinkIds.length,
      s"${sinkIds.length - sinkIds.distinct.length} repeated")
    out.check("sink ids drawn from the pushed ids", sinkIds.forall(pushedIds),
      s"${sinkIds.count(!pushedIds(_))} foreign")
    val evalIds = docs.filter(_.kind == "eval").map(_.id).toSet
    out.check("eval-quoting docs absent from the sink", !sinkIds.exists(evalIds),
      s"${sinkIds.count(evalIds)} leaked")
    out.detail("keep_ratio") = f.getOrElse("decontam_winnow", 0L).toDouble / docs.length
    out.detail("funnel") = f
    out.detail("doc_kinds") = docs.groupBy(_.kind).map { case (k, v) => k -> v.length }
  }

  private def layerMetrics(out: Outcome, t0Ms: Long, doneMs: Long, before: Counters,
                           pushEnd: Seq[Long],
                           cumRows: Seq[Long], commits: Seq[(Long, Long)],
                           payloadBytes: Long, popped: Long, freed: Long,
                           segments: Int): Unit = {
    tracer.drain()
    // triggers after the clock started, idle ones included
    val all = tracer.progress.asScala.toSeq.filter(p => p.id == query.id && p.batchId > firstBatchId)
    val data = all.filter(_.numInputRows > 0)
    def phase(k: String) =
      Stats.layerMedian(data.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val trig = data.map(_.durationMs.get("triggerExecution").toDouble)
    val n = math.max(1, data.length)
    val c = tracer.streamCounters(query.id.toString) - before
    out.layer("streaming.trigger_ms_p50") = Stats.layerMedian(trig)
    out.layer("streaming.trigger_ms_p90") = if (trig.isEmpty) 0.0 else Stats.pct(trig, 90)
    Seq("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
      .foreach(k => out.layer(s"streaming.${k}_ms_p50") = phase(k))
    out.layer("streaming.rows_per_trigger") = data.map(_.numInputRows).sum.toDouble / n
    out.layer("streaming.jobs_per_trigger") = c.jobs.get.toDouble / n
    out.layer("streaming.stages_per_trigger") = c.stages.get.toDouble / n
    out.layer("streaming.shuffle_mb_per_trigger") =
      (c.shuffleReadBytes.get + c.shuffleWriteBytes.get) / 1e6 / n
    out.layer("streaming.idle_share") =
      1.0 - all.map(_.durationMs.get("triggerExecution").toDouble).sum / (doneMs - t0Ms)
    // rows pushed but not yet committed, sampled at every push's end
    // (the warm-up rows were committed before the clock started)
    out.layer("streaming.backlog_rows_max") = pushEnd.indices.map { i =>
      cumRows(i) - commits.filter(_._1 <= pushEnd(i)).lastOption.map(_._2)
        .getOrElse(first.length.toLong)
    }.max.toDouble
    out.layer("streaming.keep_ratio") = out.detail("keep_ratio").asInstanceOf[Double]
    QueueLayer.fill(tracer, out, payloadBytes, popped, freed, segments)
  }
}

object StreamPipeline {
  val PeriodMs = 5000L
  val DocsPerPush = 50
  val SignatureDocs = 500
  val CatchupLimitMs = 60000L
  val PopRows = 64
  val WarmupPushes = 3
}
