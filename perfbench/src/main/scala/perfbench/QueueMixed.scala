package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.queue.ParquetQueue

/** `queue_mixed`: closed loop, one client. Each step pushes one small
  * batch (180-220 rows, ~1 kB median payload over all five GraftSchema
  * types), pops it, and calls `size` and `latest`; `compact()` runs every
  * `CompactEvery` steps and once after the loop. Per-call fixed cost
  * dominates. Every pushed row's id, checksum and payload size is kept
  * and checked against what the pops return. */
final class QueueMixed(ctx: Ctx) extends Workload {
  import QueueMixed._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val root: Path = ctx.work.resolve("queue")
  private val rows = new Gen.QueueRows(ctx.seed, 1024, 0.7, 64, 16384)
  private val batchRnd = new scala.util.Random(ctx.seed ^ 0x5eedL)
  private var q: ParquetQueue = _
  // what was pushed, payloads dropped: (id, checksum, payload bytes)
  private val pushed = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var popped = 0L          // rows popped so far, in push order
  private var badRows = 0L         // popped rows out of order or corrupted
  private val pushMs = mutable.ArrayBuffer.empty[Double]
  private val popMs = mutable.ArrayBuffer.empty[Double]

  private def open(): ParquetQueue = new ParquetQueue(spark, root.toString, Gen.queueSchema)

  /** Untimed warm-up on a scratch queue (codegen, parquet writers and
    * readers), so the first timed call measures the queue. */
  def prepare(): Unit = {
    val w = new ParquetQueue(spark, ctx.work.resolve("warm").toString, Gen.queueSchema)
    val warm = new Gen.QueueRows(ctx.seed + 1, 1024, 0.7, 64, 16384)
    w.push(Gen.frame(spark, warm.batch(BatchRows))); w.pop(BatchRows); w.latest; w.size()
    w.compact()
    w.dispose()
    q = open()
  }

  private def push(items: Seq[Gen.Item], step: Long, out: Outcome): Double = {
    val df = Gen.frame(spark, items)
    val (n, ms) = Stats.timed(tracer.span("queue.push", step)(q.push(df)))
    out.op(n == items.length)
    pushed ++= items.map(i => (i.id, i.crc, i.payloadBytes))
    pushMs += ms
    ms
  }

  /** Pop up to `n` rows and check each against the next expected push. */
  private def pop(n: Int, step: Long, out: Outcome): (Seq[Row], Double) = {
    val (got, ms) = Stats.timed(tracer.span("queue.pop", step)(q.pop(n)))
    val ok = got.forall { r =>
      val good = popped < pushed.length && {
        val want = pushed(popped.toInt)
        r.getLong(0) == want._1 && Gen.checksum(r) == want._2
      }
      popped += 1
      if (!good) badRows += 1
      good
    }
    out.op(ok)
    popMs += ms
    (got, ms)
  }

  def run(seconds: Double, out: Outcome): Unit = {
    val deliverMs = mutable.ArrayBuffer.empty[Double]
    val sizeUs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    var freed = 0L
    def compact(step: Long): Unit = {
      val (f, ms) = Stats.timed(tracer.span("queue.compact", step)(q.compact()))
      freed += f
      compactMs += ms
    }
    val t0 = System.nanoTime()
    var step = 0L
    while (Stats.sinceMs(t0) < seconds * 1000) {
      val n = BatchRows - 20 + batchRnd.nextInt(41)
      val p = push(rows.batch(n), step, out)
      val (got, popT) = pop(n + 1, step, out)
      out.op(got.length == n)
      deliverMs += p + popT
      val (sz, szMs) = Stats.timed(tracer.span("queue.size", step)(q.size()))
      sizeUs += szMs * 1000
      out.op(sz == 0)
      val l = tracer.span("queue.latest", step)(q.latest)
      out.check("latest equals the last push",
        l.exists(r => Gen.checksum(r) == pushed.last._2), s"latest=${l.map(_.get(0))}")
      step += 1
      if (step % CompactEvery == 0) compact(step)
    }
    val loopS = Stats.sinceMs(t0) / 1000.0
    if (step % CompactEvery != 0) compact(step)
    // queue directory bytes over the payload bytes of the rows still
    // stored (seqs at or above the compaction floor)
    val stored = q.diskSpace.toDouble / pushed.iterator.drop(q.floor.toInt).map(_._3).sum
    val segments = QueueLayer.segments(root)

    out.check("every pushed row popped exactly once, in seq order, checksums match",
      badRows == 0 && popped == pushed.length,
      s"popped=$popped pushed=${pushed.length} bad=$badRows")
    out.check("size reads 0 after the drain", q.size() == 0, s"size=${q.size()}")
    out.check("consumerLags read 0 after the drain",
      q.consumerLags().forall(_._3 == 0), q.consumerLags().toString)
    q.close()
    q = tracer.span("queue.reopen")(open())
    out.check("highwater survives reopen", q.highwater == pushed.length,
      s"highwater=${q.highwater} pushed=${pushed.length}")
    q.close()

    val payload = pushed.iterator.map(_._3).sum
    out.metrics("request_ms") = Stats.pct(deliverMs.toSeq, 50)
    Stats.summary("push_ms", pushMs.toSeq).foreach(out.detail += _)
    Stats.summary("pop_ms", popMs.toSeq).foreach(out.detail += _)
    Stats.summary("deliver_ms", deliverMs.toSeq).foreach(out.detail += _)
    out.detail("publish_rows_s") = pushed.length / (pushMs.sum / 1000.0)
    out.detail("consume_rows_s") = popped / (popMs.sum / 1000.0)
    out.detail("stored_bytes_per_payload_byte") = stored
    out.detail("steps") = step
    out.detail("rows_pushed") = pushed.length
    out.detail("payload_mb") = payload / 1e6
    out.detail("loop_s") = loopS
    out.detail("size_us_p50") = Stats.median(sizeUs.toSeq)
    out.detail("compact_ms_p50") = Stats.median(compactMs.toSeq)
    out.detail("bytes_freed") = freed
    if (tracer.enabled) QueueLayer.fill(tracer, out, payload, popped, freed, segments)
  }
}

object QueueMixed {
  val BatchRows = 200
  val CompactEvery = 8
}

/** The `queue` layer's per-layer metrics, from the spans around each
  * ParquetQueue call. */
object QueueLayer {
  /** Live segment directories of the queue at `root`. */
  def segments(root: Path): Int = {
    val s = Files.list(root.resolve("data"))
    try s.filter(_.getFileName.toString.startsWith("batch=")).count().toInt
    finally s.close()
  }

  def fill(tracer: Tracer, out: Outcome, payloadBytes: Long, rowsPopped: Long,
           bytesFreed: Long, segmentsLive: Int): Unit = {
    val spans = tracer.spans.groupBy(_.name)
    def ms(name: String) = spans.getOrElse(name, Nil).map(_.ms)
    def per(name: String)(f: Counters => Long): Double = {
      val n = spans.getOrElse(name, Nil).length
      if (n == 0) 0.0 else f(tracer.countersNamed(name)).toDouble / n
    }
    out.layer("queue.push.ms_p50") = Stats.layerMedian(ms("queue.push"))
    out.layer("queue.push.jobs") = per("queue.push")(_.jobs.get)
    out.layer("queue.push.stages") = per("queue.push")(_.stages.get)
    out.layer("queue.push.task_ms") = per("queue.push")(_.taskMs.get)
    out.layer("queue.push.bytes_written_per_payload_byte") =
      tracer.countersNamed("queue.push").bytesWritten.get.toDouble / math.max(1L, payloadBytes)
    out.layer("queue.pop.ms_p50") = Stats.layerMedian(ms("queue.pop"))
    out.layer("queue.pop.jobs") = per("queue.pop")(_.jobs.get)
    out.layer("queue.pop.records_read_per_row_returned") =
      tracer.countersNamed("queue.pop").recordsRead.get.toDouble / math.max(1L, rowsPopped)
    out.layer("queue.compact.ms") = Stats.layerMedian(ms("queue.compact"))
    out.layer("queue.compact.bytes_freed") = bytesFreed.toDouble
    out.layer("queue.segments_live") = segmentsLive.toDouble
    out.layer("queue.latest.ms") = Stats.layerMedian(ms("queue.latest"))
    out.layer("queue.size.us") = Stats.layerMedian(ms("queue.size")) * 1000.0
    out.layer("queue.reopen.ms") = Stats.layerMedian(ms("queue.reopen"))
  }
}
