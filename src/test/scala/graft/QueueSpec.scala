package graft

import java.nio.file.Files

import graft.queue.{ParquetQueue, TypedQueue}
import graft.schema.{GraftSchema, GraftType}

class QueueSpec extends SparkSpec {
  import spark.implicits._

  private val schema = GraftSchema(("id", GraftType.INTEGER), ("text", GraftType.TEXT))

  private def fresh(capacity: Long = Long.MaxValue) = new ParquetQueue(
    spark, Files.createTempDirectory("qspec").toString, schema, capacity)

  test("FIFO across push batches (double-stack semantics)") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    q.push(Seq((3L, "c")).toDF("id", "text"))
    assert(q.size() == 3 && !q.isEmpty())
    assert(q.pop(2).map(_.getLong(0)) == Seq(1L, 2L))
    assert(q.pop(5).map(_.getLong(0)) == Seq(3L))
    assert(q.pop(1).isEmpty && q.isEmpty())
    q.dispose()
  }

  test("latest survives full consumption (Publisher.latest)") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    q.pop(10)
    assert(q.latest.map(_.getString(1)) == Some("b"))
    q.dispose()
  }

  test("expired entries are skipped by pop (lifetime)") {
    val q = fresh()
    q.push(Seq((1L, "dead")).toDF("id", "text"), lifetimeMs = 1,
      nowMs = System.currentTimeMillis() - 60000)
    q.push(Seq((2L, "alive")).toDF("id", "text"))
    assert(q.pop(10).map(_.getString(1)) == Seq("alive"))
    q.dispose()
  }

  test("capacity bounds tryPush including batch size") {
    val q = fresh(capacity = 3)
    assert(q.tryPush(Seq((1L, "a"), (2L, "b")).toDF("id", "text")))
    assert(!q.tryPush(Seq((3L, "c"), (4L, "d")).toDF("id", "text")))
    assert(q.tryPush(Seq((3L, "c")).toDF("id", "text")))
    q.dispose()
  }

  test("independent consumers have independent offsets") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    assert(q.pop(1, consumer = "x").map(_.getLong(0)) == Seq(1L))
    assert(q.pop(2, consumer = "y").map(_.getLong(0)) == Seq(1L, 2L))
    assert(q.pop(1, consumer = "x").map(_.getLong(0)) == Seq(2L))
    q.dispose()
  }

  test("state persists across reopen (journaling)") {
    val q = fresh()
    val root = q.root
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    q.pop(1)
    val q2 = new ParquetQueue(spark, root, schema)
    assert(q2.highwater == 2 && q2.size() == 1)
    assert(q2.pop(1).map(_.getLong(0)) == Seq(2L))
    q2.dispose()
  }

  test("streaming subscriber sees pushed batches in order") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    q.push(Seq((3L, "c")).toDF("id", "text"))
    val out = Files.createTempDirectory("qstream")
    val query = q.readStream()
      .writeStream.format("memory").queryName("qsub")
      .option("checkpointLocation", out.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)
    val seen = spark.sql("SELECT id FROM qsub ORDER BY seq").as[Long].collect()
    assert(seen.toSeq == Seq(1L, 2L, 3L))
    q.dispose()
  }

  test("torn write (batch without highwater commit) is invisible") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    // simulate a crash between segment write and highwater commit: an
    // orphan batch dir exists but highwater still points before it
    Seq((99L, "torn")).toDF("id", "text")
      .withColumn("seq", org.apache.spark.sql.functions.lit(2L))
      .withColumn("enq_ts", org.apache.spark.sql.functions.lit(0L))
      .withColumn("lifetime_ms", org.apache.spark.sql.functions.lit(-1L))
      .select("seq", "enq_ts", "lifetime_ms", "id", "text")
      .write.parquet(q.root + "/data/batch=2")
    assert(q.size() == 2)
    assert(q.pop(10).map(_.getLong(0)) == Seq(1L, 2L)) // torn row ignored
    // a writer recovering the journal re-appends from the committed
    // highwater; the orphan dir is never exposed to readers
    assert(q.latest.map(_.getLong(0)) == Some(2L))
    // and the recovering push REPLACES the orphan instead of wedging
    q.push(Seq((3L, "recovered")).toDF("id", "text"))
    assert(q.pop(10).map(_.getString(1)) == Seq("recovered"))
    q.dispose()
  }

  test("staged-but-unmoved committed segment is recovered at reopen") {
    val root = Files.createTempDirectory("qstage").toString
    val q = new ParquetQueue(spark, root, schema)
    q.push(Seq((1L, "a")).toDF("id", "text"))
    q.push(Seq((2L, "b")).toDF("id", "text"))
    q.close()
    // simulate a crash between highwater commit and the visibility
    // move: batch=1 is committed (highwater=2) but sits under _staging
    Files.move(
      java.nio.file.Paths.get(root, "data", "batch=1"),
      java.nio.file.Paths.get(root, "_staging", "batch=1"))
    val q2 = new ParquetQueue(spark, root, schema) // reopen recovers
    assert(q2.pop(10).map(_.getLong(0)) == Seq(1L, 2L), "no committed row lost")
    q2.dispose()
  }

  test("reserved payload field names are refused at open") {
    intercept[graft.schema.IncompatibleSchemaException] {
      new ParquetQueue(spark, Files.createTempDirectory("qres").toString,
        GraftSchema(("batch", GraftType.INTEGER), ("v", GraftType.REAL)))
    }
    intercept[graft.schema.IncompatibleSchemaException] {
      new ParquetQueue(spark, Files.createTempDirectory("qres2").toString,
        GraftSchema(("seq", GraftType.INTEGER), ("text", GraftType.TEXT)))
    }
  }

  test("quarantine survives multi-line error messages") {
    val q = fresh()
    q.push(Seq((1L, "poison")).toDF("id", "text"))
    q.consume(1, errorPermit = 1) { _ =>
      throw new RuntimeException("bad input:\nrow 7\twith tabs")
    }
    assert(q.quarantined() == Seq(0L), "audit parse survives the newline")
    q.dispose()
  }

  test("gzip codec queue round-trips and marks segments") {
    val q = new graft.queue.ParquetQueue(spark,
      java.nio.file.Files.createTempDirectory("qgz").toString, schema,
      codec = "gzip")
    q.push(Seq((1L, "a" * 1000)).toDF("id", "text"))
    assert(q.pop(1).map(_.getString(1).length) == Seq(1000))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(q.root))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains(".gz.")))
    q.dispose()
  }

  test("popWait blocks until a concurrent push arrives") {
    val q = fresh()
    val pusher = new Thread(() => {
      Thread.sleep(400)
      q.push(Seq((1L, "late")).toDF("id", "text"))
    })
    pusher.start()
    val t0 = System.nanoTime()
    val got = q.popWait(10, timeoutMs = 30000, pollMs = 50)
    pusher.join()
    assert(got.map(_.getString(1)) == Seq("late"))
    assert((System.nanoTime() - t0) / 1000000L >= 300, "pop returned before data existed")
    // empty queue + short timeout -> empty result after the wait
    val t1 = System.nanoTime()
    assert(q.popWait(1, timeoutMs = 200, pollMs = 50).isEmpty)
    assert((System.nanoTime() - t1) / 1000000L >= 200)
    q.dispose()
  }

  test("pushWait times out at capacity, succeeds once a pop frees room") {
    val q = fresh(capacity = 2)
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    // full: bounded wait fails without overfilling
    assert(!q.pushWait(Seq((3L, "c")).toDF("id", "text"), timeoutMs = 300, pollMs = 50))
    assert(q.size() == 2)
    // a concurrent consumer frees a slot mid-wait
    val popper = new Thread(() => { Thread.sleep(400); q.pop(1) })
    popper.start()
    assert(q.pushWait(Seq((3L, "c")).toDF("id", "text"), timeoutMs = 30000, pollMs = 50))
    popper.join()
    assert(q.pop(10).map(_.getLong(0)) == Seq(2L, 3L))
    q.dispose()
  }

  test("operations after close throw; close is idempotent") {
    val q = fresh()
    q.push(Seq((1L, "a")).toDF("id", "text"))
    q.close()
    q.close()
    assert(q.isClosed)
    intercept[IllegalStateException](q.push(Seq((2L, "b")).toDF("id", "text")))
    intercept[IllegalStateException](q.pop(1))
    intercept[IllegalStateException](q.latest)
    intercept[IllegalStateException](q.popWait(1, timeoutMs = 100))
    // data remains durable: a reopened handle serves it
    val q2 = new ParquetQueue(spark, q.root, schema)
    assert(q2.pop(1).map(_.getString(1)) == Seq("a"))
    q2.dispose()
  }

  test("consume quarantines a poison entry after errorPermit attempts and drains") {
    val q = fresh()
    q.push(Seq((1L, "ok1"), (2L, "poison"), (3L, "ok2")).toDF("id", "text"))
    var poisonAttempts = 0
    val got = q.consume[Long](10, errorPermit = 3) { row =>
      if (row.getString(1) == "poison") {
        poisonAttempts += 1
        throw new RuntimeException("boom")
      }
      row.getLong(0)
    }
    assert(got == Seq(1L, 3L), "healthy entries processed in order")
    assert(poisonAttempts == 3, "poison entry retried exactly errorPermit times")
    assert(q.quarantined() == Seq(1L), "poison seq recorded") // seq 1 = second row
    assert(q.isEmpty(), "offset advanced past the poison entry")
    // a later consume doesn't re-serve the quarantined entry
    assert(q.consume[Long](10)(_.getLong(0)).isEmpty)
    q.dispose()
  }

  test("consume commits per entry: a crash mid-batch re-delivers only the tail") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text"))
    // a hard crash (Error, not Exception) escapes the permit loop and
    // aborts the batch before the in-flight entry's offset commit
    class Crash extends Error("process died")
    val seen = scala.collection.mutable.Buffer[Long]()
    intercept[Crash] {
      q.consume[Unit](10) { row =>
        if (row.getLong(0) == 2L) throw new Crash
        seen += row.getLong(0)
      }
    }
    assert(seen.toSeq == Seq(1L), "only the first entry completed")
    assert(q.size() == 2, "offset committed past entry 1 only")
    // the restarted consumer re-delivers the in-flight entry and the tail
    assert(q.consume[Long](10)(_.getLong(0)) == Seq(2L, 3L))
    assert(q.isEmpty())
    q.dispose()
  }

  test("reopening with a different schema is refused") {
    val q = fresh()
    q.push(Seq((1L, "a")).toDF("id", "text"))
    val other = GraftSchema(("id", GraftType.INTEGER), ("score", GraftType.REAL))
    intercept[graft.schema.IncompatibleSchemaException](
      new ParquetQueue(spark, q.root, other))
    // the matching schema still opens fine
    val q2 = new ParquetQueue(spark, q.root, schema)
    assert(q2.pop(1).map(_.getString(1)) == Seq("a"))
    q2.dispose()
  }

  test("multi-threaded pushers and poppers deliver every entry exactly once") {
    val q = fresh()
    val perPusher = 15 // 3 batches x 5 rows
    val pushers = (0 until 3).map { p =>
      new Thread(() => (0 until 3).foreach { b =>
        val base = p * perPusher + b * 5
        q.push((base until base + 5).map(i => (i.toLong, s"v$i"))
          .toDF("id", "text"))
      })
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val poppers = (0 until 3).map { _ =>
      new Thread(() => {
        var idle = false
        while (!idle) {
          val got = q.popWait(7, timeoutMs = 5000, pollMs = 20)
          if (got.isEmpty) idle = true
          got.foreach(r => seen.add(r.getLong(0)))
        }
      })
    }
    (pushers ++ poppers).foreach(_.start())
    pushers.foreach(_.join())
    poppers.foreach(_.join())
    val ids = seen.toArray.map(_.asInstanceOf[Long]).toSeq.sorted
    assert(ids == (0L until 45L).toSeq,
      s"expected each of 45 entries exactly once, got ${ids.size}")
    q.dispose()
  }

  test("shared consumer name across instances: offset progress shared, no loss") {
    // the cross-process half of pop's shared-name contract: two OPEN
    // instances (each with its own mutex — the same isolation two
    // processes would have) sharing a consumer name coordinate ONLY
    // through the offset file. Sequentially interleaved pops must
    // partition the entries (progress is shared, nothing re-delivered
    // in the absence of a race) and the committed offset must always
    // equal 1 + the last delivered seq (the no-loss invariant that
    // bounds the concurrent case to at-least-once).
    val q1 = fresh()
    val q2 = new ParquetQueue(spark, q1.root, schema)
    q1.push((0L until 6L).map(i => (i, s"v$i")).toDF("id", "text"))
    assert(q1.pop(2, "shared").map(_.getLong(0)) == Seq(0L, 1L))
    // q2 sees q1's committed progress through the offset file
    assert(q2.offsetOf("shared") == 2L)
    assert(q2.pop(2, "shared").map(_.getLong(0)) == Seq(2L, 3L))
    assert(q1.offsetOf("shared") == 4L)
    assert(q1.pop(9, "shared").map(_.getLong(0)) == Seq(4L, 5L))
    // a different name is an independent cursor (fan-out): full replay
    assert(q2.pop(9, "other").map(_.getLong(0)) == (0L until 6L))
    q2.close()
    q1.dispose()
  }

  test("compact reclaims fully-consumed segments, keeps latest and floor") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text")) // batch=0: seq 0-1
    q.push(Seq((3L, "c")).toDF("id", "text"))            // batch=2: seq 2
    q.push(Seq((4L, "d")).toDF("id", "text"))            // batch=3: seq 3
    q.pop(10) // default consumer drains everything
    val before = q.diskSpace
    val freed = q.compact()
    assert(freed > 0 && q.diskSpace < before, "space reclaimed")
    assert(q.latest.map(_.getLong(0)) == Some(4L), "newest batch retained")
    // a brand-new consumer starts at the compaction floor, not 0
    assert(q.pop(10, consumer = "newbie").map(_.getLong(0)) == Seq(4L))
    q.dispose()
  }

  test("compact is held back by the slowest consumer") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
    q.push(Seq((3L, "c")).toDF("id", "text"))
    q.pop(10, consumer = "fast")
    q.pop(1, consumer = "slow") // offset 1: still inside the first batch
    assert(q.compact() == 0L, "nothing below the slowest offset")
    assert(q.pop(10, consumer = "slow").map(_.getLong(0)) == Seq(2L, 3L))
    assert(q.compact() > 0L, "first batch reclaimable once slow catches up")
    q.dispose()
  }

  test("consumerLags reports every committed consumer with its lag") {
    val q = fresh()
    q.push(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text"))
    q.pop(10, consumer = "fast")
    q.pop(1, consumer = "slow")
    assert(q.consumerLags() == Seq(("fast", 3L, 0L), ("slow", 1L, 2L)))
    q.push(Seq((4L, "d")).toDF("id", "text"))
    assert(q.consumerLags() == Seq(("fast", 3L, 1L), ("slow", 1L, 3L)))
    q.dispose()
  }

  test("exclusive writer lock is 1:1 and released on close") {
    val root = Files.createTempDirectory("qlock").toString
    val q1 = new ParquetQueue(spark, root, schema, exclusiveWriter = true)
    q1.push(Seq((1L, "a")).toDF("id", "text"))
    // second exclusive writer on the same queue is refused
    intercept[IllegalStateException](
      new ParquetQueue(spark, root, schema, exclusiveWriter = true))
    // non-exclusive readers are lock-free
    val reader = new ParquetQueue(spark, root, schema)
    assert(reader.pop(1).map(_.getString(1)) == Seq("a"))
    q1.close()
    // lock released: a successor writer can take over
    val q2 = new ParquetQueue(spark, root, schema, exclusiveWriter = true)
    q2.dispose()
  }

  test("writer lock is enforced across OS processes (reference filelockj shape)") {
    // the reference ships bin/filelockj + lockf.c precisely because a
    // same-JVM tryLock proves nothing about a SECOND process: NIO
    // surfaces intra-JVM conflicts as OverlappingFileLockException
    // before the OS is even asked. Fork a bare JVM (LockProbe is
    // Spark-free) against the held lock file and assert both phases.
    import scala.sys.process._
    val root = Files.createTempDirectory("qlockx").toString
    val q1 = new ParquetQueue(spark, root, schema, exclusiveWriter = true)
    val lockFile = s"$root/_meta/writer.lock"
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    def probe(): (Int, String) = {
      val out = new StringBuilder
      val code = Process(Seq(java, "-cp", cp, "graft.tools.LockProbe",
        lockFile)).!(ProcessLogger(l => { out.append(l); () }))
      (code, out.toString)
    }
    val (c1, o1) = probe()
    assert(c1 == 3 && o1.contains("HELD"),
      s"second process must be refused while writer holds: ($c1, $o1)")
    q1.close()
    val (c2, o2) = probe()
    assert(c2 == 0 && o2.contains("ACQUIRED"),
      s"close() must release the OS lock for a successor: ($c2, $o2)")
  }

  test("pushAll accepts up to capacity in order, reports the count") {
    val q = fresh(capacity = 3)
    val n1 = q.pushAll(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("id", "text"), orderCols = Seq("id"))
    assert(n1 == 3)
    assert(q.pop(1).map(_.getLong(0)) == Seq(1L)) // frees one slot
    val n2 = q.pushAll(Seq((4L, "d"), (5L, "e")).toDF("id", "text"), Seq("id"))
    assert(n2 == 1)
    assert(q.pop(10).map(_.getLong(0)) == Seq(2L, 3L, 4L))
    q.dispose()
  }

  test("typed queue round-trips a case class through push/pop/latest/consume") {
    val root = Files.createTempDirectory("qtyped").toString
    val tq = TypedQueue.open[QMsg](spark, root)
    tq.push(Seq(QMsg(1L, "a"), QMsg(2L, "b")))
    tq.push(spark.createDataset(Seq(QMsg(3L, "c"))))
    assert(tq.size() == 3)
    assert(tq.pop(2) == Seq(QMsg(1L, "a"), QMsg(2L, "b")))
    val processed = tq.consume(5)(m => m.text.toUpperCase)
    assert(processed == Seq("C"))
    assert(tq.isEmpty())
    assert(tq.latest == Some(QMsg(3L, "c"))) // survives full consumption
    // typed streaming subscriber decodes the same envelope
    val ckpt = Files.createTempDirectory("qtyped_ckpt").toString
    val s = tq.readStream(8).writeStream.format("memory")
      .queryName("qtyped_stream").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    s.awaitTermination(120000)
    val streamed = spark.sql("SELECT id, text FROM qtyped_stream")
      .as[QMsg].collect().sortBy(_.id).toSeq
    assert(streamed == Seq(QMsg(1L, "a"), QMsg(2L, "b"), QMsg(3L, "c")))
    tq.dispose()
  }

  test("typed queue derives the same contract as the explicit schema") {
    // a typed handle and an untyped handle interoperate on one queue
    val root = Files.createTempDirectory("qtypedmix").toString
    val untyped = new ParquetQueue(spark, root, schema)
    untyped.push(Seq((1L, "a")).toDF("id", "text"))
    val typed = new TypedQueue[QMsg](untyped)
    assert(typed.pop(1) == Seq(QMsg(1L, "a")))
    untyped.dispose()
  }

  test("typed queue rejects a mismatched case class with IncompatibleSchemaException") {
    val root = Files.createTempDirectory("qtypedbad").toString
    val tq = TypedQueue.open[QMsg](spark, root)
    tq.push(Seq(QMsg(1L, "a")))
    // reopening the same queue under a different T is refused by the
    // persisted contract (extra field)
    intercept[graft.schema.IncompatibleSchemaException](
      TypedQueue.open[QMsgExtra](spark, root))
    // wrapping an open handle with a wrong T is refused at construction
    // (field type flip), before any pop can mis-decode
    intercept[graft.schema.IncompatibleSchemaException](
      new TypedQueue[QMsgFlipped](tq.queue))
    // a type with no graft mapping is refused at schema derivation
    intercept[graft.schema.IncompatibleSchemaException](
      TypedQueue.schemaOf[QMsgUnmappable])
    tq.dispose()
  }

  test("typed queue narrowing fields fail loudly at open, never wrap") {
    // Int maps to INTEGER (contract stores long); the decoder refuses
    // the long->int down-cast AT CONSTRUCTION — before any pop could
    // consume (and lose) an entry it cannot decode. Widened fields
    // (Long) read the same queue fine.
    val root = Files.createTempDirectory("qtypednarrow").toString
    val untyped = new ParquetQueue(spark, root,
      GraftSchema(("id", GraftType.INTEGER), ("text", GraftType.TEXT)))
    untyped.push(Seq((1L, "a")).toDF("id", "text"))
    intercept[Exception] { new TypedQueue[QMsgInt](untyped) }
    assert(untyped.size() == 1, "failed open must not consume anything")
    val wide = new TypedQueue[QMsg](untyped)
    assert(wide.pop(1) == Seq(QMsg(1L, "a")))
    untyped.dispose()
  }

  test("sharded queue: key-stable routing, FIFO per shard, aggregate views") {
    import graft.queue.ShardedQueue
    val root = Files.createTempDirectory("shardq").toString
    val q = new ShardedQueue(spark, root, schema, nShards = 3)
    // keys repeat so per-key order is observable across push batches
    q.push(Seq((1L, "k1"), (2L, "k2"), (3L, "k3"), (4L, "k1"))
      .toDF("id", "text"), keyCol = "text")
    q.push(Seq((5L, "k2"), (6L, "k1")).toDF("id", "text"), keyCol = "text")
    assert(q.size() == 6 && !q.isEmpty())
    // every shard drains FIFO; the union is exactly the input; a key
    // never splits across shards (hash routing is deterministic)
    val byShard = (0 until 3).map(i => q.pop(i, 10).map(r =>
      (r.getLong(0), r.getString(1))))
    assert(byShard.flatten.sorted == (1L to 6L).map(i =>
      (i, Seq("k1", "k2", "k3", "k1", "k2", "k1")(i.toInt - 1))).sorted)
    byShard.foreach { rows =>
      assert(rows.map(_._1) == rows.map(_._1).sorted,
        s"per-shard FIFO violated: $rows")
      // per-key order = push order, because a key owns one shard
    }
    val keyToShard = byShard.zipWithIndex.flatMap { case (rows, i) =>
      rows.map(r => (r._2, i))
    }
    assert(keyToShard.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1),
      s"a routing key must never split across shards: $keyToShard")
    assert(q.isEmpty() && q.diskSpace > 0L)
    q.dispose()
  }

  test("sharded queue: one consumer NAME sees each entry exactly once across processes") {
    import graft.queue.ShardedQueue
    val root = Files.createTempDirectory("shardq2").toString
    val a = new ShardedQueue(spark, root, schema, nShards = 2)
    a.push((1L to 8L).map(i => (i, s"k$i")).toDF("id", "text"), keyCol = "text")
    // second facade over the same root = a second cooperating process;
    // offsets are per (shard, name) files, so alternating drains under
    // ONE name partition the entries with no loss and no duplication
    val b = new ShardedQueue(spark, root, schema, nShards = 2)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    var turn = 0
    while (!a.isEmpty("team") || !b.isEmpty("team")) {
      val inst = if (turn % 2 == 0) a else b
      got ++= inst.popAny(2, "team").map(_.getLong(0))
      turn += 1
    }
    assert(got.sorted == (1L to 8L), s"exactly-once per name violated: $got")
    // an independent name replays from the floor
    assert(a.popAny(100, "audit").map(_.getLong(0)).sorted == (1L to 8L))
    // lag view covers both names on both shards
    val lags = a.consumerLags()
    assert(lags.map(_._2).toSet == Set("team", "audit"))
    assert(lags.forall(_._4 == 0L), s"both names fully drained: $lags")
    a.close(); b.dispose()
  }

  // ---- C15: quebic on-disk journal import bridge ----------------------
  // The fixture is written HERE from the documented byte format (big-
  // endian: magic 0x5142, header-size short, current-items long, last-
  // position long, packed 4-bit schema ids; 32-byte '@' entry frames
  // with previous/created/expires/errors/length/codec; varint+double
  // field stream, PLAIN/GZIP codecs) — independent of both the bridge
  // decoder and the reference implementation, so the round-trip proves
  // the format, not the code against itself.
  private object fx {
    import java.nio.ByteBuffer
    def varint(v: Long): Array[Byte] =
      if (v >= 0 && v <= 252) Array(v.toByte)
      else if (v >= 0 && v <= 0xFFFF)
        ByteBuffer.allocate(3).put(253.toByte).putShort(v.toShort).array()
      else if (v >= 0 && v <= 0xFFFFFFFFL)
        ByteBuffer.allocate(5).put(254.toByte).putInt(v.toInt).array()
      else ByteBuffer.allocate(9).put(255.toByte).putLong(v).array()
    def text(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8"); varint(b.length) ++ b
    }
    def real(d: Double): Array[Byte] =
      ByteBuffer.allocate(8).putDouble(d).array()
    def binary(b: Array[Byte]): Array[Byte] = varint(b.length) ++ b
    def tensor(shape: Seq[Int], values: Seq[Double]): Array[Byte] =
      varint(shape.length) ++ shape.flatMap(varint(_)).toArray ++
        values.flatMap(real).toArray
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.finish(); g.close(); bo.toByteArray
    }
    /** entries = (createdAt, expiresAt, codecId, dataBytes), written in
      * PUSH order with the chain hanging newest-first off last-position
      * (the push-journal shape). Returns (bytes, entryOffsets). */
    def journal(typeIds: Seq[Byte],
                entries: Seq[(Long, Long, Byte, Array[Byte])])
        : (Array[Byte], Seq[Long]) = {
      val count = typeIds.length
      val packedLen = (count + (count % 2)) / 2
      val headerSize = 20 + 1 + packedLen
      val total = headerSize +
        entries.map(e => 32 + e._4.length).sum
      val buf = ByteBuffer.allocate(total)
      buf.putShort(0x5142.toShort)
      buf.putShort(headerSize.toShort)
      buf.putLong(entries.length.toLong)
      buf.putLong(-1L) // patched below
      buf.put(count.toByte)
      typeIds.padTo(count + (count % 2), 0.toByte).grouped(2).foreach {
        case Seq(hi, lo) => buf.put((((hi & 0x0F) << 4) | (lo & 0x0F)).toByte)
      }
      var prev = -1L
      val offsets = entries.map { case (created, expires, codec, data) =>
        val at = buf.position().toLong
        buf.put('@'.toByte).putLong(prev).putLong(created).putLong(expires)
          .putShort(0.toShort).putInt(data.length).put(codec).put(data)
        prev = at
        at
      }
      buf.putLong(12, prev) // last-position -> newest entry
      (buf.array(), offsets)
    }
    def write(path: java.nio.file.Path, bytes: Array[Byte]): String = {
      java.nio.file.Files.write(path, bytes); path.toString
    }
  }

  test("quebic import: decodes all 5 types, both codecs, FIFO + ts preserved") {
    import graft.sources.QuebicJournal
    val dir = Files.createTempDirectory("qbj")
    // schema [int, text, real, binary, tensor] — odd count exercises
    // the 4-bit padding; varint widths 1/3/5/9 all exercised via ids
    val mk = (id: Long, s: String, d: Double) =>
      fx.varint(id) ++ fx.text(s) ++ fx.real(d) ++
        fx.binary(Array[Byte](1, 2, id.toByte)) ++
        fx.tensor(Seq(2), Seq(d, -d))
    val plain = mk(7L, "first", 1.5)
    val zipped = fx.gzip(mk(70000L, "zweite — ünïcode", -2.25))
    val big = mk(5000000000L, "third", 0.0)
    val (bytes, _) = fx.journal(Seq(0, 2, 1, 3, 4),
      Seq((1000L, -1L, 0.toByte, plain),
        (2000L, 902000L, 1.toByte, zipped),
        (3000L, -1L, 0.toByte, big)))
    val path = fx.write(dir.resolve("q.qbj"), bytes)
    val df = QuebicJournal.readJournal(spark, path).collect()
    assert(df.length == 3, "all three frames decode")
    // FIFO: push order, seq from 0; created/expires preserved exactly
    assert(df.map(_.getAs[Long]("src_seq")).toSeq == Seq(0L, 1L, 2L))
    assert(df.map(_.getAs[Long]("created_at_ms")).toSeq ==
      Seq(1000L, 2000L, 3000L))
    assert(df.map(_.getAs[Long]("expires_at_ms")).toSeq ==
      Seq(-1L, 902000L, -1L))
    assert(df.map(_.getAs[Long]("f0")).toSeq == Seq(7L, 70000L, 5000000000L))
    assert(df(1).getAs[String]("f1") == "zweite — ünïcode",
      "gzip + utf-8 survive")
    assert(df.map(_.getAs[Double]("f2")).toSeq == Seq(1.5, -2.25, 0.0))
    assert(df(2).getAs[Array[Byte]]("f3").toSeq ==
      Seq[Byte](1, 2, 5000000000L.toByte))
    val t = df(0).getAs[org.apache.spark.sql.Row]("f4")
    assert(t.getSeq[Int](0) == Seq(2) && t.getSeq[Double](1) == Seq(1.5, -1.5))
  }

  test("quebic import: torn tail ignored, payload-corrupt frame skipped, broken chain loud") {
    import graft.sources.QuebicJournal
    val dir = Files.createTempDirectory("qbj2")
    val mk = (id: Long, s: String) => fx.varint(id) ++ fx.text(s)
    val (bytes, offsets) = fx.journal(Seq(0, 2),
      Seq((1L, -1L, 0.toByte, mk(1, "a")), (2L, -1L, 0.toByte, mk(2, "b")),
        (3L, -1L, 0.toByte, mk(3, "c"))))
    // torn tail: a crash mid-push leaves garbage PAST the committed
    // chain (data+entry land before the header commit) — must be inert
    val torn = fx.write(dir.resolve("torn.qbj"),
      bytes ++ Array.fill[Byte](40)(0x55))
    val d1 = QuebicJournal.readFrames(torn)
    assert(d1.frames.length == 3 && d1.skippedBroken == 0,
      "torn tail must not affect the committed chain")
    // payload corruption inside one frame: skipped with accounting,
    // the rest of the chain still imports (the reference's error-
    // discard semantics)
    val corrupt = bytes.clone()
    corrupt(offsets(1).toInt + 32) = 255.toByte // varint promises 8 bytes, frame has 4
    val cpath = fx.write(dir.resolve("corrupt.qbj"), corrupt)
    val d2 = QuebicJournal.readFrames(cpath)
    assert(d2.skippedBroken == 1 &&
      d2.frames.map(_.values.head) == Vector(3L, 1L),
      s"frame 2 skipped, 1+3 survive: $d2")
    // structural corruption (bad signature mid-chain) fails loudly —
    // silently importing half a queue would be data loss
    val badsig = bytes.clone()
    badsig(offsets(1).toInt) = '#'.toByte
    val bpath = fx.write(dir.resolve("badsig.qbj"), badsig)
    val err = intercept[IllegalStateException] {
      QuebicJournal.readFrames(bpath)
    }
    assert(err.getMessage.contains("signature"))
  }

  test("quebic import: garbage field lengths land in the skip path, not OOM/crash") {
    import graft.sources.QuebicJournal
    val dir = Files.createTempDirectory("qbj3")
    val mk = (id: Long, s: String) => fx.varint(id) ++ fx.text(s)
    // frame 2's text length varint decodes to 2^32-1: .toInt is -1,
    // which used to escape as NegativeArraySizeException (aborting the
    // whole import); a length just under 2^31 used to attempt a 2 GB
    // allocation. Both must now be validated against the remaining
    // payload bytes and SKIPPED (r15 ADVICE).
    val huge = fx.varint(9L) ++
      Array[Byte](254.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte,
        0xFF.toByte) // text length 4294967295
    val big31 = fx.varint(8L) ++
      Array[Byte](254.toByte, 0x7F.toByte, 0xFF.toByte, 0xFF.toByte,
        0xF0.toByte) // text length 2147483632: positive, allocation bomb
    val (bytes, _) = fx.journal(Seq(0, 2),
      Seq((1L, -1L, 0.toByte, mk(1, "a")),
        (2L, -1L, 0.toByte, huge),
        (3L, -1L, 0.toByte, big31),
        (4L, -1L, 0.toByte, mk(4, "d"))))
    val path = fx.write(dir.resolve("len.qbj"), bytes)
    val d = QuebicJournal.readFrames(path)
    assert(d.skippedBroken == 2 &&
      d.frames.map(_.values.head) == Vector(4L, 1L),
      s"both garbage-length frames skipped, 1+4 survive: $d")
  }

  test("quebic import: journal -> ParquetQueue round-trip preserves order, ts, TTL") {
    import graft.sources.QuebicJournal
    val dir = Files.createTempDirectory("qbj3")
    val mk = (id: Long, s: String) => fx.varint(id) ++ fx.text(s)
    val now = System.currentTimeMillis()
    val (bytes, _) = fx.journal(Seq(0, 2), Seq(
      (now - 5000, -1L, 0.toByte, mk(10, "ten")),
      (now - 4000, now - 3000, 0.toByte, mk(11, "expired")), // TTL passed
      (now - 2000, now + 3600000, 1.toByte, fx.gzip(mk(12, "live-ttl"))),
      (now - 2000, now + 3600000, 0.toByte, mk(13, "same-run"))))
    val path = fx.write(dir.resolve("q.qbj"), bytes)
    val decoded = QuebicJournal.readFrames(path)
    val q = new ParquetQueue(spark,
      Files.createTempDirectory("qimp").toString, decoded.schema)
    val n = QuebicJournal.importJournal(spark, path, q)
    assert(n == 4, "all four frames import (expiry is read-side)")
    // FIFO + TTL: the expired entry is skipped at pop exactly as the
    // reference skips it at consume; the live-TTL entries deliver
    assert(q.pop(10).map(_.getLong(0)) == Seq(10L, 12L, 13L))
    // ts preservation: enq_ts in the parquet envelope IS the original
    // created-at (not import time), so TTL wall-clock carries over
    val env = spark.read.parquet(s"${q.root}/data")
      .orderBy("seq").collect()
    assert(env.map(_.getAs[Long]("enq_ts")).toSeq ==
      Seq(now - 5000, now - 4000, now - 2000, now - 2000))
    assert(env.map(_.getAs[Long]("lifetime_ms")).toSeq ==
      Seq(-1L, 1000L, 3602000L, 3602000L))
    q.dispose()
  }

  test("quebic export: byte-identical to the independent fixture encoder; round-trips") {
    import graft.sources.QuebicJournal
    import graft.schema.{GraftSchema => GS, GraftType => GT}
    val s2 = GS(Seq("f0" -> GT.INTEGER, "f1" -> GT.TEXT))
    val df = Seq((7L, "first"), (70000L, "second"), (5000000000L, "third"))
      .toDF("f0", "f1")
    val dir = Files.createTempDirectory("qbjx")
    val out = dir.resolve("exp.qbj").toString
    assert(QuebicJournal.exportJournal(df, s2, "f0", out,
      codec = 0, createdAtMs = 1234L) == 3L)
    // the TEST's fixture writer is a second, independent encoder of
    // the documented format — main's exporter must agree byte-for-byte
    val mk = (id: Long, s: String) => fx.varint(id) ++ fx.text(s)
    val (expected, _) = fx.journal(Seq(0, 2), Seq(
      (1234L, -1L, 0.toByte, mk(7L, "first")),
      (1234L, -1L, 0.toByte, mk(70000L, "second")),
      (1234L, -1L, 0.toByte, mk(5000000000L, "third"))))
    val got = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out))
    assert(got.toSeq == expected.toSeq,
      "export bytes must match the independent encoder exactly")
    // decode round-trip preserves FIFO order + payload
    val back = QuebicJournal.readJournal(spark, out).collect()
    assert(back.map(_.getAs[Long]("f0")).toSeq ==
      Seq(7L, 70000L, 5000000000L))
    assert(back.map(_.getAs[Long]("created_at_ms")).distinct.toSeq == Seq(1234L))
    // gzip path round-trips through the decoder too
    val outZ = dir.resolve("expz.qbj").toString
    QuebicJournal.exportJournal(df, s2, "f0", outZ, codec = 1,
      createdAtMs = 5L)
    val backZ = QuebicJournal.readJournal(spark, outZ).collect()
    assert(backZ.map(_.getAs[String]("f1")).toSeq ==
      Seq("first", "second", "third"))
  }

  test("quebic import: double-stack queue+journal pair composes reference FIFO") {
    import graft.sources.QuebicJournal
    val dir = Files.createTempDirectory("qbj4")
    val mk = (id: Long) => fx.varint(id) ++ fx.text(s"d$id")
    // migrated QUEUE file: chain head (last-position) = next-to-pop =
    // OLDEST; build by pushing in REVERSE age order so the chain walks
    // oldest -> newest, the migrateTo layout
    val (qbytes, _) = fx.journal(Seq(0, 2),
      Seq((300L, -1L, 0.toByte, mk(3)), (200L, -1L, 0.toByte, mk(2)),
        (100L, -1L, 0.toByte, mk(1))))
    // push JOURNAL: natural push order, chain head = newest
    val (jbytes, _) = fx.journal(Seq(0, 2),
      Seq((400L, -1L, 0.toByte, mk(4)), (500L, -1L, 0.toByte, mk(5))))
    fx.write(dir.resolve("q.qbq"), qbytes)
    fx.write(dir.resolve("q.qbj"), jbytes)
    val schema = QuebicJournal.readFrames(dir.resolve("q.qbq").toString).schema
    val q = new ParquetQueue(spark,
      Files.createTempDirectory("qimp2").toString, schema)
    val n = QuebicJournal.importQueue(spark,
      dir.resolve("q.qbq").toString, q)
    assert(n == 5)
    // exactly the order a reference consumer would see: queue chain
    // (1,2,3) then journal pushes oldest-first (4,5)
    assert(q.pop(10).map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L))
    q.dispose()
  }

  test("push assigns contiguous FIFO seqs across 7 partitions, some empty") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val q = fresh()
    q.push(Seq((0L, "head")).toDF("id", "text"))
    // three hash keys over seven partitions: at least four are empty;
    // each row carries the partition it was pushed from
    val df = spark.range(1, 31).repartition(7, col("id") % 3)
      .select(col("id"), spark_partition_id().cast("string").as("text"))
    assert(df.rdd.getNumPartitions == 7)
    assert(q.push(df) == 30L && q.highwater == 31L)
    val rows = q.journal.orderBy("seq").collect()
    assert(rows.map(_.getAs[Long]("seq")).toSeq == (0L until 31L),
      "seqs are contiguous from the previous highwater")
    val parts = rows.drop(1).map(_.getAs[String]("text").toInt)
    assert(parts.distinct.length < 7, "the payload had empty partitions")
    assert(parts.toSeq == parts.sorted.toSeq,
      "FIFO order follows the payload's partition order")
    assert(rows.drop(1).map(_.getAs[Long]("id")).sorted.toSeq == (1L to 30L))
    assert(q.pop(100).map(_.getLong(0)) == rows.map(_.getAs[Long]("id")).toSeq)
    q.dispose()
  }

  test("a random source writes exactly the rows push counted") {
    import org.apache.spark.sql.functions.{col, lit, udf}
    // rand() is seeded when the plan is built, so re-running a plan
    // repeats its draws; this coin differs on every evaluation
    val coin = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextBoolean())
      .asNondeterministic()
    val src = spark.range(0, 400, 1, 4).filter(coin())
      .select(col("id"), lit("r").as("text"))
    def written(q: ParquetQueue) = q.journal.select("seq").as[Long].collect().sorted.toSeq
    val q = fresh()
    val n = q.push(src)
    assert(q.highwater == n && written(q) == (0L until n),
      s"counted $n, wrote seqs that are not exactly 0 until $n")
    // the capacity-checked publishers size the payload in the same pass
    val bounded = fresh(capacity = 1000)
    assert(bounded.tryPush(src) && bounded.pushWait(src, timeoutMs = 0L))
    assert(written(bounded) == (0L until bounded.highwater))
    q.dispose(); bounded.dispose()
  }

  test("push runs at most 2 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val q = fresh()
    val tag = "graft.test.push"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(jobs.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "push")
      q.push(spark.range(0, 1000, 1, 3).selectExpr("id", "CAST(id AS STRING) AS text"))
      // the listener bus delivers in order: once the marker job is
      // seen, every job of the push has been counted
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      val t0 = System.nanoTime()
      while (!jobs.contains("marker") && System.nanoTime() - t0 < 30000000000L)
        Thread.sleep(20)
      assert(jobs.contains("marker"))
      val pushJobs = jobs.toArray.count(_ == "push")
      assert(pushJobs <= 2, s"push ran $pushJobs jobs")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
      q.dispose()
    }
  }

  test("a subscriber started on an empty queue sees both later pushes in order") {
    import org.apache.spark.sql.streaming.Trigger
    val q = fresh()
    val ckpt = Files.createTempDirectory("qempty_ckpt").toString
    val query = q.readStream().writeStream.format("memory")
      .queryName("qempty").option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      query.processAllAvailable()
      q.push(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))
      query.processAllAvailable()
      q.push(Seq((3L, "c")).toDF("id", "text"))
      query.processAllAvailable()
      assert(query.exception.isEmpty)
      val seen = spark.sql("SELECT seq, id, batch FROM qempty ORDER BY seq")
        .as[(Long, Long, Long)].collect().toSeq
      assert(seen == Seq((0L, 1L, 0L), (1L, 2L, 0L), (2L, 3L, 2L)))
    } finally { query.stop(); q.dispose() }
  }
}

// top-level so implicit product encoders derive cleanly
case class QMsg(id: Long, text: String)
case class QMsgExtra(id: Long, text: String, extra: Double)
case class QMsgFlipped(id: Long, text: Double)
case class QMsgUnmappable(id: Long, tags: Map[String, String])
case class QMsgInt(id: Int, text: String)
