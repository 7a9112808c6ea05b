package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Streaming consumption — the reference's Subscriber pop-loop
  * (Queue.scala:258-297: poll, block, process) re-expressed as
  * Structured Streaming over the queue's segment layout or any event
  * stream (SURVEY.md §2 C13).
  *
  * The reference's consumer is an imperative `while (true) pop()`;
  * here the same semantics are declarative: the file source tails new
  * segments, watermarks bound state, and `flatMapGroupsWithState`
  * holds the per-key custom state the reference kept in application
  * code. Exactly-once per sink via checkpointing replaces the
  * reference's offset-in-file recovery.
  */
object QueueStreaming {

  /** Tumbling-window counts/sums with a watermark — the canonical
    * "process the queue in time buckets" consumer. `tsCol` must be a
    * TimestampType column. */
  def windowedStats(events: DataFrame, tsCol: String, keyCol: String,
                    valCol: String, windowDur: String,
                    watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol).cast("decimal(38,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n_events"), col("sum_value"))

  /** Per-window trending terms via the mergeable Space-Saving sketch
    * ([[graft.functions.approx_top_k]]): the streaming state carries one
    * capacity-bounded summary per open window (the aggregate's buffer
    * serializes into the state store and merges across triggers), so
    * the hot-terms feed costs O(open windows x capacity) state
    * regardless of the stream's vocabulary — the streaming twin of the
    * batch heavy-hitters sketch. */
  def trendingTerms(docs: DataFrame, tsCol: String, textCol: String,
                    k: Int, capacity: Int, windowDur: String,
                    watermarkDelay: String): DataFrame =
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(graft.functions.tokenize_ws(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), windowDur))
      .agg(graft.functions.approx_top_k(col("term"), k, capacity).as("hh"))
      .select(col("window.start").as("window_start"), posexplode(col("hh")))
      .select(col("window_start"), (col("pos") + 1).as("rank"),
        col("col.term").as("term"), col("col.est").as("est"))

  case class Event(user_id: Long, event_id: Long, ts_ms: Long, value: Double)
  case class SessionState(nEvents: Long, sumValue: Double, startMs: Long, lastMs: Long)
  case class Session(user_id: Long, n_events: Long, sum_value: Double,
                     duration_ms: Long)

  /** Gap-based sessionization with custom state — the reference
    * pattern "remember where processing got to per key" generalized:
    * a session closes after `gapMs` of event-time silence (emitted when
    * the next event arrives past the gap) or, with `wallClockTimeout`,
    * after `gapMs` of processing-time silence. Tests use the
    * data-driven mode: processing-time timeouts re-trigger batches
    * continuously, which is correct in production but never lets
    * `processAllAvailable()` settle. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 wallClockTimeout: Boolean = true): Dataset[Session] = {
    implicit val sessEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessionState]
    val timeoutConf = if (wallClockTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.nEvents, s.sumValue, s.lastMs - s.startMs))
          } else {
            val sorted = rows.toSeq.sortBy(_.event_id)
            val prev = state.getOption
            val (emitted, next) = sorted.foldLeft(
              (Vector.empty[Session], prev)) { case ((out, st), e) =>
              st match {
                case Some(s) if e.ts_ms < s.startMs - gapMs =>
                  // straggler older than the session's reach: absorbing
                  // it would drag startMs back across unbounded silence;
                  // in batch it forms its own earlier island — emit it
                  // closed, keep the open session untouched
                  (out :+ Session(userId, 1, e.value, 0L), st)
                case Some(s) if e.ts_ms - s.lastMs <= gapMs =>
                  // min/max bounds: an out-of-order event inside the
                  // gap extends the session, never shrinks it
                  (out, Some(s.copy(nEvents = s.nEvents + 1,
                    sumValue = s.sumValue + e.value,
                    startMs = math.min(s.startMs, e.ts_ms),
                    lastMs = math.max(s.lastMs, e.ts_ms))))
                case Some(s) =>
                  (out :+ Session(userId, s.nEvents, s.sumValue, s.lastMs - s.startMs),
                    Some(SessionState(1, e.value, e.ts_ms, e.ts_ms)))
                case None =>
                  (out, Some(SessionState(1, e.value, e.ts_ms, e.ts_ms)))
              }
            }
            next.foreach { s =>
              state.update(s)
              if (wallClockTimeout) state.setTimeoutDuration(gapMs)
            }
            emitted.iterator
          }
      }
  }

  /** [[sessionize]] on the Spark 4 `transformWithState` API — the
    * successor of `flatMapGroupsWithState`: typed state handles
    * (`ValueState`) instead of one opaque state value, first-class
    * timers instead of a single timeout, and RocksDB-backed state
    * (set `spark.sql.streaming.stateStore.providerClass` to the
    * RocksDBStateStoreProvider). Same session semantics as
    * [[sessionize]]; with `useTimers` a session also closes after
    * `gapMs` of processing-time silence. */
  class SessionProcessor(gapMs: Long, useTimers: Boolean)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var state: ValueState[SessionState] = _
    // the ONE live timer's expiry: transformWithState keeps every
    // registered timer, so without deleting the previous one a stale
    // timer would fire gapMs after the FIRST event and close an
    // actively-extending session mid-flight
    @transient private var expiry: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)
      expiry = getHandle.getValueState[Long]("expiry",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(_.event_id)
      val prev = if (state.exists()) Some(state.get()) else None
      val (emitted, next) = sorted.foldLeft(
        (Vector.empty[Session], prev)) { case ((out, st), e) =>
        st match {
          case Some(s) if e.ts_ms < s.startMs - gapMs =>
            // straggler older than the session's reach — own island,
            // emitted closed (same rule as the flatMapGroups twin)
            (out :+ Session(userId, 1, e.value, 0L), st)
          case Some(s) if e.ts_ms - s.lastMs <= gapMs =>
            // min/max bounds: out-of-order events inside the gap extend
            // the session, never shrink it
            (out, Some(s.copy(nEvents = s.nEvents + 1,
              sumValue = s.sumValue + e.value,
              startMs = math.min(s.startMs, e.ts_ms),
              lastMs = math.max(s.lastMs, e.ts_ms))))
          case Some(s) =>
            (out :+ Session(userId, s.nEvents, s.sumValue, s.lastMs - s.startMs),
              Some(SessionState(1, e.value, e.ts_ms, e.ts_ms)))
          case None =>
            (out, Some(SessionState(1, e.value, e.ts_ms, e.ts_ms)))
        }
      }
      next.foreach { s =>
        state.update(s)
        if (useTimers) {
          if (expiry.exists()) getHandle.deleteTimer(expiry.get())
          val exp = tv.getCurrentProcessingTimeInMs() + gapMs
          getHandle.registerTimer(exp)
          expiry.update(exp)
        }
      }
      emitted.iterator
    }

    override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Session] =
      // only the CURRENT timer closes the session (a stale one that
      // raced deletion is ignored)
      if (state.exists() && expiry.exists() &&
          info.getExpiryTimeInMs() == expiry.get()) {
        val s = state.get()
        state.clear()
        expiry.clear()
        Iterator(Session(userId, s.nEvents, s.sumValue, s.lastMs - s.startMs))
      } else Iterator.empty
  }

  /** Gap sessionization via `transformWithState` (see
    * [[SessionProcessor]]). `useTimers=false` is the data-driven mode
    * the specs use (sessions close when a late-enough event arrives). */
  def sessionizeTws(events: Dataset[Event], gapMs: Long,
                    useTimers: Boolean = true): Dataset[Session] = {
    implicit val sessEnc = Encoders.product[Session]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapMs, useTimers),
        if (useTimers) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming sessionization on the BUILT-IN `session_window`
    * operator: watermark-bounded state, sessions emitted when the
    * watermark passes their close. The third streaming shape next to
    * [[sessionize]] (flatMapGroupsWithState) and [[sessionizeTws]]
    * (transformWithState); prefer this one when plain windowed
    * aggregates are all the session needs. `tsCol` must be a
    * TimestampType column. */
  def sessionWindowStats(events: DataFrame, tsCol: String, keyCol: String,
                         valCol: String, gapDur: String,
                         watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gapDur).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol).cast("decimal(38,4)")).cast("double").as("sum_value"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Deduplicating consumer: drop re-deliveries by id within the
    * watermark horizon — the streaming analog of exact dedup. */
  def dedupStream(events: DataFrame, tsCol: String, idCol: String,
                  watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream event-time interval join (the impression→click
    * attribution shape): a right row matches a left row with the same
    * key when it lands in `[leftTs, leftTs + withinMs]`. BOTH sides
    * carry watermarks and the join condition bounds event time in both
    * directions — that's what lets Spark expire join state (a
    * stream-stream join without the time bound buffers both streams
    * forever; with it, state is O(withinMs + delay) per key). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   withinMs: Long, delay: String): DataFrame = {
    val l = left.withWatermark(leftTs, delay).as("l")
    val r = right.withWatermark(rightTs, delay).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") +
          expr(s"INTERVAL $withinMs MILLISECONDS"))
      .select(col(s"l.$key").as(key), col(s"l.$leftTs").as(leftTs),
        col(s"r.$rightTs").as(rightTs))
  }

  case class Doc(source: String, doc_id: Long, n_tokens: Long)
  case class PackedDoc(source: String, doc_id: Long, n_tokens: Long,
                       shard: Long)

  /** Streaming twin of [[graft.operators.Pack]]: per-source running
    * token prefix in typed `ValueState`, so arriving documents are cut
    * into ~budget-token shards continuously — shard numbering survives
    * triggers AND restarts (state checkpoint). Within a trigger, rows
    * are processed in doc_id order for determinism; across triggers,
    * order is arrival order (the streaming contract). */
  class PackProcessor(budgetTokens: Long)
      extends StatefulProcessor[String, Doc, PackedDoc] {
    @transient private var prefix: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      prefix = getHandle.getValueState[Long]("prefix",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[Doc],
                                 tv: TimerValues): Iterator[PackedDoc] = {
      var acc = if (prefix.exists()) prefix.get() else 0L
      val out = rows.toSeq.sortBy(_.doc_id).map { d =>
        val shard = acc / budgetTokens
        acc += d.n_tokens
        PackedDoc(d.source, d.doc_id, d.n_tokens, shard)
      }
      prefix.update(acc)
      out.iterator
    }
  }

  /** Continuous shard packing per source key (see [[PackProcessor]]). */
  def packStream(docs: Dataset[Doc], budgetTokens: Long): Dataset[PackedDoc] = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    implicit val enc = Encoders.product[PackedDoc]
    docs.groupByKey(_.source)(Encoders.STRING)
      .transformWithState(new PackProcessor(budgetTokens),
        TimeMode.None(), OutputMode.Append())
  }

  case class Change(user_id: Long, seq: Long, change_type: String, value: Double)
  case class Upserted(user_id: Long, last_type: String, last_value: Double,
                      last_seq: Long, n_changes: Long, deleted: Boolean)

  /** C13f: continuously-maintained CDC merge-on-read view — the
    * streaming twin of the batch `q_cdc_upsert`: per-key latest-wins
    * state in `transformWithState`, tombstone type marks the key
    * deleted. Each trigger emits the key's UPDATED view row (an
    * update changelog — downstreams apply rows keyed by user_id).
    * Out-of-order changes within the state's seq horizon are absorbed:
    * a stale seq bumps n_changes but never regresses the view. A
    * tombstone CLEARS the key's state (that's what keeps state O(live
    * keys) on delete-heavy churn, trigger-count-independent); the
    * documented cost is that a pre-tombstone change arriving AFTER the
    * tombstone resurrects the key with a fresh change count — the
    * standard at-least-once CDC tradeoff, resolved upstream by
    * delivering each key's changes in order (the queue's FIFO
    * contract). */
  class UpsertProcessor(tombstone: String)
      extends StatefulProcessor[Long, Change, Upserted] {
    @transient private var view: ValueState[Upserted] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      view = getHandle.getValueState[Upserted]("view",
        Encoders.product[Upserted], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Change],
                                 tv: TimerValues): Iterator[Upserted] = {
      var cur = if (view.exists()) view.get()
        else Upserted(key, "", 0.0, Long.MinValue, 0L, deleted = false)
      // deterministic within-trigger order; cross-trigger order is
      // arrival order with stale-seq protection
      rows.toSeq.sortBy(_.seq).foreach { c =>
        cur =
          if (c.seq >= cur.last_seq)
            cur.copy(last_type = c.change_type, last_value = c.value,
              last_seq = c.seq, n_changes = cur.n_changes + 1)
          else cur.copy(n_changes = cur.n_changes + 1)
      }
      cur = cur.copy(deleted = cur.last_type == tombstone)
      if (cur.deleted) view.clear() else view.update(cur)
      Iterator.single(cur)
    }
  }

  /** Continuously-maintained latest-wins upsert view (see
    * [[UpsertProcessor]]). */
  def upsertStream(changes: Dataset[Change], tombstone: String): Dataset[Upserted] = {
    implicit val enc = Encoders.product[Upserted]
    changes.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new UpsertProcessor(tombstone),
        TimeMode.None(), OutputMode.Append())
  }

  /** C13g: streaming semantic retrieval — a stream of query vectors
    * probes a PERSISTED IVF index ([[graft.operators.Ann.buildIvfIndex]])
    * per trigger: the online-serving half of the retrieval stack
    * (the batch half is `q_retrieval`/`searchIvfIndex`). `foreachBatch`
    * is the right shape for the same reason as [[nearDupIngest]]: the
    * probe derives its pruned cell list driver-side from the tiny
    * centroid table and pushes it as a `cluster=` partition filter,
    * which a pure streaming plan cannot express. Per-trigger cost
    * follows the batch (|batch| × nProbe cells read), never the index.
    *
    * Exactly-once output: batch N overwrites `outPath/batch=N`, so an
    * at-least-once replay rewrites the same directory. The index is
    * read-only here — concurrent `appendToIvfIndex`-style maintenance
    * belongs to the build side, exactly like the signature table. */
  def retrievalStream(queries: DataFrame, idCol: String, vecCol: String,
                      indexPath: String, outPath: String, checkpoint: String,
                      k: Int = 5, nProbe: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Ann
        Ann.searchIvfIndex(batch.sparkSession, indexPath, batch.toDF(),
            idCol, vecCol, k = k, nProbe = nProbe)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13h: streaming lexical (BM25) retrieval — the text twin of
    * [[retrievalStream]]: each trigger's query batch probes the
    * persisted inverted index via [[graft.operators.Lexical.searchBm25Batch]]
    * (batch vocabulary collected driver-side, pushed as a bucket-pruned
    * `term IN` — per-trigger reads follow the batch, never the corpus).
    * Same replay-safe per-batch overwrite contract. */
  def lexicalRetrievalStream(queries: DataFrame, idCol: String,
                             textCol: String, table: String, outPath: String,
                             checkpoint: String, k: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Lexical
        Lexical.searchBm25Batch(batch.toDF(), idCol, textCol, table, k)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13i: streaming HYBRID retrieval — each trigger's text-query
    * batch probes BOTH persisted indexes and the rankings fuse via
    * integer RRF ([[graft.operators.Retrieval.rrfFuse]]) before
    * landing replay-safe per batch: the lexical side is the
    * bucket-pruned BM25 batch probe of [[lexicalRetrievalStream]],
    * the dense side featurizes the query text with the corpus's
    * hashed_bow and runs the cell-pruned IVF probe of
    * [[retrievalStream]]. Fusion moves |batch|×k rows — per-trigger
    * cost is the two pruned probes, never either index. The IVF index
    * must be built over `hashed_bow(tokenize_ws(text), dims)` of the
    * SAME corpus the lexical table indexes, and query ids must live
    * outside the doc-id namespace (the index probe suppresses
    * same-id hits). */
  def hybridRetrievalStream(queries: DataFrame, idCol: String,
                            textCol: String, lexTable: String,
                            ivfPath: String, outPath: String,
                            checkpoint: String, k: Int = 10,
                            nProbe: Int = 2, dims: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.functions.{hashed_bow, tokenize_ws}
        import graft.operators.{Ann, Lexical, Retrieval}
        // both probes must see the same rows
        val b = batch.toDF().transform(graft.operators.Lineage.pin)
        val lex = Lexical.searchBm25Batch(b, idCol, textCol, lexTable, k)
        val dense = Ann.searchIvfIndex(b.sparkSession, ivfPath,
            b.select(col(idCol),
              hashed_bow(tokenize_ws(col(textCol)), dims).as("__emb")),
            idCol, "__emb", k = k, nProbe = nProbe)
          .withColumnRenamed("nn_id", "doc_id")
        Retrieval.rrfFuse(Seq(lex, dense), k)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13j: streaming curation gate — each incoming micro-batch of
    * documents is scored against a FROZEN batch-trained curation
    * stack: the Gopher rule battery ([[graft.operators.Curate.gopherFlags]],
    * a stateless map) and a persisted DSIR importance model
    * ([[graft.operators.Curate.dsirApply]] against the B-row (f, qf)
    * table — broadcast join, per-batch doc aggregation). This is the
    * production split of L46/L47: train the model on the curated
    * corpus once, gate the firehose with it; the model never
    * recomputes, so per-trigger cost follows the batch, never the
    * corpus. `foreachBatch` because the per-doc score aggregation has
    * BATCH semantics — a doc's features all arrive in its own trigger,
    * and a pure streaming groupBy(doc) would hold every doc's state
    * forever for no reason. Docs with zero tokens keep their rule
    * flags with a null score (left join), mirroring the batch
    * operators. Exactly-once: per-batch overwrite, same contract as
    * [[nearDupIngest]]. */
  def curationGateStream(docs: DataFrame, idCol: String, textCol: String,
                         model: DataFrame, outPath: String,
                         checkpoint: String,
                         stopWords: Seq[String] =
                           Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                         buckets: Int = 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Curate
        val b = batch.toDF().transform(graft.operators.Lineage.pin)
        Curate.gopherFlags(b, idCol, textCol, stopWords = stopWords)
          .join(Curate.dsirApply(b, idCol, textCol, model, buckets),
            Seq("doc_id"), "left")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13v: streaming decontamination gate — each micro-batch of
    * incoming documents is checked against the FROZEN eval-suite
    * shingle inventory (L21's broadcast join run per trigger): a doc
    * with >= `minMatched` distinct matching shingles is flagged. The
    * batch lands WHOLE with its flags and match counts, so the
    * consumer routes in one read (publish the clean rows, quarantine
    * the hits with their evidence) — the same "frozen model, gated
    * firehose" split as [[curationGateStream]]: the benchmark
    * inventory is decided once, the stream never re-derives it at
    * corpus scale (the eval frame is inventory-bounded and broadcast
    * inside [[graft.operators.Decontaminate.contaminated]]).
    * Exactly-once: per-batch overwrite, idempotent under
    * foreachBatch's at-least-once replay. */
  def decontaminationGateStream(docs: DataFrame, eval: DataFrame,
                                idCol: String, textCol: String,
                                outPath: String, checkpoint: String,
                                shingleN: Int = 3, minMatched: Long = 5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Decontaminate
        val b = batch.toDF().transform(graft.operators.Lineage.pin)
        val hits = Decontaminate.contaminated(b, eval, idCol, textCol,
            shingleN, minMatched)
          .select(col("id").as(idCol), col("n_matched"))
        b.join(hits, Seq(idCol), "left")
          .withColumn("contaminated", col("n_matched").isNotNull)
          .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13ag: streaming WINNOW decontamination gate — the L105
    * guaranteed verbatim-overlap mode at ingest time, beside the
    * n-gram gate ([[decontaminationGateStream]]): each micro-batch is
    * winnow-probed against the frozen benchmark suite
    * ([[graft.operators.Dedup.winnowedAgainst]]) and lands with a
    * per-doc contamination verdict + the strongest match's shared
    * count and eval attribution. The guarantee rides through: a
    * streamed doc quoting ≥ w+k−1 verbatim chars of any eval doc
    * CANNOT land unflagged. The eval frame is fixed per gate (frozen
    * suite — the decontamination contract); per-trigger cost is the
    * batch-vs-suite probe, state-free and replay-idempotent
    * (per-batch output dirs overwrite). */
  def winnowDecontaminationGateStream(docs: DataFrame, eval: DataFrame,
                                      idCol: String, textCol: String,
                                      outPath: String, checkpoint: String,
                                      k: Int = 8, w: Int = 16,
                                      minShared: Long = 8L,
                                      maxDf: Long = 16L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Dedup
        val b = batch.toDF().transform(graft.operators.Lineage.pin)
        val hits = Dedup.winnowedAgainst(b, idCol, textCol,
            eval, idCol, textCol, k, w, minShared, maxDf)
          .groupBy(col("id").as(idCol))
          .agg(max(struct(col("n_shared"), col("ref_id"))).as("top"))
          .select(col(idCol), col("top.n_shared").as("n_shared"),
            col("top.ref_id").as("eval_id"))
        b.join(hits, Seq(idCol), "left")
          .withColumn("contaminated", col("n_shared").isNotNull)
          .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13w: streaming novelty ingest — L83's first-owner attribution
    * maintained continuously: every micro-batch commits its
    * batch-level shingle claims (sh → min doc id) to a per-batch
    * state partition FIRST, then scores each doc against the MIN
    * owner across all state partitions (own batch included, so the
    * read never races its own first write and a replay is a pure
    * overwrite + idempotent min). Output per doc: the same
    * (n_shingles, n_novel, novelty_ppm) row the batch
    * [[graft.operators.Curate.shingleNovelty]] emits — and under the
    * ingest contract (doc ids non-decreasing across triggers, the
    * queue-drain shape of R20f/C13o) the streamed rows EQUAL the
    * batch twin over the union corpus, because the earliest batch
    * holding a shingle also holds its global-min id. Per-trigger cost
    * follows the batch plus one shingle-keyed min over the
    * state partitions (narrow (sh, owner) rows, growing with the
    * DISTINCT shingle inventory, not the corpus). */
  def noveltyIngestStream(docs: DataFrame, idCol: String, textCol: String,
                          ownerPath: String, outPath: String,
                          checkpoint: String, shingleN: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.functions._
        val spark = batch.sparkSession
        val sh = batch.toDF()
          .filter(size(tokenize_ws(col(textCol))) > 0)
          .select(col(idCol).as("id"),
            explode(array_distinct(shingles(col(textCol), shingleN))).as("sh"))
          .transform(graft.operators.Lineage.pin)
        sh.groupBy("sh").agg(min(col("id")).as("owner"))
          .write.mode("overwrite").parquet(s"$ownerPath/batch=$batchId")
        val owners = spark.read.parquet(ownerPath)
          .groupBy("sh").agg(min(col("owner")).as("owner"))
        sh.join(owners, "sh")
          .groupBy("id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("owner") === col("id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13k: streaming drift monitor — every micro-batch's hashed
    * n-gram profile is compared against the RUNNING profile of all
    * previously-seen data (TV distance, [[graft.operators.Curate.profileDrift]]),
    * then committed — the continuous "is today's data still
    * yesterday's distribution" alarm. State is per-batch B-row
    * profiles under `profilePath/batch=N`, each an idempotent
    * overwrite: a replayed batch rewrites ITS OWN partition instead
    * of folding its counts into a running total twice (a mutable
    * merged table would double-count on foreachBatch's at-least-once
    * replay — the same hazard nearDupIngest dodges with id
    * exclusion). The history is the on-demand sum of the partitions
    * BELOW the current batch id — B·batches narrow rows, partition-
    * pruned, never a corpus re-read; profiles merge by addition so
    * the sum IS the union profile, and any past batch's drift can be
    * recomputed after the fact. The first batch compares against
    * itself and reports 0. Output: `outPath/batch=N` rows
    * (batch_id, n_batch, n_history, tv_q), overwrite exactly-once. */
  def driftMonitorStream(docs: DataFrame, idCol: String, textCol: String,
                         profilePath: String, outPath: String,
                         checkpoint: String, buckets: Int = 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Curate
        val spark = batch.sparkSession
        val bp = Curate.corpusProfile(batch.toDF(), idCol, textCol, buckets)
          .transform(graft.operators.Lineage.pin)
        // commit this batch's profile FIRST (idempotent per-partition
        // overwrite), then derive the history excluding it — a replay
        // that died between the two writes reconverges on rerun
        bp.write.mode("overwrite").parquet(s"$profilePath/batch=$batchId")
        val hist = spark.read.parquet(profilePath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") < batchId)
          .groupBy("f").agg(sum("cnt").as("cnt"))
        val histN = hist.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
        val drift = Curate.profileDrift(bp, if (histN > 0) hist else bp)
          .select(lit(batchId).as("batch_id"),
            col("n_a").as("n_batch"), col("n_b").as("n_history"),
            col("tv_q"))
        drift.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13y: streaming corpus-sketch maintenance — the L85b bottom-k
    * resemblance state kept current per trigger. Each micro-batch's
    * per-group sketch commits to its OWN partition
    * (`sketchPath/batch=N`, idempotent overwrite — the
    * driftMonitorStream replay discipline), the RUNNING sketch is the
    * bottom-k of the union of partitions ≤ the current batch
    * (mergeability is a theorem for bottom-k: sketch of a union =
    * bottom-k of merged sketches, pinned in DedupSpec), and the
    * pairwise resemblance estimate over the running sketches lands in
    * `outPath/batch=N`. State read per trigger is S·k·batches NARROW
    * rows — never a corpus re-read; a compaction pass may fold old
    * partitions into one at any time without changing the union.
    * Parity-gated against the batch twin in StreamingSpec. */
  def sketchMonitorStream(docs: DataFrame, textCol: String,
                          groupCol: String, k: Int, sketchPath: String,
                          outPath: String, checkpoint: String,
                          shingleN: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        import graft.operators.Dedup
        val spark = batch.sparkSession
        Dedup.corpusSketch(batch.toDF(), textCol, groupCol, k, shingleN)
          .write.mode("overwrite").parquet(s"$sketchPath/batch=$batchId")
        // union of partitions <= this batch: replays reconverge on the
        // same running state instead of seeing later batches
        val w = Window.partitionBy("grp").orderBy("sid")
        val running = spark.read.parquet(sketchPath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
          .select("grp", "sid").distinct()
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
          .transform(graft.operators.Lineage.pin) // referenced twice by the estimator
        Dedup.sketchResemblance(running, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13z: streaming profile maintenance — the R45b mergeable profile
    * store kept current per trigger: the continuous "what does this
    * table look like NOW" view a 100 TB ingest needs without ever
    * rescanning yesterday. Each micro-batch's per-column profile rows
    * (counts + HLL NDV sketch + typed min/max slots) commit to their
    * OWN partition (`profilePath/batch=N`, idempotent overwrite — the
    * driftMonitorStream replay discipline: a replayed batch rewrites
    * itself instead of double-counting a mutable running table); the
    * RUNNING profile is [[graft.operators.Observe.mergeProfiles]] over
    * the partitions ≤ the current batch (sums + sketch unions + slot
    * min/max), landing in `outPath/batch=N`. Per-trigger state read is
    * batches × columns NARROW rows. Parity-gated against the batch
    * twin in StreamingSpec. */
  def profileMonitorStream(rows: DataFrame, cols: Seq[String],
                           profilePath: String, outPath: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Observe
        val spark = batch.sparkSession
        Observe.profileByPartition(batch.toDF(),
            lit(batchId.toString), cols)
          .write.mode("overwrite").parquet(s"$profilePath/batch=$batchId")
        val upTo = spark.read.parquet(profilePath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
          .drop("__b")
        Observe.mergeProfiles(upTo)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13aa: streaming KLL-store maintenance — the R45c mergeable KLL
    * quantile store kept current per trigger: the continuous "where
    * is this column's p50/p95 NOW" view at ARBITRARY rank precision
    * (C13l's log-histogram twin answers within bucket resolution;
    * this one is exact in the n ≤ k regime and ~0.01%-rank at 100 TB,
    * which is what a release gate thresholds on). Same replay
    * discipline as C13z: each micro-batch's per-column sketch rows
    * commit to their OWN idempotent partition
    * (`sketchPath/batch=N`); the running answer is
    * [[graft.operators.Observe.mergeQuantileProfiles]] over the
    * partitions ≤ the current batch (sketch unions over state rows,
    * never raw history), landing in `outPath/batch=N`. Per-trigger
    * state read is batches × columns sketch rows. Parity-gated
    * against whole-corpus order statistics in StreamingSpec. */
  def kllMonitorStream(rows: DataFrame, cols: Seq[String],
                       probsPpm: Seq[Long], sketchPath: String,
                       outPath: String, checkpoint: String,
                       k: Int = 65535)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Observe
        val spark = batch.sparkSession
        Observe.quantilesByPartition(batch.toDF(),
            lit(batchId.toString), cols, k)
          .write.mode("overwrite").parquet(s"$sketchPath/batch=$batchId")
        val upTo = spark.read.parquet(sketchPath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
          .drop("__b")
        Observe.mergeQuantileProfiles(upTo, probsPpm, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13ab: streaming Theta-store maintenance — the R49 overlap
    * matrix kept current per trigger: "how much do the sources we're
    * ingesting RIGHT NOW share" without rescanning history. Same
    * replay discipline as C13y/z/aa: each micro-batch's per-group
    * Theta sketches commit to their own idempotent partition
    * (`sketchPath/batch=N`); the running per-group sketch is
    * `theta_agg`-of-unions over partitions ≤ the batch (a set-union
    * theorem — DedupSpec-style mergeability is the Theta contract),
    * and the pairwise overlap matrix lands per trigger. Per-trigger
    * state read is groups × batches sketch rows, never raw keys. */
  def thetaMonitorStream(rows: DataFrame, grpCol: String, keyCol: String,
                         sketchPath: String, outPath: String,
                         checkpoint: String, lgK: Int = 14)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Sketch
        val spark = batch.sparkSession
        batch.toDF()
          .groupBy(col(grpCol).as("grp"))
          .agg(graft.functions.theta_agg(col(keyCol).cast("string"), lgK)
            .as("sk"))
          .write.mode("overwrite").parquet(s"$sketchPath/batch=$batchId")
        val upTo = spark.read.parquet(sketchPath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
        // fold each group's per-batch sketches, then expose the
        // matrix through the same pairwise algebra as the batch twin
        val folded = upTo.groupBy("grp")
          .agg(graft.functions.theta_union_agg(col("sk"), lgK).as("sk"))
        val a = folded.select(col("grp").as("grp_a"), col("sk").as("sk_a"))
        val b = folded.select(col("grp").as("grp_b"), col("sk").as("sk_b"))
        a.join(b, col("grp_a") < col("grp_b"))
          .select(col("grp_a"), col("grp_b"),
            graft.functions.theta_estimate(col("sk_a")).as("n_a"),
            graft.functions.theta_estimate(col("sk_b")).as("n_b"),
            graft.functions.theta_estimate(
              graft.functions.theta_union2(col("sk_a"), col("sk_b"), lgK))
              .as("n_union"),
            graft.functions.theta_estimate(
              graft.functions.theta_intersect(col("sk_a"), col("sk_b")))
              .as("n_inter"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13ac: streaming priority-sample maintenance — a BOUNDED
    * calibrated sample (L98) of an UNBOUNDED ingest, kept current per
    * trigger: the streaming answer to "hold a 10⁵-row weighted sample
    * of everything we have ever ingested" that reservoir schemes give
    * up exactness for. Mergeability is the priority-sampling theorem:
    * any globally-top-(k+1)-priority item is in its own batch's
    * top-(k+1), so per-batch top-(k+1) CANDIDATE rows (key, w — the
    * md5-derived priorities are re-derived on fold, deterministic)
    * committed to idempotent partitions (the C13k replay discipline)
    * are a sufficient state, and the running sample is
    * [[graft.operators.Mix.prioritySample]] over their union.
    * Per-trigger state read is batches × (k+1) narrow rows, never the
    * ingest history. Contract: keys unique across the stream (a
    * replayed batch rewrites its own partition; the fold also dedups
    * (key, w) defensively). */
  def prioritySampleStream(rows: DataFrame, keyCol: String,
                           weightCol: String, k: Int, samplePath: String,
                           outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Mix
        val spark = batch.sparkSession
        Mix.prioritySample(batch.toDF(), keyCol, weightCol, k + 1)
          .select(col("key"), col("w"))
          .write.mode("overwrite").parquet(s"$samplePath/batch=$batchId")
        val upTo = spark.read.parquet(samplePath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
          .select("key", "w").distinct()
        Mix.prioritySample(upTo, "key", "w", k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  case class FunnelEvent(user_id: Long, ts: Long, event_type: String)
  case class FunnelState(times: Seq[Long])
  case class FunnelProgress(user_id: Long, stage: Int, stage_ts: Long)

  /** C13o: streaming funnel — R37's greedy-earliest chained funnel as
    * a per-user state machine: a stage completes the moment its event
    * arrives strictly after the previous stage's completion time, and
    * a progress row (user, stage, stage_ts) is emitted right then —
    * the real-time conversion feed, hours before a batch funnel job
    * would report it. State per user = the completed-stage prefix
    * times (≤ |stages| longs). Contract: per-user event-time-ordered
    * arrival (the queue-drain shape, same as R20f/C13n) — under it
    * "first qualifying arrival" IS the chained min, so the stream is
    * parity-gated against the batch funnelTimes twin. */
  def funnelStream(events: Dataset[FunnelEvent],
                   stages: Seq[String]): Dataset[FunnelProgress] = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"stages must be non-empty and distinct, got $stages")
    implicit val pEnc = Encoders.product[FunnelProgress]
    implicit val sEnc = Encoders.product[FunnelState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.times).getOrElse(Seq.empty)
          val out = scala.collection.mutable.Buffer.empty[FunnelProgress]
          rows.toSeq.sortBy(_.ts).foreach { e =>
            val idx = stages.indexOf(e.event_type)
            // only the NEXT uncompleted stage can advance, and only
            // strictly after the previous stage's completion
            if (idx >= 0 && idx == times.length &&
                (idx == 0 || e.ts > times(idx - 1))) {
              times = times :+ e.ts
              out += FunnelProgress(uid, idx + 1, e.ts)
            }
          }
          if (times.nonEmpty) state.update(FunnelState(times))
          out.iterator
      }
  }

  /** C13n: continuously-maintained session table — the streaming twin
    * of R20f's incremental sessionization. Each trigger merges its
    * batch into the persisted session frames
    * ([[graft.operators.Sessionize.incremental]]: one-row-per-user
    * boundary join, history never re-shuffles) and commits the merged
    * frame set under `storePath/batch=N` (overwrite). Replay safety is
    * the quantile monitor's versioned-store discipline: a replayed
    * batch re-reads the latest version BELOW its own id and rewrites
    * its own directory, so at-least-once foreachBatch never
    * double-merges. Contract: per-user event-time-ordered batches (the
    * queue-drain shape R20f assumes). Compaction is AUTOMATIC: every
    * `compactEvery` batches the trigger calls [[compactSessionStore]]
    * (keep=2 — the just-written version plus the one a replay of this
    * batch would read below its own id), so an unattended stream's
    * store stays bounded at ~2 versions with no external operator
    * action. Safe inside the trigger: compaction is idempotent and a
    * crash before the checkpoint commit replays against the surviving
    * prior version. Set compactEvery=0 to manage retention manually. */
  def sessionStoreStream(events: DataFrame, userCol: String, gapNs: Long,
                         storePath: String, checkpoint: String,
                         compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Sessionize
        val spark = batch.sparkSession
        // only STORE-NOT-YET-CREATED degrades to a fresh first-batch
        // sessionization — a transient read failure must fail the
        // micro-batch so the checkpoint retries, never silently commit
        // a truncated merge as the newest version (and compaction plus
        // a replay of a batch whose prior version was pruned is a
        // misconfiguration, not a fresh start: keep >= 2 versions)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            // partition discovery surfaces `batch` as a column; select
            // the frame columns explicitly so the merge's unionByName
            // never sees it
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select(col(userCol), col("start_ts"), col("end_ts"),
                col("n_events"), col("sum_dec")))
          }
        val merged = prior match {
          // validate = true: the long-running unattended path checks
          // the append-only contract on the per-user boundary frame
          // (one bounded action) — an out-of-order batch fails the
          // trigger instead of silently corrupting persisted frames
          // and compounding across every later merge
          case Some(p) => Sessionize.incremental(p, batch.toDF(), userCol,
            gapNs, validate = true)
          case None => Sessionize.sessionFrames(batch.toDF(), userCol, gapNs)
        }
        merged.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Compact a [[sessionStoreStream]] store: drop all but the latest
    * `keep` versions (each version is a full frame-set copy, retained
    * for replay — once the checkpoint has moved past a batch its
    * version is dead weight). Never deletes the newest version;
    * returns the number of versions removed. */
  def compactSessionStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String, keep: Int = 2): Int = {
    require(keep >= 1, s"must keep at least the latest version, got $keep")
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(storePath))
      .filter(_.isDirectory)
      .flatMap(s => "batch=(\\d+)".r.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(1).toLong, s.getPath)))
      .sortBy(-_._1)
    val stale = versions.drop(keep)
    stale.foreach { case (_, p) => fs.delete(p, true) }
    // Spark caches per-path file listings; an in-place delete must
    // invalidate them or the next read chases removed files
    if (stale.nonEmpty) spark.catalog.refreshByPath(storePath)
    stale.length
  }

  /** Latest snapshot batch id of a snapshot-chain store, with a
    * descriptive error when the store is missing or empty — the raw
    * `max(batch).head().getLong(0)` pattern NPEs on a store the
    * stream hasn't written yet, which reads as an engine bug instead
    * of an operations fact. */
  private def latestStoreBatch(spark: org.apache.spark.sql.SparkSession,
                               storePath: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(storePath)))
      throw new IllegalStateException(
        s"snapshot store $storePath does not exist yet — the stream has " +
          "not committed its first batch (or the path is wrong)")
    val head = spark.read.parquet(storePath)
      .agg(max(col("batch").cast("long"))).head()
    if (head.isNullAt(0))
      throw new IllegalStateException(
        s"snapshot store $storePath holds no snapshot rows yet — the " +
          "stream has not committed its first batch")
    head.getLong(0)
  }

  /** Latest committed session-frame version under `storePath` —
    * the read side of [[sessionStoreStream]]. */
  def latestSessionFrames(spark: org.apache.spark.sql.SparkSession,
                          storePath: String): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    spark.read.parquet(storePath)
      .filter(col("batch").cast("long") === top).drop("batch")
  }

  /** C13u: streaming walk continuation — the continuous form of the
    * deterministic walk corpus (L63), maintained by the incremental-
    * sessionize seam discipline. Each micro-batch of APPEND-ONLY edge
    * arrivals commits idempotently under `store/edges/batch=N`, then
    * the walk table advances via [[graft.operators.Walk.extendWalks]]:
    * untouched walks carry over whole, walks visiting a node whose
    * out-neighbors changed are truncated at that first visit and
    * re-extended over the updated adjacency, and brand-new source
    * nodes start fresh walks — walk-side work is delta-proportional
    * (touched walks + new starts, never the whole corpus) and the
    * result is PROVABLY the full rebuild (walks are a pure
    * deterministic function of the adjacency; StreamingSpec gates
    * parity per trigger). The adjacency rank/degree table itself is
    * re-derived from the committed edge store each trigger — one
    * linear scan + per-src window, the honest cost of global degree
    * state; at edge volumes where that scan dominates, maintain the
    * adjacency as its own bucketed table and feed extendWalks
    * directly. Versioned walk tables under `store/walks/batch=N`
    * follow the session store's replay rules (prior = newest version
    * BELOW the current batch id; per-batch overwrite), so checkpoint
    * replays are exact no-ops; [[compactSessionStore]] on the walks
    * dir bounds retention. */
  def walkStoreStream(edges: DataFrame, srcCol: String, dstCol: String,
                      nWalks: Int, len: Int, storePath: String,
                      checkpoint: String, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Walk
        val spark = batch.sparkSession
        val edgeDir = s"$storePath/edges"
        val walkDir = s"$storePath/walks"
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // commit this batch's edges first (idempotent overwrite), then
        // read the FULL edge set back — on replay the re-written slice
        // is byte-identical, so the adjacency is too
        batch.toDF().select(col(srcCol), col(dstCol))
          .write.mode("overwrite").parquet(s"$edgeDir/batch=$batchId")
        spark.catalog.refreshByPath(edgeDir)
        val allEdges = spark.read.parquet(edgeDir)
          .filter(col("batch").cast("long") <= batchId)
          .select(col(srcCol), col(dstCol))
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(walkDir))) None
          else {
            val all = spark.read.parquet(walkDir)
              .filter(col("batch").cast("long") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("start", "walk", "step", "node"))
          }
        val walks = prior match {
          case Some(p) => Walk.extendWalks(allEdges, batch.toDF(), p,
            srcCol, dstCol, nWalks, len)
          case None => Walk.deterministicWalks(allEdges, srcCol, dstCol,
            nWalks, len)
        }
        walks.write.mode("overwrite").parquet(s"$walkDir/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, walkDir, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13p: streaming rolling-actives monitor — the continuous form of
    * R29c's trailing-window distinct count. Every micro-batch's
    * per-day HLL partials commit under `sketchPath/batch=N`
    * (idempotent per-batch overwrite — the drift/quantile monitors'
    * replay discipline), and the RUNNING trailing-`windowDays` active
    * estimates derive from unioning all committed partials: HLL
    * sketches merge by union, so the per-trigger cost follows the
    * batch plus a days-bounded sketch merge — never the event
    * history. Output rows (batch_id, w_day, n_users) land under
    * `outPath/batch=N`, overwrite exactly-once. */
  def rollingActivesStream(events: DataFrame, tsCol: String, userCol: String,
                           sketchPath: String, outPath: String,
                           checkpoint: String, windowDays: Int = 3,
                           compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val dayNs = 86400000000000L
        val partial = batch.toDF()
          .groupBy(expr(s"$tsCol div ${dayNs}L").as("day_idx"))
          .agg(hll_sketch_agg(col(userCol)).as("sk"))
          .transform(graft.operators.Lineage.pin)
        partial.write.mode("overwrite").parquet(s"$sketchPath/batch=$batchId")
        val daily = spark.read.parquet(sketchPath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
          .groupBy("day_idx").agg(hll_union_agg(col("sk")).as("sk"))
        val days = daily.select(col("day_idx").as("w_day")).distinct()
        daily.select(explode(sequence(col("day_idx"),
            col("day_idx") + (windowDays - 1))).as("w_day"), col("sk"))
          .join(days, "w_day")
          .groupBy("w_day")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users"))
          .select(lit(batchId).as("batch_id"), col("w_day"), col("n_users"))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        // automatic delta folding: HLL union is idempotent, so the
        // in-trigger fold is crash-safe (see compactRollingActives)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactRollingActives(spark, sketchPath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Compact a [[rollingActivesStream]] sketch store: fold every
    * per-batch delta older than the newest `keep` into ONE
    * consolidated day-level partial stored at the highest folded
    * batch id. Unlike the session store's snapshots the partials are
    * DELTAS, but HLL union is register-max — associative AND
    * idempotent — so (a) day-merged sketches replace the per-batch
    * deltas exactly, and (b) a crash between the overwrite and the
    * stale deletes leaves overlapping partials whose re-union is
    * STILL exact. Bounds the per-trigger re-union at `keep` deltas +
    * one consolidated table instead of growing linearly with stream
    * lifetime. Same caveat as [[compactSessionStore]]: only compact
    * batches the checkpoint has committed past. Returns versions
    * removed. */
  def compactRollingActives(spark: org.apache.spark.sql.SparkSession,
                            sketchPath: String, keep: Int = 2): Int = {
    require(keep >= 1, s"must keep at least the latest delta, got $keep")
    val fs = new org.apache.hadoop.fs.Path(sketchPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(sketchPath))
      .filter(_.isDirectory)
      .flatMap(s => "batch=(\\d+)".r.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(1).toLong, s.getPath)))
      .sortBy(-_._1)
    val stale = versions.drop(keep)
    if (stale.length <= 1) return 0 // nothing to fold
    val target = stale.head._1
    val merged = spark.read
      .parquet(stale.map(_._2.toString).toIndexedSeq: _*)
      .groupBy("day_idx").agg(hll_union_agg(col("sk")).as("sk"))
      .transform(graft.operators.Lineage.pin) // materialize BEFORE touching inputs
    merged.write.mode("overwrite").parquet(s"$sketchPath/batch=$target")
    stale.tail.foreach { case (_, p) => fs.delete(p, true) }
    spark.catalog.refreshByPath(sketchPath)
    stale.length - 1
  }

  /** C13q: streaming A/B monitor — the continuous form of R41's
    * two-proportion z-test. Per trigger: the batch's per-user
    * conversion-event counts merge into a versioned per-user RUNNING
    * snapshot under `storePath/batch=N` (the session store's
    * replay-safe discipline: read the latest version BELOW this batch
    * id, write your own — at-least-once foreachBatch never
    * double-counts), then the per-variant counts + z derive from the
    * NEW snapshot via [[graft.operators.Observe.twoProportionZ]] —
    * the SAME operator the batch query uses, so the streaming readout
    * can never drift from R41's semantics. Per-trigger cost follows
    * the batch plus one user-dimension snapshot merge, never the
    * event history. Conversion = `>= convThreshold` events of
    * `convEvent`; variant = user_id % 2 (deterministic assignment).
    * Output one row per trigger under `outPath/batch=N`. The
    * snapshot store compacts with [[compactSessionStore]] (layout-
    * generic version pruning). */
  def abMonitorStream(events: DataFrame, userCol: String,
                      eventTypeCol: String, convEvent: String,
                      convThreshold: Long, storePath: String,
                      outPath: String, checkpoint: String,
                      compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = batch.toDF()
          .groupBy(col(userCol).as("user_id"))
          .agg(sum(when(col(eventTypeCol) === convEvent, 1L).otherwise(0L))
            .as("n_conv_events"))
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // path-missing is the only fresh-start case; any other read
        // failure fails the trigger (the session store's contract)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select(col("user_id"), col("n_conv_events")))
          }
        val snap = prior match {
          case Some(p) => p.unionByName(delta).groupBy("user_id")
            .agg(sum("n_conv_events").as("n_conv_events"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        val per = spark.read.parquet(s"$storePath/batch=$batchId")
          // pmod, not %: Spark's % keeps the dividend's sign, so a
          // negative user id would land in variant -1 and silently
          // vanish from twoProportionZ's variant-0/1 pivot
          .groupBy(pmod(col("user_id"), lit(2)).as("variant"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_conv_events") >= convThreshold, 1L).otherwise(0L))
              .as("c"))
        graft.operators.Observe.twoProportionZ(per)
          .select(lit(batchId).as("batch_id"), col("*"))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13s: streaming curation scorecard — the continuous form of L55's
    * per-source rule-attrition report. Every scorecard column is a
    * COUNT, so the batch partial sums exactly into a RUNNING per-source
    * snapshot (rule flags are per-row map-side kernels — a row's flags
    * never depend on other rows, so running totals == the batch
    * scorecard of everything streamed; parity spec-gated). Versioned
    * snapshots under `storePath/batch=N` (the session store's
    * replay-safe read-below-own-id discipline — chosen over per-batch
    * deltas because SUM, unlike HLL union, is NOT idempotent: a
    * crash-window double-fold would double-count). Per-trigger cost =
    * the batch pass + one groups-sized merge, never the doc history.
    * Old versions compact with [[compactSessionStore]] (it is layout-
    * generic: snapshots under `batch=N`, newest always kept). */
  def scorecardStream(docs: DataFrame, idCol: String, textCol: String,
                      groupCol: String, stopWords: Seq[String],
                      blocklist: Seq[String], storePath: String,
                      checkpoint: String, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.Curate.scorecard(batch.toDF(), idCol,
          textCol, groupCol, stopWords, blocklist)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("grp", "n_docs", "pass_gopher", "pass_repetition",
                "pass_blocklist", "pass_all"))
          }
        val snap = prior match {
          case Some(p) => p.unionByName(delta).groupBy("grp")
            .agg(sum("n_docs").as("n_docs"),
              sum("pass_gopher").as("pass_gopher"),
              sum("pass_repetition").as("pass_repetition"),
              sum("pass_blocklist").as("pass_blocklist"),
              sum("pass_all").as("pass_all"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13t: streaming corpus card — the release document maintained
    * continuously. The card's three sections are all mergeable:
    * composition counts and rule-attrition counts SUM, and the one
    * non-summable metric (distinct texts) rides a mergeable HLL
    * sketch of md5(text) (register-max union — exact in list mode at
    * spec cardinalities, estimate at scale, hence `n_distinct_est`).
    * One section-tagged versioned snapshot per trigger (the
    * replay-safe read-below-own-id discipline); read the long-format
    * card rows back with [[latestCardRows]]. */
  def cardStream(docs: DataFrame, idCol: String, textCol: String,
                 langCol: String, sourceCol: String,
                 stopWords: Seq[String], blocklist: Seq[String],
                 storePath: String, checkpoint: String,
                 compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val statsDelta = b
          .groupBy(col(langCol).as("grp_a"), col(sourceCol).as("grp_b"))
          .agg(count(lit(1)).as("n_docs"),
            sum(graft.functions.token_count(col(textCol))).as("sum_tokens"),
            hll_sketch_agg(md5(col(textCol))).as("dsk"))
          .select(lit("stats").as("section"), col("grp_a"), col("grp_b"),
            col("n_docs"), col("sum_tokens"), col("dsk"),
            lit(null).cast("long").as("pass_gopher"),
            lit(null).cast("long").as("pass_repetition"),
            lit(null).cast("long").as("pass_blocklist"),
            lit(null).cast("long").as("pass_all"))
        val rulesDelta = graft.operators.Curate.scorecard(b, idCol, textCol,
            sourceCol, stopWords, blocklist)
          .select(lit("rules").as("section"), lit("").as("grp_a"),
            col("grp").as("grp_b"), col("n_docs"),
            lit(null).cast("long").as("sum_tokens"),
            lit(null).cast("binary").as("dsk"),
            col("pass_gopher"), col("pass_repetition"),
            col("pass_blocklist"), col("pass_all"))
        val delta = statsDelta.unionByName(rulesDelta)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .drop("batch"))
          }
        val snap = prior match {
          case Some(p) => p.unionByName(delta)
            .groupBy("section", "grp_a", "grp_b")
            .agg(sum("n_docs").as("n_docs"),
              sum("sum_tokens").as("sum_tokens"),
              hll_union_agg(col("dsk"), allowDifferentLgConfigK = false)
                .as("dsk"),
              sum("pass_gopher").as("pass_gopher"),
              sum("pass_repetition").as("pass_repetition"),
              sum("pass_blocklist").as("pass_blocklist"),
              sum("pass_all").as("pass_all"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Long-format card rows from the latest [[cardStream]] snapshot —
    * the streaming twin of [[graft.operators.CorpusCard.cardRows]],
    * with `n_distinct_est` (HLL) in place of the exact distinct. */
  def latestCardRows(spark: org.apache.spark.sql.SparkSession,
                     storePath: String): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    val snap = spark.read.parquet(storePath)
      .filter(col("batch").cast("long") === top).drop("batch")
    val stats = snap.filter(col("section") === "stats")
      .select(col("grp_a"), col("grp_b"), col("n_docs"),
        col("sum_tokens"), hll_sketch_estimate(col("dsk")).as("n_distinct_est"))
    val statsLong = stats.selectExpr("'stats' AS section", "grp_a", "grp_b",
      """stack(3, 'n_docs', n_docs, 'n_distinct_est', n_distinct_est,
        |'sum_tokens', sum_tokens) AS (metric, value)""".stripMargin)
    val perLang = stats.groupBy("grp_a").agg(sum("sum_tokens").as("tk"))
    val tot = perLang.agg(sum("tk").as("tot"))
    val mixLong = perLang.crossJoin(broadcast(tot))
      .select(lit("mix").as("section"), col("grp_a"), lit("").as("grp_b"),
        lit("share_pm").as("metric"), expr("tk * 1000 div tot").as("value"))
    val rulesLong = snap.filter(col("section") === "rules")
      .selectExpr("'rules' AS section", "'' AS grp_a", "grp_b",
        """stack(5, 'n_docs', n_docs, 'pass_gopher', pass_gopher,
          |'pass_repetition', pass_repetition,
          |'pass_blocklist', pass_blocklist,
          |'pass_all', pass_all) AS (metric, value)""".stripMargin)
    statsLong.unionByName(mixLong).unionByName(rulesLong)
      .orderBy("section", "grp_a", "grp_b", "metric")
  }

  case class DebouncedEvent(user_id: Long, ts: Long)
  case class DebounceState(lastTs: Long)

  /** C13r: streaming per-user debounce — the continuous twin of R44.
    * A kept event is the first of its burst: emitted iff the gap from
    * the user's PREVIOUS event (kept or not) exceeds `gapNs` — exactly
    * the gaps-and-islands island-start rule, so the kept set equals
    * batch sessionization's session starts row for row. State per
    * user is ONE timestamp (the last seen event), bounded regardless
    * of stream length. Contract: per-user event-time-ordered arrival
    * across triggers (the queue-drain shape all sessionize streams
    * assume); within a trigger rows sort by ts. */
  def debounceStream(events: Dataset[(Long, Long)], gapNs: Long)
      : Dataset[DebouncedEvent] = {
    implicit val outEnc = Encoders.product[DebouncedEvent]
    implicit val stEnc = Encoders.product[DebounceState]
    events.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[DebounceState, DebouncedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[DebounceState]) =>
          var last = state.getOption.map(_.lastTs)
          val out = scala.collection.mutable.Buffer.empty[DebouncedEvent]
          rows.toSeq.sortBy(_._2).foreach { case (_, ts) =>
            if (last.forall(l => ts - l > gapNs)) out += DebouncedEvent(uid, ts)
            last = Some(ts)
          }
          last.foreach(l => state.update(DebounceState(l)))
          out.iterator
      }
  }

  /** C13m: late-data accounting — the watermark's operational readout.
    * Watermarks DROP late rows silently; at 100 TB of daily events an
    * unmonitored drop rate is how a pipeline loses 1% of its data
    * without anyone noticing. One row per completed trigger:
    * (batch_id, watermark ISO-8601 or "" before one exists,
    * rows_dropped_late summed over stateful operators, state_rows).
    * Reads the engine's own progress metrics — no extra pass over the
    * stream, and the numbers are the ones that govern the actual drop
    * behavior, not a parallel estimate. */
  def lateDataReport(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[(Long, String, Long, Long)] =
    q.recentProgress.toSeq.map { p =>
      val ops = p.stateOperators.toSeq
      (p.batchId,
        Option(p.eventTime.get("watermark")).getOrElse(""),
        ops.map(_.numRowsDroppedByWatermark).sum,
        ops.map(_.numRowsTotal).sum)
    }

  /** C13l: streaming quantile monitor — the continuous per-service
    * latency / per-type size percentile report. Every micro-batch's
    * per-key grouped log-histogram
    * ([[graft.operators.Sketch.logHistogramBy]]) is committed under
    * `sketchPath/batch=N` (idempotent per-partition overwrite — the
    * drift monitor's replay discipline: a foreachBatch replay rewrites
    * ITS OWN partition instead of folding counts into a running total
    * twice), then the RUNNING per-key quantiles over everything
    * streamed so far (this batch included) derive from summing the
    * committed partitions — sketches merge by addition, so the sum IS
    * the union sketch. State is keys · ≤ 63 narrow rows per batch;
    * per-trigger cost follows the batch plus the sketch sum, never the
    * event history; any past batch's quantiles can be recomputed after
    * the fact. Output: `outPath/batch=N` rows
    * (batch_id, key, q, bucket, lo, hi), overwrite exactly-once. */
  def quantileMonitorStream(events: DataFrame, keyCol: String,
                            valueCol: String, sketchPath: String,
                            outPath: String, checkpoint: String,
                            perMille: Seq[Int] = Seq(500, 990))
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Sketch
        val spark = batch.sparkSession
        val bh = Sketch.logHistogramBy(batch.toDF(), keyCol, valueCol)
          .transform(graft.operators.Lineage.pin)
        bh.write.mode("overwrite").parquet(s"$sketchPath/batch=$batchId")
        val upTo = spark.read.parquet(sketchPath)
          .withColumn("__b",
            regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
          .filter(col("__b") <= batchId)
          .groupBy("key", "bucket").agg(sum("n").as("n"))
        Sketch.quantilesBy(upTo, perMille)
          .select(lit(batchId).as("batch_id"), col("key"), col("q"),
            col("bucket"), col("lo"), col("hi"))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming near-dup ingest: every micro-batch is (1) MinHash-probed
    * against a persisted corpus signature table
    * ([[graft.operators.Dedup.buildSignatureTable]]), (2) near-deduped
    * within itself, and the surviving rows (3) land in a PER-BATCH
    * output directory and (4) extend the signature table — so dups are
    * caught whether they pair with the original corpus, the same
    * trigger, or an earlier trigger. `foreachBatch` is the right shape:
    * the probe needs batch-side distinct + join-back, which the pure
    * stream-static join API can't express — and it mirrors the
    * reference's consume-loop (pop batch, process, commit) exactly.
    * The corpus side stays bucketed on the probe key, so each trigger
    * shuffles only the (small) incoming batch.
    *
    * Exactly-once output: the parquet for batch N goes to
    * `outPath/batch=N` with overwrite, so a replayed batch after a
    * crash rewrites the same directory instead of appending twice
    * (foreachBatch itself is at-least-once). Replay is also safe
    * against the batch's OWN appended signatures: document ids are
    * unique across the stream and corpus (queue-seq contract), so a
    * probe hit with `corpus_id == incoming_id` is the row's own
    * earlier append and is excluded — without this, a batch replayed
    * after its signature append would flag every one of its rows and
    * overwrite its output directory with nothing.
    * `k`/`bands`/`buckets` MUST match the values `sigTable` was built
    * with (mismatched banding probes silently match nothing). */
  def nearDupIngest(incoming: DataFrame, idCol: String, textCol: String,
                    sigTable: String, outPath: String, checkpoint: String,
                    minJaccard: Double = 0.9, k: Int = 64, bands: Int = 8,
                    buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Dedup
        val kept = dedupAgainstTable(batch.toDF(), idCol, textCol, sigTable,
            minJaccard, k, bands)
          .persist()
        try {
          kept.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          Dedup.appendSignatures(kept, idCol, textCol, sigTable,
            k = k, bands = bands, buckets = buckets)
        } finally { kept.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The near-dup stage of [[nearDupIngest]] and [[pipelineStream]]:
    * drop the batch rows that MinHash-match the signature table (other
    * than their own earlier append), then greedily near-dedup the
    * survivors within the batch. The survivors are pinned once: the
    * within-batch pairs and the removal both read them, and unpinned
    * they would re-run the probe's bucketed scan of the signature table
    * per reference. */
  private def dedupAgainstTable(b: DataFrame, idCol: String, textCol: String,
                                sigTable: String, minJaccard: Double, k: Int,
                                bands: Int): DataFrame = {
    import graft.operators.Dedup
    val corpusDups = Dedup
      .minhashAgainstTable(b, idCol, textCol, sigTable,
        k = k, bands = bands, minJaccard = minJaccard)
      .filter(col("incoming_id") =!= col("corpus_id"))
      .select(col("incoming_id").as("__dup_id")).distinct()
    val fresh = b.join(corpusDups, b(idCol) === col("__dup_id"), "left_anti")
      .transform(graft.operators.Lineage.pin)
    Dedup.removeNearDups(fresh, idCol, Dedup.minhashPairs(fresh, idCol, textCol,
      k = k, bands = bands, minJaccard = minJaccard))
  }

  /** C13ak: streaming COMPOSED curation pipeline — the L111 batch
    * composition's ingest form. Each micro-batch runs the per-doc
    * stage chain in pipeline order: (1) Gopher rule battery
    * (map-side, [[graft.operators.Curate.withGopherKeep]]); (2) near-dup
    * ingest against the persisted MinHash signature state + greedy
    * within-batch dedup (the [[nearDupIngest]] discipline — ids
    * non-decreasing across triggers, so streamed greedy keep equals
    * the batch twin); (3) winnow decontamination against the FROZEN
    * eval suite (the [[winnowDecontaminationGateStream]] guarantee
    * rides through the composition). Survivors land whole per batch
    * under `outPath/data/batch=N` and ONLY THEY extend the signature
    * state — a doc rejected by a later stage never claims signatures,
    * so acceptance order can't depend on rejected rows. A per-batch
    * funnel frame (stage_idx, stage, n_docs) commits beside the data
    * (`outPath/funnel/batch=N`) — the L111 observability contract,
    * summable across batches because every stage statistic is a
    * plain count. Each count is observed during its stage's own pin
    * ([[graft.operators.Lineage.pinAgg]]): the batch pin carries the
    * Gopher keep flag as a row-local column and yields both the ingest
    * and the Gopher count, so the trigger runs no trailing count job
    * and no flags join; the probe survivors are pinned once, so the
    * probe's scan of the signature table runs once per trigger.
    * Replay-safe: both outputs are own-partition
    * overwrites; a replayed signature append collapses in the probe's
    * candidate distinct. Mixture weights and packing stay downstream
    * consumers ([[mixtureReweightStream]], [[packStream]]) — they are
    * corpus-global decisions, not per-doc gates. */
  def pipelineStream(docs: DataFrame, idCol: String, textCol: String,
                     eval: DataFrame, sigTable: String, outPath: String,
                     checkpoint: String,
                     stopWords: Seq[String] =
                       Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                     minJaccard: Double = 0.9, k: Int = 64, bands: Int = 8,
                     buckets: Int = 32, winK: Int = 8, winW: Int = 16,
                     minShared: Long = 8L, maxDf: Long = 16L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.{Curate, Dedup, Lineage}
        val spark = batch.sparkSession
        // stage 1: Gopher battery, a row-local flag on the batch pin,
        // whose own action also observes the ingest and gopher counts
        val (b, bv) = Lineage.pinAgg(
          Curate.withGopherKeep(batch.toDF(), textCol, "__gk",
              stopWords = stopWords)
            .withColumn("__gk", col("__gk") === 1 && col(idCol).isNotNull),
          "n" -> count(lit(1)), "gopher" -> count(when(col("__gk"), 1)))
        // id first, as the flags join this filter replaces laid it out
        val g = b.filter(col("__gk"))
          .select((idCol +: b.columns.toSeq.filterNot(Set(idCol, "__gk"))).map(col): _*)
        // stage 2: near-dup ingest (corpus state probe + within-batch)
        val (deduped, dv) = Lineage.pinAgg(
          dedupAgainstTable(g, idCol, textCol, sigTable, minJaccard, k, bands),
          "n" -> count(lit(1)))
        // stage 3: winnow decontamination vs the frozen suite
        val flagged = Dedup.winnowedAgainst(deduped, idCol, textCol,
            eval, idCol, textCol, winK, winW, minShared, maxDf)
          .select(col("id").as("__c_id")).distinct()
        val (kept, kv) = Lineage.pinAgg(
          deduped.join(flagged, deduped(idCol) === col("__c_id"), "left_anti"),
          "n" -> count(lit(1)))
        kept.write.mode("overwrite").parquet(s"$outPath/data/batch=$batchId")
        Dedup.appendSignatures(kept, idCol, textCol, sigTable,
          k = k, bands = bands, buckets = buckets)
        val counts = Seq(
            (0L, "ingest", bv("n")), (1L, "gopher", bv("gopher")),
            (2L, "dedup_ingest", dv("n")), (3L, "decontam_winnow", kv("n")))
          .map { case (i, stage, n) => (i, stage, n.asInstanceOf[Long]) }
        import spark.implicits._
        counts.toDF("stage_idx", "stage", "n_docs")
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$outPath/funnel/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13x: streaming containment ingest — the asymmetric twin of
    * [[nearDupIngest]], closing the L82 lifecycle (batch pairs →
    * removal → novelty → ingest): every micro-batch is (1)
    * containment-probed against the persisted postings/set state
    * ([[graft.operators.Dedup.buildContainTable]]) — a new doc ≥ t
    * contained in ANY accepted doc is redundant even when its Jaccard
    * against everything is tiny (the digest/quote case MinHash ingest
    * passes through); (2) containment-deduped within itself (min-id
    * mutual rule); and the survivors (3) land per-batch and (4)
    * extend the state. Replay-safe the same way as nearDupIngest:
    * ids are unique across stream and corpus (queue-seq contract), so
    * a self-pair from the batch's own earlier append is excluded, and
    * duplicate postings from a replayed append collapse in the
    * probe's candidate distinct. */
  def containmentIngest(incoming: DataFrame, idCol: String, textCol: String,
                        stateTable: String, outPath: String,
                        checkpoint: String, num: Long = 9L, den: Long = 10L,
                        shingleN: Int = 3, buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Dedup
        val b = batch.toDF()
        val corpusHits = Dedup
          .containedAgainstTable(b, idCol, textCol, stateTable,
            num = num, den = den, shingleN = shingleN)
          .filter(col("incoming_id") =!= col("corpus_id"))
          .select(col("incoming_id").as("__dup_id")).distinct()
        val fresh = b.join(corpusHits, b(idCol) === col("__dup_id"),
          "left_anti")
        val kept = Dedup.removeContained(fresh, idCol, textCol,
          num = num, den = den, shingleN = shingleN).persist()
        try {
          kept.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          Dedup.appendContainState(kept, idCol, textCol, stateTable,
            shingleN = shingleN, buckets = buckets)
        } finally { kept.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13ae: streaming mixture-reweight maintenance — the L100 twin:
    * per-trigger, score the batch against a FROZEN bigram model
    * ([[graft.operators.Mix.freezeBigramModel]] — a model that moved
    * with the stream would make early stats incomparable with late
    * ones), fold the ADDITIVE per-domain sufficient statistics
    * (Σq, n) into the snapshot chain (read-below-own-id, replay-safe
    * like [[scorecardStream]]), and derive the current mixture weights
    * any time via [[reweightFromStore]]. Per-trigger state read is one
    * D-row snapshot, never the stream history; the MW rounds run on
    * the D-row loss table ([[graft.operators.Mix.mixtureReweight]]). */
  def mixtureReweightStream(docs: DataFrame, textCol: String,
                            domainCol: String, modelPath: String,
                            storePath: String, checkpoint: String,
                            compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.Mix.domainLossStats(batch.toDF(),
          textCol, domainCol, modelPath)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("domain", "sq", "nb"))
          }
        val snap = prior match {
          case Some(p) => p.unionByName(delta).groupBy("domain")
            .agg(sum("sq").as("sq"), sum("nb").as("nb"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Current mixture weights off the latest stats snapshot: fold →
    * loss → the L100 MW rounds. */
  def reweightFromStore(spark: org.apache.spark.sql.SparkSession,
                        storePath: String, rounds: Int): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    val latest = spark.read.parquet(storePath)
      .filter(col("batch").cast("long") === top)
      .select("domain", "sq", "nb")
    graft.operators.Mix.mixtureReweight(
      graft.operators.Mix.domainLossFromStats(latest), "domain", "loss",
      rounds)
  }

  /** C13ah: streaming content-drift monitor — the L106 content-level
    * diff maintained continuously against a FROZEN baseline release
    * inventory: each trigger folds its batch's distinct (grp, fp)
    * winnow inventory into the snapshot chain (DISTINCT union is
    * idempotent and mergeable — a replayed batch adds nothing), and
    * [[contentDriftFromStore]] diffs the accumulated stream inventory
    * against the baseline at any time: per-source added/removed/
    * common CONTENT in per-mille-of-union, robust to the stream
    * re-chunking documents the baseline carried whole. State is
    * inventory-bounded (distinct fingerprints), never the stream
    * history. */
  def contentDriftStream(docs: DataFrame, textCol: String,
                         groupCol: String, storePath: String,
                         checkpoint: String, k: Int = 8, w: Int = 16,
                         compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.Dedup.contentInventory(batch.toDF(),
          textCol, groupCol, k, w)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("grp", "fp"))
          }
        val snap = prior match {
          case Some(p) => p.unionByName(delta).distinct()
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Per-source content drift of the accumulated stream inventory vs
    * a frozen baseline inventory (same columns as [[graft.operators
    * .Dedup.contentDiff]]). */
  def contentDriftFromStore(spark: org.apache.spark.sql.SparkSession,
                            storePath: String,
                            baseline: DataFrame): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    graft.operators.Dedup.inventoryDiff(baseline,
      spark.read.parquet(storePath)
        .filter(col("batch").cast("long") === top)
        .select("grp", "fp"))
  }

  /** C13af: streaming exact-AUC monitor — classifier quality on live
    * scored-and-labeled traffic (human QA verdicts, weak-supervision
    * labels riding the stream) with NO approximation: the AUC
    * sufficient statistic is the per-distinct-score (count, positives)
    * table, which is ADDITIVE across batches
    * ([[graft.operators.Curate.scoreCounts]]), so each trigger folds
    * its delta into the snapshot chain (read-below-own-id, replay-
    * safe) and [[aucFromStore]] replays the grouped tie-corrected
    * Mann–Whitney form over the distinct-score-bounded state — never
    * the event history. A dropping live AUC is the earliest signal a
    * gating classifier has drifted off its training distribution. */
  def aucMonitorStream(scored: DataFrame, scoreCol: String,
                       labelCol: String, storePath: String,
                       checkpoint: String, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scored.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.Curate.scoreCounts(batch.toDF(),
          scoreCol, labelCol)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("mv", "c", "p"))
          }
        val snap = prior match {
          case Some(pr) => pr.unionByName(delta).groupBy("mv")
            .agg(sum("c").as("c"), sum("p").as("p"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13ai: streaming calibration monitor — the L107 reliability
    * diagram maintained on live scored-and-labeled traffic, the
    * calibration twin of [[aucMonitorStream]]: AUC drift says the
    * RANKING degraded; calibration drift says the score VALUES
    * stopped meaning what the gating threshold assumes — the failure
    * a fixed gate-at-p≥0.9 pipeline hits first. The per-bin
    * (count, positives, Σp) statistic is ADDITIVE
    * ([[graft.operators.Curate.calibrationStats]]), so each trigger
    * folds its delta into the snapshot chain (read-below-own-id,
    * replay-safe) and [[calibrationFromStore]] renders the diagram /
    * ECE off the ≤B-row state — never the event history. */
  def calibrationMonitorStream(scored: DataFrame, scorePpmCol: String,
                               labelCol: String, storePath: String,
                               checkpoint: String, buckets: Int = 10,
                               compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scored.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.Curate.calibrationStats(batch.toDF(),
          scorePpmCol, labelCol, buckets)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("bin", "n", "n_pos", "sp"))
          }
        val snap = prior match {
          case Some(pr) => pr.unionByName(delta).groupBy("bin")
            .agg(sum("n").as("n"), sum("n_pos").as("n_pos"),
              sum("sp").cast("decimal(38,0)").as("sp"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Reliability diagram off the latest calibration snapshot; feed
    * to [[graft.operators.Curate.calibrationSummary]] for ECE. */
  def calibrationFromStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    graft.operators.Curate.calibrationFromStats(
      spark.read.parquet(storePath)
        .filter(col("batch").cast("long") === top)
        .select("bin", "n", "n_pos", "sp"))
  }

  /** C13am (r16): streaming isotonic calibrator — the L114/L114b
    * serve path closed over live traffic: the C13ai bin store is
    * additive sufficient state for the PAV fit, so the CURRENT
    * monotone calibrator (and, through
    * [[graft.operators.Curate.isotonicApply]], the serve-time step
    * lookup) derives any time from the ≤B-row snapshot — never a
    * replay of scored history. A gate that thresholds calibrated
    * probabilities keeps its calibrator fresh per trigger for the
    * cost of one B-row read + the O(B³) driver closed form. */
  def isotonicFromStore(spark: org.apache.spark.sql.SparkSession,
                        storePath: String): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    graft.operators.Curate.isotonicFromStats(
      spark.read.parquet(storePath)
        .filter(col("batch").cast("long") === top)
        .select("bin", "n", "n_pos"))
  }

  /** C13an (r16): streaming conformal calibrator — L115's
    * distribution-free coverage machinery maintained on live labeled
    * traffic: the per-class nonconformity COUNT table (cls, s, c) is
    * exactly additive, so each trigger folds its delta into the
    * snapshot chain (read-below-own-id, replay-safe) and the current
    * per-class thresholds derive any time via
    * [[graft.operators.Curate.conformalThresholdsFromCounts]] — the
    * state is value-bounded (≤ 10⁶ ppm rows per class, the C13af
    * score-count discipline), never event-bounded. A serving gate
    * reads the 2·|alphas|-row threshold frame per trigger and keeps
    * its conformal guarantee fresh as the score distribution
    * drifts. */
  def conformalStream(scored: DataFrame, scorePpmCol: String,
                      labelCol: String, storePath: String,
                      checkpoint: String, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scored.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = batch.toDF()
          .select(
            when(col(labelCol), lit("pos")).otherwise(lit("neg")).as("cls"),
            when(col(labelCol), lit(1000000L) - col(scorePpmCol))
              .otherwise(col(scorePpmCol)).cast("long").as("s"))
          .groupBy("cls", "s").agg(count(lit(1)).as("c"))
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("cls", "s", "c"))
          }
        val snap = prior match {
          case Some(pr) => pr.unionByName(delta).groupBy("cls", "s")
            .agg(sum("c").as("c"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Current conformal thresholds off the latest count snapshot. */
  def conformalFromStore(spark: org.apache.spark.sql.SparkSession,
                         storePath: String,
                         alphasPm: Seq[Int] = Seq(100, 200)): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    graft.operators.Curate.conformalThresholdsFromCounts(
      spark.read.parquet(storePath)
        .filter(col("batch").cast("long") === top)
        .select("cls", "s", "c"),
      alphasPm)
  }

  /** C13aj: streaming PII-rate monitor — the L110 scan on live
    * ingest, folded per SOURCE: a feed that starts leaking emails/
    * IPs/phones (an upstream scraper change, a new partner dump) is
    * an ops event long before any batch re-scan would notice. The
    * per-source statistic (n_docs, n_email, n_ip, n_phone) is
    * ADDITIVE, so each trigger folds its delta into the snapshot
    * chain (read-below-own-id, replay-safe); [[piiRatesFromStore]]
    * renders per-mille rates off the source-bounded state, never the
    * doc history. Redaction itself stays a per-row map on the main
    * pipeline — this is the monitoring sidecar. */
  def piiMonitorStream(docs: DataFrame, sourceCol: String,
                       textCol: String, storePath: String,
                       checkpoint: String, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // One scan, no row ids: the kernel output is aggregated per
        // source directly, so the micro-batch source is evaluated
        // exactly once (r14 ADVICE: the previous shape self-joined
        // two evaluations of the unpinned batch on
        // monotonically_increasing_id — nondeterministic under
        // re-partitioned replay).
        val delta = batch.toDF()
          .select(col(sourceCol).as("source"),
            graft.functions.pii_scan(col(textCol)).as("__p"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("__p.n_email").as("n_email"), sum("__p.n_ip").as("n_ip"),
            sum("__p.n_phone").as("n_phone"))
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("source", "n_docs", "n_email", "n_ip", "n_phone"))
          }
        val snap = prior match {
          case Some(pr) => pr.unionByName(delta).groupBy("source")
            .agg(sum("n_docs").as("n_docs"), sum("n_email").as("n_email"),
              sum("n_ip").as("n_ip"), sum("n_phone").as("n_phone"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** C13al: streaming embedding-moment maintenance — the L113
    * whitening model's sufficient statistics (n, Σx, Σxxᵀ — rows
    * (i, j, v), EXACTLY additive in decimal(38,0)) folded into the
    * snapshot chain per trigger, so the current anisotropy model
    * (mean + top principal direction) derives at any time from the
    * d(d+1)/2-row state via [[whitenModelFromStore]] — a bounded
    * driver-side power iteration, never a row-history replay. Same
    * read-below-own-id replay discipline and compactEvery retention
    * as the other additive monitors. */
  def embedMomentStream(vecs: DataFrame, idCol: String, vecCol: String,
                        storePath: String, checkpoint: String,
                        compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val delta = graft.operators.Whiten.momentStats(batch.toDF(),
          idCol, vecCol)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath))) None
          else {
            val all = spark.read.parquet(storePath)
              .filter(col("batch") < batchId)
            val head = all.agg(max(col("batch").cast("long"))).head()
            if (head.isNullAt(0)) None
            else Some(all.filter(col("batch").cast("long") === head.getLong(0))
              .select("i", "j", "v"))
          }
        val snap = prior match {
          case Some(pr) => pr.unionByName(delta).groupBy("i", "j")
            .agg(sum("v").cast("decimal(38,0)").as("v"))
          case None => delta
        }
        snap.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          { compactSessionStore(spark, storePath, keep = 2); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Current whitening model (n, μq, vq) off the latest moment
    * snapshot — see [[graft.operators.Whiten.modelFromMoments]]. */
  def whitenModelFromStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String, rounds: Int = 3)
      : (Long, Array[Long], Array[Long]) = {
    val top = latestStoreBatch(spark, storePath)
    val rows = spark.read.parquet(storePath)
      .filter(col("batch").cast("long") === top)
      .select("i", "j", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), BigDecimal(r.getDecimal(2))))
      .toSeq
    graft.operators.Whiten.modelFromMoments(rows, rounds)
  }

  /** Per-source PII rates (per-mille of docs) off the latest
    * snapshot. */
  def piiRatesFromStore(spark: org.apache.spark.sql.SparkSession,
                        storePath: String): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    spark.read.parquet(storePath)
      .filter(col("batch").cast("long") === top)
      .select(col("source"), col("n_docs"), col("n_email"), col("n_ip"),
        col("n_phone"),
        expr("n_email * 1000 div n_docs").as("email_pm"),
        expr("n_ip * 1000 div n_docs").as("ip_pm"),
        expr("n_phone * 1000 div n_docs").as("phone_pm"))
  }

  /** Exact AUC off the latest score-count snapshot. */
  def aucFromStore(spark: org.apache.spark.sql.SparkSession,
                   storePath: String): DataFrame = {
    val top = latestStoreBatch(spark, storePath)
    graft.operators.Curate.aucFromScoreCounts(
      spark.read.parquet(storePath)
        .filter(col("batch").cast("long") === top)
        .select("mv", "c", "p"))
  }

  /** C13ad: streaming winnow ingest — the LOCAL-match member of the
    * ingest family ([[nearDupIngest]] = resemblance,
    * [[containmentIngest]] = set inclusion; this one = shared
    * passages): every micro-batch is (1) probed against the persisted
    * fingerprint postings state
    * ([[graft.operators.Dedup.buildWinnowTable]]) — an incoming doc
    * sharing ≥ minShared winnow fingerprints with ANY accepted doc
    * carries a duplicated passage even when its Jaccard and
    * containment against everything are tiny (a stitched-together
    * compilation of known paragraphs passes BOTH other gates); (2)
    * winnow-deduped within itself (larger id drops); survivors (3)
    * land per-batch and (4) extend the state. Replay-safe like its
    * siblings: ids unique across stream+corpus (queue-seq contract)
    * exclude self-pairs, and duplicated postings from a replayed
    * append are absorbed by the probe's distinct-corpus-id df and
    * the sidecar min-pick. k/w/minShared/maxDf must match the batch
    * matcher's calibration; buckets the build's. */
  def winnowIngest(incoming: DataFrame, idCol: String, textCol: String,
                   stateTable: String, outPath: String, checkpoint: String,
                   k: Int = 8, w: Int = 16, minShared: Long = 8L,
                   maxDf: Long = 64L, buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.Dedup
        val b = batch.toDF()
        val corpusHits = Dedup
          .winnowAgainstTable(b, idCol, textCol, stateTable,
            k = k, w = w, minShared = minShared, maxDf = maxDf)
          .filter(col("incoming_id") =!= col("corpus_id"))
          .select(col("incoming_id").as("__dup_id")).distinct()
        val fresh = b.join(corpusHits, b(idCol) === col("__dup_id"),
          "left_anti")
        val withinPairs = Dedup.winnowedPairs(fresh, idCol, textCol,
            k = k, w = w, minShared = minShared, maxDf = maxDf)
          .withColumnRenamed("id2", "doc_id2")
        val kept = Dedup.removeNearDups(fresh, idCol, withinPairs).persist()
        try {
          kept.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          Dedup.appendWinnowState(kept, idCol, textCol, stateTable,
            k = k, w = w, buckets = buckets)
        } finally { kept.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
