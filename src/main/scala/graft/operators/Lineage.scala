package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias, View}

/** Lineage guard for multi-reference operators.
  *
  * [[Dedup.containmentPairs]], [[Curate.shingleNovelty]] and
  * [[Dedup.sampledDupRate]] reference their input frame several times
  * (df table, size table, rank window, verify sets): Spark re-executes
  * the input's WHOLE upstream plan per reference, so a long uncached
  * lineage (a composed pipeline) multiplies its own cost — observed
  * wedging the composed demo until the caller cut the lineage. The
  * contract used to be documentation; this makes it structural: inputs
  * whose plan is scan-shaped (projections/filters over a leaf — the
  * re-execution is just a re-read, which is exactly what those
  * operators are designed around) pass through untouched, anything
  * derived (joins, aggregates, windows, generates…) is pinned ONCE via
  * eager `localCheckpoint`.
  *
  * Cluster caveat (applies to every localCheckpoint in the engine,
  * incl. the iterative CC/LPA/k-core/SGNS/Lloyd rounds): checkpoint
  * blocks live on executors and die with them — lineage is truncated,
  * so an executor loss fails the job instead of recomputing. On a real
  * cluster prefer reliable `checkpoint()` for long-running jobs by
  * setting [[Lineage.useReliableCheckpoint]] (requires
  * `spark.sparkContext.setCheckpointDir`). local[32] has no executor
  * loss, so the default stays local.
  */
object Lineage {

  /** Opt-in: route [[pinDerived]] through reliable `checkpoint()`
    * instead of `localCheckpoint()` (set once at app start; requires a
    * checkpoint dir). Equivalent to the session conf knob
    * `graft.checkpoint.reliable=true`. */
  @volatile var useReliableCheckpoint: Boolean = false

  /** Round pin for the engine's iterative operators (LPA, k-core,
    * Lloyd, SGNS, PageRank, MW reweight, greedy packing…): cut
    * lineage eagerly so round t+1 never re-executes round t. Honors
    * `graft.checkpoint.reliable`: when the session conf sets it true
    * (or [[useReliableCheckpoint]] is set) rounds checkpoint RELIABLY
    * to the configured checkpoint dir, so on a real cluster an
    * executor loss recomputes the round from storage instead of
    * failing the job — localCheckpoint blocks live on executors and
    * die with them. local[*] keeps the localCheckpoint default (no
    * executor loss, no distributed-FS round-trip per round). */
  def pin(df: DataFrame): DataFrame = {
    val reliable = useReliableCheckpoint ||
      df.sparkSession.conf.getOption("graft.checkpoint.reliable")
        .exists(_.equalsIgnoreCase("true"))
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true requires " +
          "sparkContext.setCheckpointDir(<reliable storage path>)")
      // Retention: superseded round checkpoints are reclaimed by the
      // ContextCleaner once the round's RDD is unreachable — but ONLY
      // under spark.cleaner.referenceTracking.cleanCheckpoints=true
      // (GraftSession sets it; it must be set before the context
      // starts). Warn loudly when a foreign session forgot it, since
      // a long iterative job then accumulates one checkpoint dir per
      // round forever (r14 ADVICE).
      if (!df.sparkSession.sparkContext.getConf.getBoolean(
          "spark.cleaner.referenceTracking.cleanCheckpoints", false))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "reliable round pins without spark.cleaner.referenceTracking." +
            "cleanCheckpoints=true: superseded round checkpoints are " +
            "never deleted — set it before the SparkContext starts")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** Set once an observed metric failed to arrive within
    * [[observeWait]]: from then on every [[pinAgg]] in the process reads
    * its aggregates from the pinned frame directly, so a delivery
    * failure costs one wait, not one wait per round of every loop. */
  @volatile private[graft] var observeUnreliable: Boolean = false

  private val observeWait = scala.concurrent.duration.Duration(5, "s")

  /** r17: pin + read GLOBAL aggregates of the SAME materialization.
    * The engine's iterative loops all follow "pin the round, then run
    * one scalar action over the pinned blocks" (convergence count,
    * renormalizer total, setup cardinality); that trailing action is
    * a whole extra job of pure scheduler latency per round (~0.2-0.35
    * s measured locally). `Dataset.observe` computes the aggregates
    * DURING the pin's own action, so the scalar is free. Aggregates
    * must be aliased, global and distinct-free (the observe
    * contract). Falls back to an explicit aggregate over the pinned
    * frame (always correct, one more job) when metric delivery, which
    * rides an async listener, has not arrived within [[observeWait]]
    * — after which [[observeUnreliable]] routes every later call
    * straight to the fallback — or when the wait is interrupted (the
    * interrupt is re-asserted once the fallback has run). */
  def pinAgg(df: DataFrame,
             aggs: (String, org.apache.spark.sql.Column)*): (DataFrame, Map[String, Any]) = {
    require(aggs.nonEmpty, "pinAgg needs >= 1 aggregate")
    val names = aggs.map(_._1)
    val aliased = aggs.map { case (n, c) => c.as(n) }
    def fromPinned(pinned: DataFrame): Map[String, Any] = {
      val r = pinned.agg(aliased.head, aliased.tail: _*).head()
      names.zipWithIndex.map { case (n, i) => (n, r.get(i)) }.toMap
    }
    if (observeUnreliable) {
      val pinned = pin(df)
      (pinned, fromPinned(pinned))
    } else {
      val obs = org.apache.spark.sql.Observation()
      val pinned = pin(df.observe(obs, aliased.head, aliased.tail: _*))
      val vals: Map[String, Any] =
        try {
          scala.concurrent.Await.ready(obs.future, observeWait)
          names.map(n => (n, obs.get(n))).toMap
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            observeUnreliable = true
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"observed metrics not delivered within $observeWait: pinAgg " +
                "reads aggregates from the pinned frame from now on")
            fromPinned(pinned)
          case _: InterruptedException =>
            val v = fromPinned(pinned)
            Thread.currentThread().interrupt()
            v
        }
      (pinned, vals)
    }
  }

  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(_, c)        => scanShaped(c)
    case Filter(_, c)         => scanShaped(c)
    case SubqueryAlias(_, c)  => scanShaped(c)
    case v: View              => scanShaped(v.child)
    case _                    => false
  }

  /** The input frame, pinned iff its plan is more than a (possibly
    * filtered/projected) scan. Idempotent on already-pinned frames
    * (a checkpointed frame is a leaf). */
  def pinDerived(df: DataFrame): DataFrame =
    if (scanShaped(df.queryExecution.analyzed)) df
    else pin(df)
}
