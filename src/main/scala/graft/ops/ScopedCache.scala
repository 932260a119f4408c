package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cache with action-scoped lifetime: `untilConsumed(df)` caches `df` and
  * automatically unpersists it after the first action that consumed it
  * completes, so multi-consumer fragments (a self-join's shared side, a
  * relation feeding both a join and its size aggregate) get the
  * compute-once benefit WITHOUT leaving blocks pinned in the user's
  * session afterwards — the cache hygiene a long-lived notebook or
  * multi-tenant driver needs, where a leaked 100 GB cached relation
  * evicts everyone else's working set.
  *
  * Mechanics: the cached fragment's analyzed plan is remembered in
  * canonicalized form; a [[QueryExecutionListener]] watches completed
  * actions (success or failure — a failed consumer shouldn't leak
  * either) and, when one's plan contains the fragment as a subtree,
  * unpersists and unregisters. Consumption is lazy-safe: the cache lives
  * exactly as long as the returned query is unexecuted, then one action.
  * A second execution of the same query recomputes uncached — correct,
  * just unboosted — which fits the engine's query-per-action contract
  * (Verify writes each query once; Bench times each query once).
  */
object ScopedCache {

  /** Monotone count of scopes ever opened (both variants). Test-facing:
    * the cache-hygiene audit DERIVES the set of internally-caching
    * queries by watching this counter across query construction, instead
    * of a hand-maintained list that drifted twice (rounds 8 and 9).
    */
  private val opened = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def scopesOpened: Long = opened.get

  /** Escape hatch for the constructed-but-never-consumed trap: if this
    * many actions complete WITHOUT consuming the watched fragment, the
    * cache is released and the listener unregistered anyway. The scope's
    * intended lifetime is "until the caller's next action", so a query
    * that hasn't been executed within 64 foreign actions was abandoned —
    * releasing it costs at worst an uncached recompute if it does run
    * later (correct, just unboosted), and bounds both the pinned blocks
    * and the listener registry in a long-lived library session.
    */
  private[graft] val AbandonAfterActions = 64

  /** Register the release watcher: run `releaseFn` and unregister after
    * the first completed action whose plan contains `watched`'s analyzed
    * fragment — or, the TTL escape hatch, after [[AbandonAfterActions]]
    * completed actions that DON'T (the scope was abandoned; see the val's
    * scaladoc).
    *
    * An action counts only if its QueryExecution was created no earlier
    * than `watched`'s own. The listener bus delivers completions
    * asynchronously, so an action that ran BEFORE the scope opened — e.g.
    * the one that materialized a lazy checkpoint the result reads — can
    * arrive after registration; its plan can match the fragment
    * (canonicalization ignores alias names), and treating it as the
    * consumer freed checkpoints the real consumer had yet to read
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND under a busy bus).
    */
  private def watchFragment(watched: DataFrame, ttlActions: Int = AbandonAfterActions)(
      releaseFn: () => Unit): Unit = {
    val spark = watched.sparkSession
    val fragment = watched.queryExecution.analyzed.canonicalized
    val openedAt = watched.queryExecution.id
    val released = new AtomicBoolean(false)
    val foreignActions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def release(): Unit =
        if (released.compareAndSet(false, true)) {
          releaseFn()
          spark.listenerManager.unregister(this)
        }
      private def maybeRelease(qe: QueryExecution): Unit = if (qe.id >= openedAt) {
        val consumed =
          try qe.analyzed.find(_.canonicalized == fragment).isDefined
          catch { case scala.util.control.NonFatal(_) => false }
        if (consumed || foreignActions.incrementAndGet() >= ttlActions)
          release()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
  }

  /** Cache `cached` until the first completed action whose plan contains
    * RESULT's analyzed fragment (not `cached`'s own). For multi-action
    * operators — iterative training collects followed by a final query
    * over the same relation — where [[untilConsumed]] would release on
    * the FIRST training collect and leave every later phase rescanning
    * the source. The cache is materialized by the training actions,
    * reused across all of them plus the final query, and released by the
    * caller's single consuming action on the returned result; the same
    * no-blocks-left-behind contract the cache-hygiene audit pins.
    *
    * Constraint (by canonicalized-plan matching, same as untilConsumed):
    * Spark's CacheManager keys on the canonical plan, so two LIVE
    * operator instances caching the SAME plan share one entry — consuming
    * the first result unpersists it for both. Hold at most one
    * constructed instance per cached plan and execute it before
    * constructing the next (Verify, Bench and the audits all construct →
    * execute per query, which satisfies this); a constructed-but-never-
    * consumed result keeps its blocks only until [[AbandonAfterActions]]
    * later actions complete (the abandonment TTL) or
    * `spark.catalog.clearCache()`.
    */
  def untilResultConsumed(cached: DataFrame, result: DataFrame): DataFrame = {
    opened.incrementAndGet()
    watchFragment(result)(() => cached.unpersist(false))
    result
  }

  def untilConsumed(df: DataFrame): DataFrame = {
    opened.incrementAndGet()
    val cached = df.cache()
    watchFragment(cached)(() => cached.unpersist(false))
    cached
  }

  /** Run `releaseFn` after the first completed action whose plan contains
    * `result`'s analyzed fragment (or after the [[AbandonAfterActions]]
    * TTL) — the cache-release listener generalized to arbitrary cleanup,
    * used by [[Ckpt]] scopes to release localCheckpoint storage
    * blocks that `spark.catalog.clearCache()` never touches. Same
    * construct-then-execute-once contract as [[untilConsumed]]; the
    * checkpoint flavor is stricter on violation (a freed checkpoint
    * cannot recompute), so callers hand over only frames the executed
    * result no longer needs.
    */
  def onConsumed(result: DataFrame, ttlActions: Int = AbandonAfterActions)(
      releaseFn: () => Unit): DataFrame = {
    // deliberately NOT counted in `opened`: the scope counter means
    // "opened a CACHE scope" to its consumers (Round11Spec pins exact
    // counts per operator); checkpoint scopes have their own counter in
    // [[Ckpt]]
    watchFragment(result, ttlActions)(releaseFn)
    result
  }
}
