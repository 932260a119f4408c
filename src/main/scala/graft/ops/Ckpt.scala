package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release discipline for `localCheckpoint` storage blocks — the leak
  * class `spark.catalog.clearCache()` can NEVER fix: a local checkpoint
  * persists its RDD in the block manager OUTSIDE the SQL cache manager,
  * and the blocks live until the RDD object is GC'd. In a long-running
  * session (the 100 TB deployment shape: a service executing queries
  * repeatedly in one JVM) every checkpointing operator therefore leaked
  * corpus-sized blocks per invocation; round-12's per-pass
  * instrumentation measured the effect directly — consecutive passes of
  * the SAME query slowing monotonically (emb_rproj_topk 1.75 → 6.41 →
  * 10.09 s) from the accumulated storage pressure of earlier passes.
  *
  * Two release paths, chosen by liveness:
  *  - [[free]]: immediate, for checkpoints that are provably DEAD —
  *    loop-prior iterations once the next round's checkpoint
  *    materialized, build intermediates once the final artifact/frame
  *    materialized. Zero contract risk: nothing can reference them again.
  *  - [[freeOnConsumed]]: listener-based (the [[ScopedCache]] machinery),
  *    for checkpoints the RESULT's lazy plan still reads at action time.
  *    Contract: construct, then execute ONCE — a freed local checkpoint
  *    has no lineage to recompute, so re-executing the same constructed
  *    frame after its consuming action fails with
  *    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the cache flavor merely
  *    recomputed; the checkpoint flavor is strict). Every registry
  *    consumer (Verify, Bench, the audits) constructs per execution,
  *    which satisfies this; the abandonment TTL bounds the leak when a
  *    constructed query is never executed, at the price of the same
  *    strictness — a query constructed, abandoned past the TTL, and
  *    THEN executed fails rather than silently rescanning. Reconstruct
  *    instead of holding stale frames.
  *
  * Unpersisting targets the exact RDD behind the checkpoint: a
  * checkpointed Dataset's analyzed plan is a [[LogicalRDD]] leaf holding
  * the materialized RDD — `df.rdd` would wrap a NEW deserializing RDD
  * whose unpersist frees nothing.
  */
object Ckpt {

  /** Monotone count of [[freeOnConsumed]] scopes — the PlanAudit cache-
    * hygiene test derives the set of checkpointing queries from it, the
    * same way it derives caching queries from ScopedCache.scopesOpened.
    */
  private val opened = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def scopesOpened: Long = opened.get

  /** The checkpointed RDDs at `df`'s plan leaves. */
  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Immediately drop the block-manager storage of every checkpoint in
    * these frames' plans. Caller contract: the frames are dead — no
    * later action's plan references them (a freed local checkpoint
    * cannot recompute).
    */
  def free(dfs: DataFrame*): Unit =
    dfs.foreach(df => rdds(df).foreach(_.unpersist(blocking = false)))

  /** Abandonment TTL for CHECKPOINT scopes, deliberately much larger
    * than the cache flavor's 64: releasing an abandoned CACHE early
    * costs a benign recompute, but releasing an abandoned CHECKPOINT
    * makes a later execution of that constructed frame a hard
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND error (no lineage). The TTL
    * exists only to bound a true leak — a frame constructed and never
    * executed — so it can afford to be generous: 4096 foreign actions
    * is far past any construct-to-execute gap a real caller has (the
    * full 221-query bench pass completes within it), while still
    * capping the listener registry and pinned blocks in a service that
    * constructs-and-drops frames forever.
    */
  private[graft] val AbandonAfterActions = 4096

  /** Free every checkpoint under `ckpts` after the first completed
    * action that consumed `result` (or the ScopedCache abandonment TTL).
    * For frames `result`'s own lazy plan still reads — the final loop
    * state a top-k/orderBy result is derived from, the read-back MV a
    * multi-kernel summary aggregates at action time.
    */
  def freeOnConsumed(result: DataFrame, ckpts: Seq[DataFrame]): DataFrame = {
    opened.incrementAndGet()
    val frames = ckpts.toIndexedSeq
    ScopedCache.onConsumed(result, AbandonAfterActions)(() => free(frames: _*))
  }
}
