package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftCheckpointBridge}
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
  * THE lifetime rule: every checkpoint an operator takes belongs to one
  * [[scope]], which releases it on every exit.
  *  - Failure: every checkpoint the scope holds is freed, including the
  *    one whose eager job failed.
  *  - Success: a checkpoint whose [[LogicalRDD]] leaf is in the returned
  *    result's analyzed plan is released by the result's consuming action
  *    ([[freeOnConsumed]]); every other one is dead and freed at once.
  *    A scope opened inside another one on the same thread hands the
  *    result's checkpoints to the enclosing scope instead, which decides
  *    at its own exit.
  *  - [[Scope.drop]] frees a frame the operator will not read again before
  *    the scope ends (a loop's previous round, a replaced corpus frame).
  * A checkpoint the result reads must already be materialized: a lazy one
  * that is not would recompute at the consuming action through frames the
  * scope has freed, so the scope refuses such a result.
  *
  * Consumption contract: construct, then execute ONCE — a freed local
  * checkpoint has no lineage to recompute, so re-executing the same
  * constructed frame after its consuming action fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the cache flavor merely recomputed;
  * the checkpoint flavor is strict). Every registry consumer (Verify,
  * Bench, the audits) constructs per execution, which satisfies this; the
  * abandonment TTL bounds the leak when a constructed query is never
  * executed, at the price of the same strictness — a query constructed,
  * abandoned past the TTL, and THEN executed fails rather than silently
  * rescanning. Reconstruct instead of holding stale frames.
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
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }

  private def unpersist(rs: Iterable[RDD[_]]): Unit = rs.foreach(_.unpersist(blocking = false))

  /** Immediately drop the block-manager storage of every checkpoint in
    * these frames' plans. Caller contract: the frames are dead — no
    * later action's plan references them (a freed local checkpoint
    * cannot recompute).
    */
  def free(dfs: DataFrame*): Unit = unpersist(dfs.flatMap(rdds))

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
    * A [[scope]] calls it for the checkpoints its result reads.
    */
  def freeOnConsumed(result: DataFrame, ckpts: Seq[DataFrame]): DataFrame =
    releaseOnConsumed(result, ckpts.flatMap(rdds))

  private def releaseOnConsumed(result: DataFrame, rs: Seq[RDD[_]]): DataFrame = {
    opened.incrementAndGet()
    ScopedCache.onConsumed(result, AbandonAfterActions)(() => unpersist(rs))
  }

  /** The checkpoints one operator holds; see the lifetime rule above. */
  final class Scope private[Ckpt] (private[Ckpt] val outer: Option[Scope]) {
    private val held = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]

    /** `df` checkpointed and held by this scope. Eager runs the one
      * materializing job now; lazy roots the plan at a [[LogicalRDD]] leaf
      * at once and materializes with the first action that reads it. The
      * RDD is held before any job runs, so a failed eager job is freed too.
      */
    def apply(df: DataFrame, eager: Boolean = true): DataFrame =
      GraftCheckpointBridge.localCheckpoint(df, eager)(r => synchronized { held += r; () })

    /** Free these frames' checkpoints now: nothing will read them again. */
    def drop(dfs: DataFrame*): Unit = {
      val rs = dfs.flatMap(rdds)
      synchronized { held --= rs }
      unpersist(rs)
    }

    /** `n` fixed rounds of `step` from `init`, the round-16 job-count
      * fuse: rounds 1..n−1 are LAZY checkpoints — LogicalRDD leaves at
      * once, so each round plans against the previous round's leaf and the
      * plan stays linear — and round n is EAGER: its one job materializes
      * the whole chain (n eager checkpoint jobs → 1). The earlier rounds
      * are dead once it has landed and go with the scope.
      */
    def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
      (1 to n).foldLeft(init)((cur, r) => apply(step(cur), eager = r == n))

    private[Ckpt] def adopt(rs: Seq[RDD[_]]): Unit = synchronized { held ++= rs; () }

    private def takeAll(): List[RDD[_]] = synchronized { val rs = held.toList; held.clear(); rs }

    private[Ckpt] def abort(): Unit = unpersist(takeAll())

    /** Success exit: hand what each returned frame reads to the enclosing
      * scope or to that frame's consuming action; free the rest. */
    private[Ckpt] def close(frames: Seq[DataFrame]): Unit = {
      val reads = frames.map(f => f -> rdds(f).toSet)
      val all = takeAll()
      val (kept, dead) = all.partition(r => reads.exists(_._2(r)))
      val deadSet = dead.toSet[RDD[_]]
      val seen = scala.collection.mutable.HashSet.empty[RDD[_]]
      def readsDead(r: RDD[_]): Boolean =
        r.dependencies.exists(d => seen.add(d.rdd) && (deadSet(d.rdd) || readsDead(d.rdd)))
      kept.find(k => !k.isCheckpointed && readsDead(k)).foreach { k =>
        unpersist(all)
        throw new IllegalStateException(
          s"checkpoint scope result reads the unmaterialized checkpoint RDD ${k.id}, " +
            "whose lineage runs through checkpoints the scope frees")
      }
      unpersist(dead)
      outer match {
        case Some(o) => o.adopt(kept)
        case None => reads.foreach { case (f, rs) =>
          val mine = kept.filter(rs)
          if (mine.nonEmpty) releaseOnConsumed(f, mine)
        }
      }
    }
  }

  private val current = new ThreadLocal[Scope]

  /** Run `body` with a fresh [[Scope]] and release its checkpoints by the
    * lifetime rule. The result's frames are the result itself when it is
    * a DataFrame, or the DataFrames of a returned tuple; any other result
    * (a publish's Unit, a root path) reads nothing, so every checkpoint is
    * freed when the body returns.
    */
  def scope[A](body: Scope => A): A = {
    val s = new Scope(Option(current.get))
    current.set(s)
    val result =
      try body(s)
      catch { case t: Throwable => s.abort(); throw t }
      finally current.set(s.outer.orNull)
    s.close(result match {
      case df: DataFrame @unchecked => Seq(df)
      case p: Product => p.productIterator.collect { case df: DataFrame @unchecked => df }.toSeq
      case _ => Nil
    })
    result
  }
}
