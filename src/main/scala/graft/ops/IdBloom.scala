package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, not, udf}
import org.apache.spark.util.sketch.BloomFilter

/** Per-version resident-id bloom sidecar — the bound on the one cost that
  * contradicted the batch-sized-ingest contract (round-15 verdict item 1):
  * every delta-chain append's CDC dup guard, and the streaming sinks'
  * replay anti-join, probed the destination's FULL id column per
  * micro-batch — a narrow clustered scan, but O(resident ids), so the
  * per-batch bill grew with index age. This module shrinks the common-case
  * probe to O(batch) map-side work:
  *
  *  - every committed chain version (full build, append delta, compacted
  *    rewrite) carries an `idbloom/` directory of serialized
  *    [[org.apache.spark.util.sketch.BloomFilter]] blobs over the ids that
  *    version contributed (the full version: all resident ids at build
  *    time; a delta: just its batch — so blob size tracks what the version
  *    itself holds, and the sidecar SET for a chain is exactly the
  *    resident-id superset by construction);
  *  - a guard/filter loads the chain's blobs (metadata-sized: ~1.2 bytes
  *    per resident id at 1% fpp — at 10^10 vectors that is ~12 GB across
  *    the chain, still executor-broadcastable per partition-range if it
  *    ever must shard; at every sandbox and near-term scale it is KBs) and
  *    probes the BATCH against them map-side. No false negatives, so
  *    "no id flagged" proves disjointness with ZERO resident scan — the
  *    common case for healthy CDC ingest;
  *  - only flagged rows (a real replay, or the fpp-bounded false-positive
  *    sliver) fall back to the EXACT resident-id join — the failure path
  *    pays the old scan, the steady state never does.
  *
  * Compaction RECOMPUTES the sidecar: the compacted version gets ONE
  * fresh blob built over the exact union id frame compaction is already
  * rewriting (blobs are still never MERGED — Spark blooms of different
  * expectedNumItems are bit-incompatible — but recomputing from exact ids
  * carries no false-negative risk). Recompute, not copy, is load-bearing
  * for the long-run contract: carrying every historical blob forward
  * would grow both the per-row probe cost and the union false-positive
  * rate linearly with total appends ever made (at 1% fpp per blob, ~70
  * accumulated blobs falsely flag ~half of every fresh batch — quietly
  * degrading steady-state ingest back to the exact resident scan this
  * module exists to delete). Recompute also HEALS a chain that lost its
  * sidecars: the compacted version carries a complete bloom regardless of
  * what the source versions had. If ANY chain version lacks a sidecar (an
  * artifact written by other code), loaders return None and callers use
  * the exact scan for everything — absence degrades cost, never
  * correctness, until the next compaction restores the fast path.
  *
  * The probe itself is a Scala UDF over the id column: deliberately so —
  * it runs only on guard/ingest paths (never in a registered query's hot
  * plan), the blooms ride the closure ([[BloomFilter]] is Serializable),
  * and a native expression would buy nothing on a batch-sized input.
  */
object IdBloom {

  /** Sidecar directory name inside a committed version dir — deliberately
    * distinct from every data layer name (cells/centroids/adj/vecs/sigs/
    * sizes/pairs/batchdocs/labels) so chain layer readers never list it.
    */
  private val Dir = "idbloom"

  private val Fpp = 0.01

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build a bloom over `ids(idCol)` and write it as this version's
    * sidecar blob. Called INSIDE the publish callback, so the sidecar
    * commits atomically with the version's data layers. `ids` is the
    * version's own contribution — batch-sized for deltas. The bloom is
    * sized from the id count: a caller that already holds it passes
    * `knownCount` and the write is ONE job (the bloom aggregation) — an
    * append's delta does, with the batch count the append protocol took;
    * otherwise a `count` job runs first, and both jobs evaluate `ids` (a
    * compaction's chain read is computed twice; ROADMAP direction 4).
    */
  def write(spark: SparkSession, versionDir: String, ids: DataFrame, idCol: String,
            knownCount: Option[Long] = None): Unit = {
    val n = math.max(knownCount.getOrElse(ids.count()), 64L)
    val bf = ids.stat.bloomFilter(idCol, n, Fpp)
    val p = new Path(s"$versionDir/$Dir/b0.bin")
    val out = fsOf(spark, p).create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  private def listBlobs(spark: SparkSession, versionDir: String): Seq[Path] = {
    val d = new Path(s"$versionDir/$Dir")
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".bin"))
      .map(_.getPath).sortBy(_.getName)
  }

  /** All blobs across the pinned chain dirs, or None if ANY version lacks
    * a sidecar (callers then fall back to the exact resident scan).
    */
  def load(spark: SparkSession, dirs: Seq[String]): Option[Seq[BloomFilter]] = {
    val perDir = dirs.map(d => listBlobs(spark, d))
    if (perDir.isEmpty || perDir.exists(_.isEmpty)) None
    else Some(perDir.flatten.map { p =>
      val in = fsOf(spark, p).open(p)
      try BloomFilter.readFrom(in) finally in.close()
    })
  }

  /** A null id is conservatively FLAGGED (a primitive-Long UDF would
    * instead return null, and BOTH `filter(might)` and `filter(not(might))`
    * drop null — filterFresh would silently lose the row while the
    * sidecar-absent fallback kept it, two different index contents from
    * the same input). Flagged-null routes the row to the exact-join leg,
    * where a null join key never matches: retained by the left_anti
    * (ingested, same as the fallback) and never counted by the left_semi —
    * both guard forms answer identically with and without sidecars.
    */
  private def mightContainAny(blooms: Seq[BloomFilter]) =
    udf((id: java.lang.Long) => id == null || blooms.exists(_.mightContainLong(id)))

  /** CDC dup-guard probe: does `batch` intersect the chain's resident
    * ids? Bloom-first — zero flagged rows proves disjoint with no
    * resident scan; flagged rows (replay or false positive) re-check
    * against the EXACT id frame, limit-1 short-circuited. `exact` is
    * by-name: the steady state never constructs it.
    */
  def overlaps(spark: SparkSession, dirs: Seq[String], batch: DataFrame,
               idCol: String, exact: => DataFrame): Boolean =
    load(spark, dirs) match {
      case Some(blooms) =>
        val flagged = batch.select(col(idCol)).filter(mightContainAny(blooms)(col(idCol)))
        !flagged.isEmpty &&
          flagged.join(exact, Seq(idCol), "left_semi").limit(1).count() > 0
      case None =>
        batch.select(col(idCol)).join(exact, Seq(idCol), "left_semi")
          .limit(1).count() > 0
    }

  /** Idempotent-ingest filter: `batch` minus rows already resident.
    * Bloom-first — when nothing is flagged the batch is returned AS IS
    * (same frame, no new plan, no resident scan); otherwise only the
    * flagged sliver anti-joins the exact id frame and rejoins the
    * definitely-fresh remainder. Streaming sinks use this to make an
    * at-least-once replay a no-op with O(batch) steady-state cost.
    */
  def filterFresh(spark: SparkSession, dirs: Seq[String], batch: DataFrame,
                  idCol: String, exact: => DataFrame): DataFrame =
    load(spark, dirs) match {
      case Some(blooms) =>
        val might = mightContainAny(blooms)(col(idCol))
        if (batch.filter(might).isEmpty) batch
        else batch.filter(not(might))
          .unionByName(batch.filter(might).join(exact, Seq(idCol), "left_anti"))
      case None =>
        batch.join(exact, Seq(idCol), "left_anti")
    }
}
