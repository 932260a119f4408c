package graft.ops

/** Scale-adaptive session tuning (round-16 optimization, guide §2.2/§2.5):
  * derive the shuffle-partition count and the AQE switch from the INPUT
  * SIZE instead of hard-coding either the local core count or a cluster
  * constant.
  *
  * Why not a constant: `spark.sql.shuffle.partitions = cpus` (the old
  * setting) is tuned for neither end. At sandbox scale (sf0.1 = ~17 MB of
  * parquet) a 32-partition shuffle means every exchange fans tiny rows
  * into 32 tasks and every localCheckpoint materializes 32 near-empty
  * blocks — measured per-query task counts drop 3–8× when partitions are
  * sized from bytes (ProbeJobs matrix, OPTIMIZATION_r16.md). At 100 TB a
  * core-count constant is far too LOW: partitions should land in the
  * 100 MB–1 GB range (guide §2.2), which the same bytes-derived formula
  * gives when the input is big.
  *
  * Why AQE off below the threshold: AQE submits one JOB per query stage
  * and re-optimizes the remaining plan at every stage boundary. That is
  * the right trade when stages move real data (coalescing + skew splits
  * repay the replans); on sub-GB inputs the replan+scheduling fixed cost
  * dominates — measured 265 jobs / 15.2 s for cur_neardedup_compact with
  * AQE on vs 117 jobs for the identical plan tree with it off, and
  * whole-suite A/B confirms (OPTIMIZATION_r16.md). Production (≥ the
  * threshold) keeps AQE ON with a high partition count and lets
  * coalescing size the reducers — exactly the guide §9 baseline.
  *
  * Everything is env-overridable so the driver's low-core re-runs and
  * any future cluster deployment can pin their own values:
  *   SPARK_GRAFT_SHUFFLE_PARTS — explicit partition count (skips the formula)
  *   SPARK_GRAFT_AQE           — "1"/"0" forces AQE on/off
  *   SPARK_GRAFT_AQE_MIN_BYTES — adaptive threshold (default 1 GiB)
  */
object Tuning {

  /** Total bytes under `dir` (one level of nesting is enough for the
    * driver layout: per-table single parquet files). 0 when unreadable —
    * callers fall back to the conservative (cluster-shaped) defaults.
    */
  def inputBytes(dir: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    try sizeOf(new java.io.File(dir)) catch { case _: Throwable => 0L }
  }

  private def envLong(k: String, dflt: Long): Long =
    sys.env.get(k).flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(dflt)

  /** Threshold below which a dataset counts as "small": AQE off, few
    * partitions. 1 GiB default — well above every sandbox SF, well below
    * any real deployment's daily partition.
    */
  def aqeMinBytes: Long = envLong("SPARK_GRAFT_AQE_MIN_BYTES", 1L << 30)

  def adaptiveEnabled(bytes: Long): Boolean =
    sys.env.get("SPARK_GRAFT_AQE") match {
      case Some("1") => true
      case Some("0") => false
      case _         => bytes <= 0 || bytes >= aqeMinBytes
    }

  /** Bytes-derived shuffle-partition count:
    *  - small inputs: ceil(bytes / 2 MiB), clamped to [4, 4·cpus] — at
    *    sf0.1 that is ~9 partitions (measured sweet spot), at sf0.01 the
    *    floor of 4 keeps a parallelism margin. A round-17 CORE-AWARE
    *    variant (floor raised from 4 to `cpus`, answering the round-16
    *    `suspect_cpus_ignored` scaling probe) was A/B-measured and
    *    REJECTED: with 32 vs 9 partitions at sf0.1 the SAME tree ran
    *    llm_simhash_clusters 7.35 s vs 4.53 s, emb_nsw_mv 4.55 vs 3.64,
    *    emb_nsw_topk 4.66 vs 3.55 (subset bench, best-of-3, same box,
    *    minutes apart — OPTIMIZATION_r17.md §tuning). Sub-GiB shuffle
    *    stages are per-task-fixed-cost-bound, so extra width only adds
    *    scheduling latency — and it cannot fix the scaling probe either:
    *    an 8-core session would use max(8, 9)=9 partitions while the
    *    32-core one uses 32 slower-in-absolute partitions, driving the
    *    8/32 ratio BELOW 1. The ≈1.0 core-scaling ratios at sf0.1 are a
    *    property of the data scale (17 MB of parquet: nothing to
    *    parallelize past ~9 shuffle tasks), not of the formula — the
    *    large branch below explicitly grows with both bytes and cores,
    *    and SPARK_GRAFT_SHUFFLE_PARTS stays the experiment override.
    *  - large (or unmeasurable) inputs: max(2·cpus, bytes / 64 MiB)
    *    capped at 2048 — AQE (on at this scale) coalesces the excess, so
    *    the constant only needs to be an upper bound on useful fan-out
    *    (guide §2.2's 100 MB–1 GB reducer target after coalescing).
    */
  def shufflePartitions(bytes: Long, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse {
        if (bytes > 0 && bytes < aqeMinBytes)
          math.max(4, math.min(4 * cpus, (bytes / (2L << 20) + 1).toInt))
        else
          math.max(2 * cpus, math.min(2048L, bytes / (64L << 20)).toInt)
      }

  /** Apply the derived settings to a session builder. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder,
                dir: String, cpus: Int): org.apache.spark.sql.SparkSession.Builder = {
    val bytes = inputBytes(dir)
    b.config("spark.sql.shuffle.partitions", shufflePartitions(bytes, cpus).toString)
      .config("spark.sql.adaptive.enabled", adaptiveEnabled(bytes).toString)
      // when AQE is on (large inputs) aim reducers at the guide §2.2 band
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
      // parallelismFirst stays at Spark's DEFAULT (true): the round-16
      // value (false) let AQE coalesce a ~0.5 GB window shuffle into a
      // handful of 128m partitions and starve a 32-core box — measured on
      // the ≥-threshold probe dataset (ProbeLargeBranch, 0.9 GiB, two
      // windows): ev_session 56/41 s with false vs 20.9 s with true,
      // sql_tpch_q18 26.1/18.0 vs 14.8, q21 13.0/10.7 vs 8.9
      // (OPTIMIZATION_r17.md §large-branch). With true, coalescing still
      // merges tiny partitions but never below the session parallelism —
      // the §2.2 target only binds when partitions ≫ cores, which is the
      // regime where 128m-sized reducers matter anyway.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
      // preferSortMergeJoin stays at Spark's default: the r17 A/B
      // (OPTIMIZATION_r17.md §joins) showed allowing shuffled-hash was
      // within noise on this suite, and SMJ's graceful spill is the safer
      // production default.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      // Broadcast threshold stays at Spark's 10 MB default. A 64 MB
      // small-branch value first measured 1.13× faster on the join-heavy
      // subset — then the committed plan dumps showed the plans are
      // IDENTICAL at both thresholds (every broadcastable side already
      // broadcasts at 10 MB at these sizes), so the "win" was pure
      // box-drift between sequential runs and was reverted
      // (OPTIMIZATION_r17.md §joins; the reason every accepted change in
      // r17 needs plan evidence, not just a timing delta).
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD", "10485760"))
  }
}
