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
  * sized from bytes (OPTIMIZATION_r16.md; re-measure with `graft.Diag
  * profile`). At 100 TB a core-count constant is far too LOW: partitions
  * should land in the 100 MB–1 GB range (guide §2.2), which the same
  * bytes-derived formula gives when the input is big.
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
  * These settings are applied on the session builder, so they override
  * `--conf` values passed to `spark-submit`; the driver's low-core re-runs,
  * A/B runs and cluster deployments pin them through the environment:
  *   SPARK_GRAFT_SHUFFLE_PARTS — explicit partition count (skips the formula)
  *   SPARK_GRAFT_AQE           — "1"/"0" forces AQE on/off
  *   SPARK_GRAFT_AQE_MIN_BYTES — adaptive threshold (default 1 GiB)
  * [[inputBytes]] measures any Hadoop filesystem the classpath can reach;
  * where it cannot (no connector, no access) it measures 0, which selects
  * the large branch at 2·cpus partitions — such a run pins the first two.
  */
object Tuning {

  /** Total bytes of every file under `dir`, on any Hadoop filesystem
    * (`file://`, `hdfs://`, `s3a://` with its connector on the classpath;
    * a path without a scheme is local), configured by core-site.xml plus
    * any `spark.hadoop.*` confs given to spark-submit. On the local
    * filesystem the checksum (`.crc`) files count too, as they always have
    * here, so a local dataset keeps the partition count it had. 0 when
    * unreadable — callers fall back to the conservative (cluster-shaped)
    * defaults.
    */
  def inputBytes(dir: String): Long =
    try {
      // the session does not exist yet: take the `spark.hadoop.*` settings
      // (credentials, endpoints, nameservices) from the `spark.*` system
      // properties, where spark-submit puts every `--conf`
      val conf = new org.apache.hadoop.conf.Configuration()
      new org.apache.spark.SparkConf().getAllWithPrefix("spark.hadoop.")
        .foreach { case (k, v) => conf.set(k, v) }
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf) match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case f => f
      }
      fs.getContentSummary(p).getLength
    } catch { case _: Throwable => 0L }

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
      // The three values below are Spark's defaults, kept explicit: each
      // was A/B'd against an alternative and kept (OPTIMIZATION_r17.md).
      // parallelismFirst = true: false let AQE coalesce a ~0.5 GB window
      // shuffle into a handful of 128m partitions and starve a 32-core box
      // on the 0.9 GiB input `graft.Diag replicate` synthesizes (ev_session
      // 56/41 s with false vs 20.9 s with true; §large-branch).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // SMJ preferred: shuffled-hash was within noise, SMJ spills
      // gracefully (§joins).
      .config("spark.sql.join.preferSortMergeJoin", "true")
      // 10 MB broadcast threshold: at 64 MB the plan dumps were identical,
      // so a measured 1.13× "win" was box drift and was reverted (§joins).
      .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}
