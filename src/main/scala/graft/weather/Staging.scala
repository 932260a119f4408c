package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** stg_weather_raw: the reference's staging model (stg_weather_raw.sql:28-42)
  * re-expressed Spark-first.
  *
  * U1 triple-flatten = chained `explode` (a Catalyst Generate node per
  * level); P1/P2 json-path extraction = plain struct field access because
  * the read is schema-on-read. Document-level filters (S5 incremental) are
  * applied BEFORE the explodes — predicate pushdown stops at generators
  * (SURVEY.md §4 caveat), and the reference does the same (its incremental
  * filter sits in the pre-FLATTEN CTE, stg_weather_raw.sql:21-25).
  */
object Staging {

  /** S4 stage-scan of raw JSON docs from disk, exposing file metadata
    * (Snowflake METADATA$FILENAME / FILE_LAST_MODIFIED ↔ Spark `_metadata`).
    */
  def readRawJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(WeatherSchema.enrichedDoc).json(path)
      .select(
        col("_metadata.file_path").as("file_path"),
        col("_metadata.file_modification_time").as("file_modified"),
        col("*"))

  /** S5 incremental-scan: skip already-loaded files. The reference's
    * `METADATA$FILENAME NOT IN (SELECT file_path FROM {{this}})`
    * (stg_weather_raw.sql:21-25) as a left-anti join — equivalent because
    * file_path is never null (SURVEY.md §7.5); at scale the anti-join's
    * build side (distinct file paths) is tiny → broadcast.
    */
  def incrementalNew(newDocs: DataFrame, existing: DataFrame, key: String = "file_path"): DataFrame =
    newDocs.join(broadcast(existing.select(key).distinct()), Seq(key), "left_anti")

  /** U1 + P1/P2: docs (WeatherSchema.enrichedDoc + file_path [+ file_modified])
    * → one row per (file, parameter, coordinate, timestamp) reading.
    */
  def flatten(docs: DataFrame): DataFrame = {
    val withMod =
      if (docs.columns.contains("file_modified")) docs
      else docs.withColumn("file_modified", lit(null).cast(TimestampType))
    withMod
      .select(
        col("file_path"), col("file_modified"), col("country"), col("city"),
        col("weather.dateGenerated").cast(TimestampType).as("dateGenerated"),
        explode(col("weather.data")).as("param"))
      .select(
        col("file_path"), col("file_modified"), col("country"), col("city"), col("dateGenerated"),
        col("param.parameter").as("parameter"),
        explode(col("param.coordinates")).as("coord"))
      .select(
        col("file_path"), col("file_modified"), col("country"), col("city"), col("dateGenerated"),
        col("parameter"),
        col("coord.lat").cast(DoubleType).as("latitude"),
        col("coord.lon").cast(DoubleType).as("longitude"),
        explode(col("coord.dates")).as("reading"))
      .select(
        col("file_path"), col("file_modified"), col("country"), col("city"), col("dateGenerated"),
        col("parameter"), col("latitude"), col("longitude"),
        col("reading.date").cast(TimestampType).as("reading_datetime"),
        col("reading.value").as("reading_value"))
  }

  /** S6/S7: staging write — dedup-merge on the incremental unique_key
    * (file_path, parameter, reading_datetime — stg_weather_raw.sql:5),
    * clustered by reading date (cluster_by, :6) via date partitioning +
    * in-partition sort. At 100 TB this is the layout that gives the facts'
    * P4 time-window filter partition pruning.
    */
  def writeStaging(stg: DataFrame, path: String): Unit =
    stg
      .withColumn("reading_date", to_date(col("reading_datetime")))
      .repartition(col("reading_date"))
      .sortWithinPartitions("reading_datetime")
      .write.mode("overwrite").partitionBy("reading_date").parquet(path)

  /** S3 raw sink: hive-style country/city/run_date layout (the reference's
    * S3 key scheme, meteomatics_get_data.py:116) at the reference's OBJECT
    * granularity: one file per (location, run date) —
    * meteomatics_get_data.py:108 names each upload
    * weather_raw_{city}_{country}_{date}.json. The repartition gives each
    * (country, city, run) exactly one part file, which keeps file_path a
    * valid unique-key component downstream (SURVEY §1.2 note).
    */
  def writeRawByRun(docs: DataFrame, path: String): Unit = {
    val withRun = docs.withColumn("run_date",
      substring(col("weather.dateGenerated"), 1, 10))
    withRun
      .repartition(col("country"), col("city"), col("run_date"))
      .write.mode("overwrite")
      .partitionBy("country", "city", "run_date").json(path)
  }

  /** S6 incremental upsert on the staging unique_key (file_path, parameter,
    * reading_datetime — stg_weather_raw.sql:5): union existing + incoming
    * and keep the freshest `file_modified` per key (the W1 shape again).
    * This reproduces dbt's incremental merge semantics without a table
    * format; with Delta/Iceberg it would lower to a MERGE. One shuffle on
    * the unique key over existing ∪ incoming: every run rewrites the WHOLE
    * staging table, so the cost grows with the history, not the batch.
    * Touching only the affected date partitions is not built (ROADMAP
    * direction 2).
    */
  def mergeStaging(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("file_path"), col("parameter"), col("reading_datetime"))
      .orderBy(col("file_modified").desc_nulls_last)
    existing.unionByName(incoming)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** THE cross-process writer-exclusion seam — every publish variant
    * (rename-swap, snapshot, delta) takes its lock through this one hook,
    * and the acquire/release PRIMITIVE is the pluggable
    * [[CommitLockProvider]] strategy ([[CommitLock.provider]]): the
    * default is HDFS/local-FS atomic create-if-absent; the S3A
    * check-then-act hazard and its conditional-PUT upgrade are documented
    * on the trait and pinned executable by StagingSpec's race tests.
    * Release is best-effort in the caller's finally; a writer that dies
    * between acquire and release leaves the lock behind DELIBERATELY —
    * see [[breakPublishLock]] for the recovery contract.
    */
  private def withPublishLock[A](fs: org.apache.hadoop.fs.FileSystem,
                                 path: String, what: String)(body: => A): A = {
    val lock = new org.apache.hadoop.fs.Path(path + "__lock")
    val provider = CommitLock.provider
    if (!provider.tryAcquire(fs, lock))
      throw new java.io.IOException(
        s"another $what to $path is in progress ($lock exists); " +
          "if its writer is dead, call breakPublishLock first")
    try body finally provider.release(fs, lock)
  }

  /** S6 crash-safe publish: two-phase write-temp + FS rename swap — the
    * durability shape of the reference's transactional MERGE
    * (stg_weather_raw.sql:3-7) without a table format. The new snapshot is
    * fully written to `<path>__tmp` first, so EVERY Spark job failure
    * (task retry exhaustion, OOM, kill -9 mid-write) leaves the live table
    * untouched; the swap itself is two directory renames (atomic on HDFS
    * and local FS). The only non-atomic window is between those renames —
    * a crash there leaves the retired snapshot at `<path>__old`, which
    * [[recoverPublished]] restores on the next run — and publishAtomic
    * itself re-runs that recovery first, so a rename-window leftover can
    * never be deleted as stale. With Delta/Iceberg the body becomes a
    * metadata-only commit and callers are unchanged.
    *
    * SINGLE WRITER ENFORCED: the tmp/old staging dirs are per-path, so two
    * concurrent publishers to the same path would delete each other's
    * snapshots mid-swap. A `<path>__lock` marker (created atomically with
    * overwrite=false) makes the second publisher fail fast instead; it is
    * released on every exit path. A publisher that dies between acquire and
    * the finally (kill -9) leaves the marker behind — that is deliberate:
    * the next run must decide whether the dead writer's job is truly gone
    * before calling [[breakPublishLock]] (same recover-then-retry contract
    * the reference has with one dbt run at a time per target).
    */
  def publishAtomic(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withPublishLock(fs, path, "publish") {
      recoverPublished(spark, path) // a crashed prior swap's __old is the only copy — restore, don't delete
      val tmp = new Path(path + "__tmp")
      val old = new Path(path + "__old")
      fs.delete(tmp, true)
      write(tmp.toString) // all write failures land here; live table untouched
      fs.delete(old, true)
      if (fs.exists(target) && !fs.rename(target, old))
        throw new java.io.IOException(s"cannot retire current snapshot $target")
      if (!fs.rename(tmp, target)) {
        if (fs.exists(old)) fs.rename(old, target) // roll back to prior snapshot
        throw new java.io.IOException(s"cannot publish $tmp -> $target")
      }
      fs.delete(old, true)
      spark.catalog.refreshByPath(path)
    }
  }

  /** Clears a lock left by a publisher that died between acquiring
    * `<path>__lock` and its finally block. Only call once the dead
    * writer's Spark job is confirmed gone. Returns true if a lock was
    * removed.
    */
  def breakPublishLock(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val lock = new Path(path + "__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lock, false)
  }

  /** Recovery for [[publishAtomic]]'s rename window: if a crash left no
    * live table but a retired snapshot exists, restore it. Returns true if
    * a restore happened; throws if the restore rename fails (the retired
    * snapshot is the only surviving copy — silently reporting "empty
    * table" would drop all previously staged rows from the next merge).
    * Idempotent; call before reading on startup.
    */
  def recoverPublished(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path + "__old")
    if (!fs.exists(target) && fs.exists(old)) {
      if (!fs.rename(old, target))
        throw new java.io.IOException(
          s"cannot restore retired snapshot $old -> $target; staged data would be lost")
      true
    } else false
  }

  /** [[writeStaging]] behind the two-phase swap: the staging table stays
    * readable at its previous snapshot until the new one is complete.
    */
  def writeStagingAtomic(stg: DataFrame, path: String): Unit =
    publishAtomic(stg.sparkSession, path)(p => writeStaging(stg, p))

  // -----------------------------------------------------------------
  // S6+ snapshot-versioned publish — minimal MVCC ACID without a table
  // format dependency. The reference gets MERGE + snapshot isolation
  // free from Snowflake (stg_weather_raw.sql:3-7); publishAtomic above
  // gives single-writer crash safety but a reader overlapping the
  // rename swap can observe the table mid-swap. This variant gives
  // CONCURRENT readers snapshot isolation and time travel:
  //
  //   <root>/snap_<N>/      immutable data directory, fully written first
  //   <root>/_commit_<N>    empty marker; its CREATE is the atomic commit
  //
  // Readers resolve max committed N and read snap_N — an immutable dir a
  // later publish never touches, so a reader holding version N is
  // isolated from the writer publishing N+1 (and can time-travel to any
  // retained version). Writers serialize on the same __lock contract as
  // publishAtomic. A writer crash before the marker leaves an orphan
  // snap dir that the next publish of that version deletes and rewrites;
  // the commit point itself is one atomic create. GC ([[gcChains]])
  // deletes beyond-retention MARKERS first — new readers can no longer
  // resolve them — then the data dirs; like Delta/Iceberg VACUUM,
  // retention must exceed the longest reader (the documented contract,
  // not a new invention). At 100 TB the snapshot dirs hold partitioned
  // parquet and the markers are O(1) metadata — the same shape, zero
  // extra data copies beyond what the merge rewrites.

  private def snapDir(root: String, v: Long): String = f"$root/snap_$v%06d"
  private def commitMarker(root: String, v: Long) =
    new org.apache.hadoop.fs.Path(f"$root/_commit_$v%06d")

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val rootP = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootP)) Seq.empty
    else fs.listStatus(rootP).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_commit_"))
      .map(_.stripPrefix("_commit_").toLong).sorted
  }

  /** Highest committed snapshot version, None for an empty table. */
  def currentSnapshotVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersions(spark, root).lastOption

  /** Publishes `write`'s output as the next snapshot version and returns
    * it. The marker create is the commit point: every failure before it
    * leaves the table at its previous version with only an orphan data
    * dir to clean up (which re-publishing overwrites).
    */
  def publishSnapshot(spark: SparkSession, root: String)(write: String => Unit): Long =
    publishVersion(spark, root, delta = false)(write)

  /** The one publish body behind [[publishSnapshot]] and
    * [[publishSnapshotDelta]]: lock, next version, clear a pre-commit
    * orphan, write, tag a delta, create the commit marker.
    */
  private def publishVersion(spark: SparkSession, root: String, delta: Boolean)(
      write: String => Unit): Long = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, root)
    if (!delta) fs.mkdirs(new Path(root))
    withPublishLock(fs, root, "snapshot publish") {
      val cur = currentSnapshotVersion(spark, root)
      if (delta && cur.isEmpty)
        throw new java.io.IOException(s"no committed snapshot under $root to extend with a delta")
      val next = cur.getOrElse(-1L) + 1
      val data = new Path(snapDir(root, next))
      fs.delete(data, true) // orphan from a pre-commit crash of this version
      write(data.toString)
      if (delta) fs.create(deltaTag(root, next), false).close()
      fs.create(commitMarker(root, next), false).close()
      next
    }
  }

  // -----------------------------------------------------------------
  // S6v delta chains — the append story for snapshot-versioned MVs,
  // closing the round-13 carve-out ("appends mutate the current
  // version's dir"): an append now publishes a batch-sized DELTA
  // version instead of writing files into a committed snapshot, so
  // every committed version is truly immutable (time travel to N always
  // reproduces N) and a multi-layer append commits atomically with one
  // marker. Layout: each version dir holds named LAYER subdirs
  // (`snap_N/cells`, `snap_N/pairs`, …); a delta version carries a
  // `_delta` tag file inside its dir. Readers resolve the CHAIN — the
  // latest committed FULL version plus every committed delta after
  // it — and union a layer across the chain dirs that carry it
  // (append-shaped layers) or read it from the newest dir that does
  // (rewrite-shaped layers like CC labels, which every version rewrites
  // in full). This is the Delta-Lake full+delta file story with the
  // commit log spelled as one marker file per version; at 100 TB a
  // daily append stays batch-sized and the full refresh is the periodic
  // compaction that starts a new chain. GC is chain-aware
  // ([[gcChains]]): dropping an old delta would silently lose rows, so
  // retention is counted in whole chains, never raw versions.

  private def deltaTag(root: String, v: Long) =
    new org.apache.hadoop.fs.Path(s"${snapDir(root, v)}/_delta")

  private def isDeltaVersion(spark: SparkSession, root: String, v: Long): Boolean =
    fsOf(spark, root).exists(deltaTag(root, v))

  /** Publishes `write`'s output as a DELTA version on the current chain.
    * Same lock + next-version + commit-marker protocol as
    * [[publishSnapshot]]; the `_delta` tag lands inside the data dir
    * before the marker, so a crash anywhere leaves only an uncommitted
    * orphan the next publish of that version overwrites. Requires an
    * existing committed version to extend.
    */
  def publishSnapshotDelta(spark: SparkSession, root: String)(write: String => Unit): Long =
    publishVersion(spark, root, delta = true)(write)

  /** The current chain: the latest committed FULL version and every
    * committed delta after it, oldest first. Throws on an empty table or
    * a corrupt one (deltas with no full base — only possible by deleting
    * markers by hand; gcChains never strands a delta).
    */
  def chainVersions(spark: SparkSession, root: String): Seq[Long] = {
    val vs = committedVersions(spark, root)
    if (vs.isEmpty) throw new java.io.IOException(s"no committed snapshot under $root")
    val lastFull = vs.lastIndexWhere(v => !isDeltaVersion(spark, root, v))
    if (lastFull < 0)
      throw new java.io.IOException(s"no committed FULL snapshot under $root (orphan deltas)")
    vs.drop(lastFull)
  }

  /** Validated data dir of a specific committed version: time travel is
    * a parquet read of this dir (or of one of its layer subdirs).
    */
  def snapshotDirAt(spark: SparkSession, root: String, v: Long): String = {
    if (!fsOf(spark, root).exists(commitMarker(root, v)))
      throw new java.io.IOException(s"snapshot $v of $root is not committed (or was GC'd)")
    snapDir(root, v)
  }

  // Pinned chain resolution: a reader that needs MULTIPLE layers of the
  // same chain (IVF centroids + cells, NSW adj + vecs) must resolve the
  // committed marker set ONCE and derive every layer from it — two
  // separate chain resolutions can straddle a concurrent publish and pair
  // one chain's quantizer with another chain's assignments (wrong data,
  // no error). `chainDirs` is the pin; the *In readers consume it, and a
  // family's layer table decides which of them reads each layer
  // ([[graft.ops.ChainIndex.Family.read]]). The layer name "" is the
  // version dir itself (a single-layer table).
  //
  // Reader-vs-GC contract, stated completely: [[requirePinnedLive]]
  // catches a GC that lands between the pin and layer RESOLUTION (loud
  // error, no silent row loss). A GC landing between resolution and the
  // Spark ACTION can still yank files mid-scan — that surfaces as a loud
  // FileNotFoundException, never as silently missing rows, and it is the
  // standard VACUUM retention contract (identical to Delta/Iceberg):
  // retention (`gcChains` keepChains) must exceed the longest-running
  // reader. A deployment tunes retention to its slowest consumer exactly
  // as it would VACUUM horizons.

  /** The current chain's data dirs, oldest first — ONE marker-set
    * resolution to derive every layer read from.
    */
  def chainDirs(spark: SparkSession, root: String): Seq[String] =
    chainVersions(spark, root).map(v => snapDir(root, v))

  /** A pinned version dir that disappeared was GC'd AFTER the pin —
    * silently skipping it would drop that version's rows from chain
    * reads with no error (the one silent-loss mode pinning could
    * introduce vs marker re-resolution). Fail loudly instead: this is a
    * retention-contract violation (retention must exceed the longest
    * reader), same as a GC yanking a live scan, but caught at resolution.
    */
  private def requirePinnedLive(fs: org.apache.hadoop.fs.FileSystem, dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      if (!fs.exists(new org.apache.hadoop.fs.Path(d)))
        throw new java.io.IOException(
          s"pinned chain dir $d was GC'd after the pin — retention must exceed the longest reader")
    }

  /** The pinned dirs' `layer` dirs that exist, oldest first. */
  private def carriersIn(spark: SparkSession, dirs: Seq[String], layer: String): Seq[String] = {
    require(dirs.nonEmpty, "empty pinned chain")
    val fs = fsOf(spark, dirs.head)
    requirePinnedLive(fs, dirs)
    dirs.map(d => if (layer.isEmpty) d else s"$d/$layer")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
  }

  private def layerDirsIn(spark: SparkSession, dirs: Seq[String], layer: String): Seq[String] = {
    val ds = carriersIn(spark, dirs, layer)
    if (ds.isEmpty)
      throw new java.io.IOException(s"no committed chain version carries layer $layer")
    ds
  }

  /** True when at least one pinned dir carries `layer` — for layers that
    * only appear once the first append lands (a fresh full refresh has
    * no batch archive yet).
    */
  private[graft] def chainHasLayerIn(spark: SparkSession, dirs: Seq[String], layer: String): Boolean =
    carriersIn(spark, dirs, layer).nonEmpty

  /** One layer dir, its schema memoized per (chain root, layer): every
    * version of one root's layer is written by the same writer with one
    * schema (the S6v protocol), so the snap_ component is stripped and
    * all versions share the entry; roots are nonce-unique per process
    * (ArtifactRoots).
    */
  private def readLayerDir(spark: SparkSession, dir: String): DataFrame = {
    val i = dir.lastIndexOf("/snap_")
    val key = if (i > 0) dir.take(i) + dir.drop(i).replaceAll("^/snap_[0-9]+", "") else dir
    graft.Tables.parquetSchemaMemo(spark, dir, key)
  }

  /** Append-shaped layer read: the union of `layer` across every pinned
    * dir that carries it (the full base + each delta batch). Dirs are
    * read separately and unioned by name — hive-partitioned layers keep
    * per-scan partition pruning, and no common basePath is required.
    */
  private[graft] def readChainIn(spark: SparkSession, dirs: Seq[String], layer: String): DataFrame =
    layerDirsIn(spark, dirs, layer).map(readLayerDir(spark, _)).reduce(_ unionByName _)

  /** Rewrite-shaped layer read: `layer` from the NEWEST pinned dir that
    * carries it (every mutation rewrites such layers in full — CC
    * labels, centroid tables).
    */
  private[graft] def readChainLatestIn(spark: SparkSession, dirs: Seq[String], layer: String): DataFrame =
    readLayerDir(spark, layerDirsIn(spark, dirs, layer).last)

  /** [[readChainLatestIn]] on the current chain of `root`; `layer` ""
    * reads the newest version of a single-layer table.
    */
  def readChainLatest(spark: SparkSession, root: String, layer: String): DataFrame =
    readChainLatestIn(spark, chainDirs(spark, root), layer)

  /** Chain-aware GC: retains the newest `keepChains` whole chains (a
    * full version plus its deltas) and deletes everything older —
    * markers first, then data. Counting retention in chains is what
    * keeps every retained read correct: dropping one old delta under
    * raw-version retention would silently lose that batch's rows from
    * chain reads. On a table with no deltas every version is its own
    * chain, so this keeps exactly the newest `keepChains` versions.
    */
  def gcChains(spark: SparkSession, root: String, keepChains: Int = 2): Seq[Long] = {
    require(keepChains >= 1, "must retain at least the current chain")
    val vs = committedVersions(spark, root)
    val fullIdxs = vs.zipWithIndex.collect {
      case (v, i) if !isDeltaVersion(spark, root, v) => i
    }
    if (fullIdxs.length <= keepChains) return Seq.empty
    val cutoff = fullIdxs(fullIdxs.length - keepChains) // first retained version index
    val fs = fsOf(spark, root)
    val dropped = vs.take(cutoff)
    dropped.foreach { v =>
      fs.delete(commitMarker(root, v), false) // new readers can no longer resolve it
      fs.delete(new org.apache.hadoop.fs.Path(snapDir(root, v)), true)
    }
    dropped
  }

  /** V1 schema gate, FAILFAST flavor: any malformed document raises and
    * halts the load — the pydantic behavior (reference
    * helper_validate_response.py:36-43).
    */
  def readStrict(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(WeatherSchema.enrichedDoc)
      .option("mode", "FAILFAST").json(path)

  /** V1 schema gate, side-output flavor: malformed documents land in
    * `_corrupt_record` instead of failing, so good rows load and bad rows
    * can be counted/quarantined — the scalable variant of the gate.
    */
  def readWithCorrupt(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(WeatherSchema.enrichedDoc.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
}
