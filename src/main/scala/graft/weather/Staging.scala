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
  *
  * The table's writes and reads live here: scan, incremental filter,
  * flatten, merge, the raw and staging writes behind the rename swap, and
  * the V1 readers. The versioned store the indexes and views publish
  * through is [[graft.ops.ChainIndex]].
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
    * snapshots mid-swap. A `<path>__lock` marker, taken through
    * [[graft.ops.CommitLock.withPublishLock]] (the lock every chain
    * publish takes too), makes the second publisher fail fast instead; it
    * is released on every exit path. A publisher that dies between acquire and
    * the finally (kill -9) leaves the marker behind — that is deliberate:
    * the next run must decide whether the dead writer's job is truly gone
    * before calling [[graft.ops.CommitLock.breakPublishLock]] (same
    * recover-then-retry contract the reference has with one dbt run at a
    * time per target).
    */
  def publishAtomic(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.CommitLock.withPublishLock(fs, path, "publish") {
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

  /** Forwarder to [[graft.ops.ChainIndex.readChainLatest]], where the
    * versioned store lives. It exists only because the pipeline benchmark
    * (`pipebench/`) compiles against this name; program code calls
    * ChainIndex.
    */
  def readChainLatest(spark: SparkSession, root: String, layer: String): DataFrame =
    graft.ops.ChainIndex.readChainLatest(spark, root, layer)

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
