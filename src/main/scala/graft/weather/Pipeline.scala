package graft.weather

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Ckpt, Metrics, Par}

/** The reference's full daily run, end to end, as ONE driver program
  * (SURVEY.md §3: both Airflow DAGs + the dbt ref() graph collapse to
  * function composition — no XCom, no Celery, no warehouse round-trips).
  *
  * extract (fetch → validate → S3 JSON)   → writeRawByRun(docs)
  * stg_weather_raw (scan+incremental+flatten+merge) → stageIncremental
  * dims (full rebuild) + facts (append)   → buildMarts
  *
  * Idempotence contract: rerunning with the same raw docs ingests zero new
  * files (S5) and leaves staging unchanged (S6 unique-key merge); facts are
  * append-only like the reference (fact_*.sql:1 has no unique_key — rerun
  * duplication is faithful, see SURVEY §7.5).
  */
object Pipeline {

  case class Paths(rawRoot: String, stagingRoot: String, martsRoot: String)

  /** Reads existing staging, None when there is none yet. Only a missing
    * table, or one without data files, counts as the first run; every
    * other read failure — corrupt or truncated part files, a column lost
    * to schema drift — propagates, because the caller overwrites staging
    * with this table merged with the new files, and an unreadable table
    * read as empty would drop every earlier day.
    */
  private def existingStaging(spark: SparkSession, path: String): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasDataFile: Boolean = {
      val files = fs.listFiles(root, true)
      var found = false
      while (!found && files.hasNext) {
        val n = files.next().getPath.getName
        found = !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
    if (!fs.exists(root) || !hasDataFile) None
    else Some(spark.read.parquet(path))
  }

  /** Stable logical file identity = what the reference's S3 filename
    * encodes (weather_raw_{city}_{country}_{date}.json,
    * meteomatics_get_data.py:108): (country, city, run date). Spark part
    * files carry write UUIDs, so the PHYSICAL path is not rerun-stable —
    * the incremental key must be the logical one.
    */
  private def fileKey(dateGenerated: Column): Column =
    concat_ws("/", col("country"), col("city"), substring(dateGenerated.cast("string"), 1, 10))

  /** [[fileKey]] of a staging row. */
  private def withFileKey(stg: DataFrame): DataFrame =
    stg.withColumn("file_key", fileKey(col("dateGenerated")))

  /** [[fileKey]] of a raw document. */
  private val docFileKey: Column = fileKey(col("weather.dateGenerated").cast("timestamp"))

  /** A metric of `obs`, whose write has returned. The optimizer drops an
    * observation over an input it proves empty (an empty drop), and the
    * observation then completes with no metrics: that reads as `empty`.
    */
  private def observed[A](obs: Observation, metric: String, empty: A): A =
    obs.get.getOrElse(metric, empty).asInstanceOf[A]

  /** Extract + staging layers for one run. Returns the merged staging
    * frame (also persisted to paths.stagingRoot; a local checkpoint the
    * caller frees with `Ckpt.free` once the marts are built) and ingest
    * stats.
    *
    * Five jobs, no count action: the raw landing and the read of the
    * staged `file_key` set touch disjoint roots and run concurrently
    * (`Par.all`); `files_seen`/`files_new` come from an observation
    * (`collect_set` of this drop's logical file keys) on the raw write,
    * and `staging_rows` plus the null-key/null-value counters from a
    * `Metrics.withQualityMetrics` observation on the staging write. Each
    * observation is read only after its write succeeded.
    */
  def stageIncremental(spark: SparkSession, docs: DataFrame, paths: Paths): (DataFrame, Map[String, Long]) = {
    // S3: land the raw docs in the reference's key layout at its object
    // granularity (one file per location × run — merge-key precondition);
    // the drop's logical files are observed on the way
    val dropObs = Observation("drop_files")
    val landed = docs.observe(dropObs, collect_set(docFileKey).as("keys"))
    var existing: Option[DataFrame] = None
    var staged = Set.empty[String]
    Par.all(
      () => Staging.writeRawByRun(landed, paths.rawRoot),
      () => {
        // restore a half-swapped snapshot from a previous crashed run
        // BEFORE reading the current staging state
        Staging.recoverPublished(spark, paths.stagingRoot)
        existing = existingStaging(spark, paths.stagingRoot)
        // O(files) rows, read once; taken before the overwrite below
        // invalidates `existing`'s input files
        staged = existing.fold(Set.empty[String])(
          _.select("file_key").distinct().collect().map(_.getString(0)).toSet)
      })
    // counts are of LOGICAL files (country/city/run date — the reference's
    // S3 object granularity)
    val dropKeys = observed(dropObs, "keys", Seq.empty[String]).toSet
    val newKeys = dropKeys -- staged
    // S4: scan with real file metadata; V1 gate via the declared schema.
    // S5: file-level incremental — only logical files not already staged
    val freshDocs = Staging.readRawJson(spark, paths.rawRoot)
      .filter(docFileKey.isin(newKeys.toSeq: _*))
    val stgNew = withFileKey(Staging.flatten(freshDocs))
    // partition column comes back — align to the staging column set
    val prior = existing.fold(stgNew.limit(0))(_.select(stgNew.columns.map(col).toIndexedSeq: _*))
    // S6: unique-key merge, freshest file_modified wins
    val merged = Staging.mergeStaging(prior, stgNew)
      .localCheckpoint(true) // cut lineage: the overwrite below truncates our input
    // S7: clustered write (date layout → P4 partition pruning downstream)
    // behind the two-phase swap — a crash mid-write keeps the old snapshot
    val quality = Observation("staging_quality")
    try Staging.writeStagingAtomic(
      Metrics.withQualityMetrics(merged, quality, "reading_datetime", "reading_value"),
      paths.stagingRoot)
    catch { case NonFatal(e) => Ckpt.free(merged); throw e }
    val stats = Map(
      "files_seen" -> dropKeys.size.toLong,
      "files_new" -> newKeys.size.toLong,
      "staging_rows" -> observed(quality, "n_rows", 0L),
      "staging_null_keys" -> observed(quality, "n_null_keys", 0L),
      "staging_null_values" -> observed(quality, "n_null_values", 0L))
    (merged, stats)
  }

  /** Marts layer: dims fully rebuilt (reference dim_*.sql materialization),
    * facts appended (fact_*.sql, no unique_key). `now` parameterizes the
    * reference's current_date() (fact_*.sql:10-11).
    *
    * One write job per output and no count action: each of the 6 outputs
    * counts its rows through its own `Observation` on its write, the six
    * writes run concurrently (`Par.all`), and the counts are read only
    * after every write succeeded. When one write fails, the others still
    * run to the end before its failure is rethrown, so other outputs may
    * land: dims are rebuilt, and the facts that landed keep their batch —
    * facts are append-only, exactly as a sequential run that failed after
    * its first fact left them.
    */
  def buildMarts(spark: SparkSession, stg: DataFrame, paths: Paths, now: Column): Map[String, Long] = {
    val ranked = Marts.ranked(stg)
    val facts = Seq(
      ("fact_weather_params_history", false, true), ("fact_weather_params_forecast", false, false),
      ("fact_sun_times_history", true, true), ("fact_sun_times_forecast", true, false))
    val outputs =
      Seq(("dim_location", Marts.dimLocation(stg), "overwrite"),
        ("dim_weather_condition", Marts.dimCondition(stg), "overwrite")) ++
      facts.map { case (name, sun, hist) =>
        (name, Marts.fact(ranked, sunTimes = sun, history = hist, now), "append")
      }
    val writes = outputs.map { case (name, df, mode) =>
      val rows = Observation(name)
      val out = df.observe(rows, count(lit(1)).as("rows"))
      (name, rows, () => out.write.mode(mode).parquet(s"${paths.martsRoot}/$name"))
    }
    Par.all(writes.map(_._3): _*)
    writes.map { case (name, rows, _) => name -> observed(rows, "rows", 0L) }.toMap
  }

  /** One daily run, both layers; frees the staging checkpoint on every
    * exit path.
    */
  def runDaily(spark: SparkSession, docs: DataFrame, paths: Paths, now: Column): Map[String, Long] = {
    val (merged, ingest) = stageIncremental(spark, docs, paths)
    try ingest ++ buildMarts(spark, merged, paths, now)
    finally Ckpt.free(merged)
  }
}
