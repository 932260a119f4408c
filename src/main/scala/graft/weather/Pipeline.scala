package graft.weather

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Reads existing staging. Only a missing table, or one without data
    * files, counts as the first run (an empty frame with the staging
    * schema); every other read failure — corrupt or truncated part files,
    * a column lost to schema drift — propagates, because the caller
    * overwrites staging with this frame merged with the new files, and an
    * unreadable table read as empty would drop every earlier day.
    */
  private def existingStaging(spark: SparkSession, path: String, like: DataFrame): DataFrame = {
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
    if (!fs.exists(root) || !hasDataFile) like.limit(0)
    // partition column comes back — align to the staging column set
    else spark.read.parquet(path).select(like.columns.map(col).toIndexedSeq: _*)
  }

  /** Stable logical file identity = what the reference's S3 filename
    * encodes (weather_raw_{city}_{country}_{date}.json,
    * meteomatics_get_data.py:108): (country, city, run date). Spark part
    * files carry write UUIDs, so the PHYSICAL path is not rerun-stable —
    * the incremental key must be the logical one.
    */
  private def withFileKey(df: DataFrame): DataFrame =
    df.withColumn("file_key",
      concat_ws("/", col("country"), col("city"),
        substring(col("dateGenerated").cast("string"), 1, 10)))

  /** Extract + staging layers for one run. Returns the merged staging
    * frame (also persisted to paths.stagingRoot) and ingest stats.
    */
  def stageIncremental(spark: SparkSession, docs: DataFrame, paths: Paths): (DataFrame, Map[String, Long]) = {
    // S3: land the raw docs in the reference's key layout at its object
    // granularity (one file per location × run — merge-key precondition)
    Staging.writeRawByRun(docs, paths.rawRoot)
    // S4: scan with real file metadata; V1 gate via the declared schema
    val raw = Staging.readRawJson(spark, paths.rawRoot)
      .withColumn("dateGenerated", col("weather.dateGenerated").cast("timestamp"))
    val stgAll = withFileKey(Staging.flatten(raw.drop("dateGenerated")))
    // restore a half-swapped snapshot from a previous crashed run BEFORE
    // reading the current staging state
    Staging.recoverPublished(spark, paths.stagingRoot)
    val existing = existingStaging(spark, paths.stagingRoot, stgAll)
    // S5: file-level incremental — only logical files not already staged
    val freshDocs = Staging.incrementalNew(
      withFileKey(raw), existing.select("file_key").distinct(), key = "file_key")
    val stgNew = withFileKey(Staging.flatten(freshDocs.drop("dateGenerated", "file_key")))
    // counts are of LOGICAL files (country/city/run date — the reference's
    // S3 object granularity) and MUST be taken before the overwrite below
    // invalidates `existing`'s input files
    val filesSeen = withFileKey(raw).select("file_key").distinct().count()
    val filesNew = freshDocs.select("file_key").distinct().count()
    // S6: unique-key merge, freshest file_modified wins
    val merged = Staging.mergeStaging(existing, stgNew)
      .localCheckpoint(true) // cut lineage: the overwrite below truncates our input
    // S7: clustered write (date layout → P4 partition pruning downstream)
    // behind the two-phase swap — a crash mid-write keeps the old snapshot
    Staging.writeStagingAtomic(merged, paths.stagingRoot)
    val stats = Map(
      "files_seen" -> filesSeen,
      "files_new" -> filesNew,
      "staging_rows" -> merged.count())
    (merged, stats)
  }

  /** Marts layer: dims fully rebuilt (reference dim_*.sql materialization),
    * facts appended (fact_*.sql, no unique_key). `now` parameterizes the
    * reference's current_date() (fact_*.sql:10-11).
    */
  def buildMarts(spark: SparkSession, stg: DataFrame, paths: Paths, now: Column): Map[String, Long] = {
    val dimLoc = Marts.dimLocation(stg)
    val dimCond = Marts.dimCondition(stg)
    dimLoc.write.mode("overwrite").parquet(s"${paths.martsRoot}/dim_location")
    dimCond.write.mode("overwrite").parquet(s"${paths.martsRoot}/dim_weather_condition")
    val ranked = Marts.ranked(stg)
    val facts = Seq(
      ("fact_weather_params_history", false, true), ("fact_weather_params_forecast", false, false),
      ("fact_sun_times_history", true, true), ("fact_sun_times_forecast", true, false))
    val counts = facts.map { case (name, sun, hist) =>
      val f = Marts.fact(ranked, sunTimes = sun, history = hist, now)
      f.write.mode("append").parquet(s"${paths.martsRoot}/$name")
      name -> f.count()
    }.toMap
    counts ++ Map(
      "dim_location" -> dimLoc.count(),
      "dim_weather_condition" -> dimCond.count())
  }

  /** One daily run, both layers. */
  def runDaily(spark: SparkSession, docs: DataFrame, paths: Paths, now: Column): Map[String, Long] = {
    val (merged, ingest) = stageIncremental(spark, docs, paths)
    ingest ++ buildMarts(spark, merged, paths, now)
  }
}
