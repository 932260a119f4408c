package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end FILE-based ingest (round-2 verdict item 4): exercises the raw
  * JSON sink (S3, hive country/city layout = the reference's S3 key scheme,
  * meteomatics_get_data.py:116), the stage scan with real file metadata
  * (S4, `_metadata.file_path` ↔ Snowflake METADATA$FILENAME,
  * stg_weather_raw.sql:13-14), the file-level incremental anti-join on
  * those real paths (S5, stg_weather_raw.sql:21-25), and the U1 flatten —
  * all against files actually written to and read back from disk.
  *
  * Layout: country=<c>/city=<c>/run_date=<d>/part-*.json — one file per
  * (city, run), the reference's S3 object granularity. The write
  * repartitions by the partition columns so each directory gets exactly
  * one file (deterministic file counts for the oracle).
  *
  * The oracle reads the same files via DuckDB read_json(filename=true,
  * hive_partitioning=true) — possible because query and oracle run on one
  * machine; the path is fixed. Output is integer counts only (no float
  * round-trip risk through JSON).
  */
object FileIngest {

  val rawRoot = "/tmp/graft_wx_raw"

  /** Payload schema = enrichedDoc minus the partition columns (country,
    * city are carried by the directory layout, not the JSON body). */
  private val payloadSchema: StructType =
    StructType(WeatherSchema.enrichedDoc.fields.filterNot(f => Set("city", "country")(f.name)))

  def fileIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // S3 sink: write the 9 synthetic docs (3 cities × 3 runs) hive-style;
    // the REAL path comes back via _metadata below
    Staging.writeRawByRun(WeatherGen.docs(spark).drop("file_path"), rawRoot)

    // S4 stage scan: schema-on-read + REAL file metadata + partition cols.
    val raw = spark.read.schema(payloadSchema).json(rawRoot)
      .select(
        col("_metadata.file_path").as("file_path"),
        col("country"), col("city"),
        col("run_date").cast("string").as("run_date"),
        col("latitude"), col("longitude"), col("weather"))

    // S5 incremental: run_date=2025-03-26 is "already loaded"; anti-join on
    // the real on-disk paths keeps only genuinely new files.
    val existing = raw.filter($"run_date" === "2025-03-26").select($"file_path")
    val fresh = Staging.incrementalNew(raw, existing)
    val newCounts = fresh.groupBy($"country", $"city")
      .agg(countDistinct($"file_path").as("n_new_files"))

    // U1 flatten on the read-back docs → reading counts per location.
    val readings = Staging.flatten(raw.withColumn("file_modified", lit(null).cast("timestamp")))
    val readCounts = readings.groupBy($"country", $"city")
      .agg(count(lit(1)).as("n_readings"))

    raw.groupBy($"country", $"city")
      .agg(
        countDistinct($"file_path").as("n_files"),
        count(lit(1)).as("n_docs"))
      .join(readCounts, Seq("country", "city"))
      .join(newCounts, Seq("country", "city"))
      .orderBy($"country", $"city")
  }

  val fileIngestSql: String =
    """WITH raw AS (
      |  SELECT filename AS file_path, country, city, CAST(run_date AS VARCHAR) AS run_date, weather
      |  FROM read_json('/tmp/graft_wx_raw/*/*/*/*.json', filename=true, hive_partitioning=true)),
      |counts AS (
      |  SELECT country, city,
      |    COUNT(DISTINCT file_path) AS n_files,
      |    COUNT(*) AS n_docs,
      |    CAST(SUM(list_sum(list_transform(weather.data, p ->
      |      list_sum(list_transform(p.coordinates, c -> len(c.dates)))))) AS BIGINT) AS n_readings
      |  FROM raw GROUP BY country, city),
      |fresh AS (
      |  SELECT country, city, COUNT(DISTINCT file_path) AS n_new_files
      |  FROM raw
      |  WHERE file_path NOT IN (SELECT file_path FROM raw WHERE run_date = '2025-03-26')
      |  GROUP BY country, city)
      |SELECT country, city, n_files, n_docs, n_readings, n_new_files
      |FROM counts JOIN fresh USING (country, city)
      |ORDER BY country, city""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wx_file_ingest" -> (fileIngest _))

  val oracles: Map[String, String] = Map(
    "wx_file_ingest" -> fileIngestSql)
}
