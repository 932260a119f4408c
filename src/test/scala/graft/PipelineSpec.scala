package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.weather.{Pipeline, WeatherGen}

/** The collapsed daily pipeline (SURVEY §3): incremental reruns skip
  * already-landed logical files, staging merges idempotently, dims rebuild,
  * facts append — the reference's two DAGs in one call.
  */
class PipelineSpec extends SparkSpec {

  test("daily run is incremental across reruns; marts build from merged staging") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipe_").toString
    val paths = Pipeline.Paths(s"$base/raw", s"$base/staging", s"$base/marts")
    val now = to_timestamp(lit("2025-03-27 00:00:00"))
    val all = WeatherGen.docs(spark)
    val firstTwoRuns = all.filter(
      substring($"weather.dateGenerated", 1, 10) =!= "2025-03-28")

    // day 1: runs 0+1 land (6 docs)
    val s1 = Pipeline.runDaily(spark, firstTwoRuns, paths, now)
    assert(s1("files_seen") === 6)
    assert(s1("files_new") === 6)
    assert(s1("dim_location") === 3)

    // day 2: full drop re-lands runs 0+1 (skipped) plus run 2 (ingested)
    val s2 = Pipeline.runDaily(spark, all, paths, now)
    assert(s2("files_seen") === 9)
    assert(s2("files_new") === 3, "only run 2's files are new")
    assert(s2("staging_rows") > s1("staging_rows"))

    // staging on disk equals the flatten of all 9 docs (merge kept one copy)
    val stg = spark.read.parquet(paths.stagingRoot)
    assert(stg.count() === WeatherGen.flatReadings(spark).count())

    // facts appended twice (reference append-only semantics)
    val hist = spark.read.parquet(s"${paths.martsRoot}/fact_weather_params_history")
    assert(hist.count() === s1("fact_weather_params_history") + s2("fact_weather_params_history"))

    // dim rebuilt, key still unique
    val dim = spark.read.parquet(s"${paths.martsRoot}/dim_location")
    assert(graft.weather.Marts.keyIsUniqueAndNotNull(dim, "location_key"))
  }

  test("an unreadable staging table fails the run and is left untouched") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pipe_corrupt_").toString
    val paths = Pipeline.Paths(s"$base/raw", s"$base/staging", s"$base/marts")
    val now = to_timestamp(lit("2025-03-27 00:00:00"))
    val all = WeatherGen.docs(spark)
    Pipeline.runDaily(spark, all.filter(
      substring($"weather.dateGenerated", 1, 10) =!= "2025-03-28"), paths, now)

    val root = java.nio.file.Paths.get(paths.stagingRoot)
    def snapshot(): Map[String, Seq[Byte]] = {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      finally files.close()
    }
    val parts = snapshot().keys.filter(_.split('/').last.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    parts.foreach(p => Files.write(root.resolve(p), "not a parquet file".getBytes("UTF-8")))
    val corrupted = snapshot()

    // staging can't be read: the run must fail instead of treating it as
    // empty and overwriting it with only the new day
    intercept[Exception](Pipeline.runDaily(spark, all, paths, now))
    assert(snapshot() == corrupted, "staging files changed")
  }
}
