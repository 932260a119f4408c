package graft

import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.weather.{Marts, Pipeline, Staging, WeatherGen}

/** The collapsed daily pipeline (SURVEY §3): incremental reruns skip
  * already-landed logical files, staging merges idempotently, dims rebuild,
  * facts append — the reference's two DAGs in one call.
  */
class PipelineSpec extends SparkSpec {

  private val facts = Seq(
    "fact_weather_params_history", "fact_weather_params_forecast",
    "fact_sun_times_history", "fact_sun_times_forecast")
  private val dims = Seq("dim_location", "dim_weather_condition")
  private val now = to_timestamp(lit("2025-03-27 00:00:00"))

  private def freshPaths(prefix: String): Pipeline.Paths = {
    val base = Files.createTempDirectory(prefix).toString
    Pipeline.Paths(s"$base/raw", s"$base/staging", s"$base/marts")
  }

  private def mart(paths: Pipeline.Paths, name: String): DataFrame =
    spark.read.parquet(s"${paths.martsRoot}/$name")

  /** Ids of the RDDs persisted in the shared session right now. */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body` under a deadline: a blocked observation fails the test
    * instead of hanging the suite.
    */
  private def withinDeadline[A](body: => A): A = Await.result(Future(body), 5.minutes)

  private def sameRows(got: DataFrame, want: DataFrame): Boolean =
    got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty

  test("daily run is incremental across reruns; marts build from merged staging") {
    import spark.implicits._
    val paths = freshPaths("graft_pipe_")
    val all = WeatherGen.docs(spark)
    val firstTwoRuns = all.filter(
      substring($"weather.dateGenerated", 1, 10) =!= "2025-03-28")

    // day 1: runs 0+1 land (6 docs)
    val s1 = Pipeline.runDaily(spark, firstTwoRuns, paths, now)
    assert(s1("files_seen") === 6)
    assert(s1("files_new") === 6)
    assert(s1("dim_location") === 3)
    assert(s1("staging_rows") === Staging.flatten(firstTwoRuns).count())

    // day 2: full drop re-lands runs 0+1 (skipped) plus run 2 (ingested)
    val s2 = Pipeline.runDaily(spark, all, paths, now)
    assert(s2("files_seen") === 9)
    assert(s2("files_new") === 3, "only run 2's files are new")
    assert(s2("staging_rows") > s1("staging_rows"))
    assert(s2("staging_rows") === WeatherGen.flatReadings(spark).count())
    assert(s2("staging_null_keys") === 0 && s2("staging_null_values") === 0)

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
    val paths = freshPaths("graft_pipe_corrupt_")
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

  test("every returned count equals the rows its table holds; the checkpoint is freed") {
    import spark.implicits._
    val paths = freshPaths("graft_pipe_counts_")
    val all = WeatherGen.docs(spark)
    // checked as soon as each run returns: an unfreed checkpoint would
    // otherwise be unpersisted once GC collects it
    val before = persisted()
    val s1 = Pipeline.runDaily(spark, all.filter(
      substring($"weather.dateGenerated", 1, 10) =!= "2025-03-28"), paths, now)
    assert((persisted() -- before).isEmpty, "runDaily left an RDD persisted")
    val factRows1 = facts.map(f => f -> mart(paths, f).count()).toMap
    facts.foreach(f => assert(s1(f) === factRows1(f), f))
    val s2 = Pipeline.runDaily(spark, all, paths, now)
    assert((persisted() -- before).isEmpty, "runDaily left an RDD persisted")
    // dims hold this run's rows; facts hold both runs' batches
    dims.foreach(d => assert(s2(d) === mart(paths, d).count(), d))
    facts.foreach(f => assert(s2(f) === mart(paths, f).count() - factRows1(f), f))
    assert(facts.map(s2).sum > 0)
    assert(s2("staging_rows") === spark.read.parquet(paths.stagingRoot).count())
  }

  test("empty outputs: every reading outside the fact window, an empty staging frame") {
    val paths = freshPaths("graft_pipe_empty_")
    val far = to_timestamp(lit("2030-01-01 00:00:00"))
    val all = WeatherGen.docs(spark)
    val r = withinDeadline(Pipeline.runDaily(spark, all, paths, far))
    facts.foreach(f => assert(r(f) === 0L, f))
    facts.foreach(f => assert(mart(paths, f).isEmpty, f))
    assert(r("dim_location") === 3)
    // an empty staging frame: every observed write is empty, none blocks
    val stg = spark.read.parquet(paths.stagingRoot).drop("reading_date").limit(0)
    val m = withinDeadline(Pipeline.buildMarts(spark, stg, paths, far))
    (dims ++ facts).foreach(n => assert(m(n) === 0L, n))
    // an empty drop on top of staged days: nothing seen, staging kept
    val e = withinDeadline(Pipeline.runDaily(spark, all.limit(0), paths, far))
    assert(e("files_seen") === 0 && e("files_new") === 0)
    assert(e("staging_rows") === r("staging_rows"))
  }

  test("a failing fact write is rethrown after the other outputs landed; nothing stays pinned") {
    val paths = freshPaths("graft_pipe_fail_")
    val blocked = java.nio.file.Paths.get(paths.martsRoot, "fact_sun_times_forecast")
    Files.createDirectories(blocked.getParent)
    Files.write(blocked, "a regular file where a fact dir belongs".getBytes("UTF-8"))
    val before = persisted()
    val e = intercept[Exception](withinDeadline(Pipeline.runDaily(spark, WeatherGen.docs(spark), paths, now)))
    assert((persisted() -- before).isEmpty, "a failed runDaily left an RDD persisted")
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("fact_sun_times_forecast")),
      s"not the blocked write's failure: $e")
    // the other five writes had finished: each committed, none in flight
    (dims ++ facts.filterNot(_ == "fact_sun_times_forecast")).foreach { n =>
      val dir = java.nio.file.Paths.get(paths.martsRoot, n)
      assert(Files.exists(dir.resolve("_SUCCESS")), s"$n did not land")
      assert(!Files.exists(dir.resolve("_temporary")), s"$n still in flight")
      assert(!mart(paths, n).isEmpty, n)
    }
    assert(Files.isRegularFile(blocked))
    val waiting = Thread.getAllStackTraces.asScala.collect {
      case (t, st) if st.exists(f => f.getClassName == "org.apache.spark.sql.Observation" &&
          f.getMethodName.startsWith("get")) => t.getName
    }
    assert(waiting.isEmpty, s"threads blocked on an observation: $waiting")
  }

  test("marts equal the sequential composition; staging equals the flatten of all docs") {
    val paths = freshPaths("graft_pipe_same_")
    val all = WeatherGen.docs(spark)
    Pipeline.runDaily(spark, all, paths, now)
    val stg = spark.read.parquet(paths.stagingRoot).drop("reading_date")
    val data = Seq("country", "city", "dateGenerated", "parameter", "latitude", "longitude",
      "reading_datetime", "reading_value").map(col)
    assert(sameRows(stg.select(data: _*), Staging.flatten(all).select(data: _*)))
    val ranked = Marts.ranked(stg)
    val want = Map(
      "dim_location" -> Marts.dimLocation(stg),
      "dim_weather_condition" -> Marts.dimCondition(stg),
      "fact_weather_params_history" -> Marts.fact(ranked, sunTimes = false, history = true, now),
      "fact_weather_params_forecast" -> Marts.fact(ranked, sunTimes = false, history = false, now),
      "fact_sun_times_history" -> Marts.fact(ranked, sunTimes = true, history = true, now),
      "fact_sun_times_forecast" -> Marts.fact(ranked, sunTimes = true, history = false, now))
    want.foreach { case (n, df) =>
      assert(!df.isEmpty, n)
      assert(sameRows(mart(paths, n), df), n)
    }
  }
}
