package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.weather.{Staging, WeatherGen, WeatherSchema}

/** File-based ingest path: U1 flatten inversion, S5 incremental, S6 merge,
  * S3/S4 roundtrip with real file metadata, V1 schema gates, and the
  * staging table's rename-swap publish with its lock and recovery. The
  * versioned chain store's pins live in ops.ChainIndexSpec.
  */
class StagingSpec extends SparkSpec {

  test("U1 flatten exactly inverts the doc nesting (counts + values)") {
    import spark.implicits._
    val flatTruth = WeatherGen.flatReadings(spark)
    val docs = WeatherGen.docs(spark)
    val flat = Staging.flatten(docs)
    assert(flat.count() === flatTruth.count())
    // spot-check a full reading row survives the nest→flatten roundtrip
    val k = flat.filter($"city" === "city_1" && $"parameter" === "t_2m:C")
      .agg(sum($"reading_value".cast("double")).as("s")).head.getDouble(0)
    val kTruth = flatTruth.filter($"city" === "city_1" && $"parameter" === "t_2m:C")
      .agg(sum($"value".cast("double")).as("s")).head.getDouble(0)
    assert(math.abs(k - kTruth) < 1e-9)
  }

  test("S5 incremental anti-join equals set difference on file_path") {
    import spark.implicits._
    val all = Seq("f1", "f2", "f3", "f4").toDF("file_path")
    val loaded = Seq("f2", "f4", "f4").toDF("file_path") // dup in target: still one skip
    val fresh = Staging.incrementalNew(all, loaded)
      .collect().map(_.getString(0)).toSet
    assert(fresh === Set("f1", "f3"))
  }

  test("S6 mergeStaging keeps the freshest file_modified per unique key") {
    import spark.implicits._
    val old = Seq(
      ("f1", "t_2m:C", "2025-03-25 00:00:00", "2025-03-25 02:00:00", "1.0"),
      ("f1", "t_2m:C", "2025-03-25 01:00:00", "2025-03-25 02:00:00", "2.0")
    ).toDF("file_path", "parameter", "reading_datetime", "file_modified", "reading_value")
      .withColumn("reading_datetime", to_timestamp($"reading_datetime"))
      .withColumn("file_modified", to_timestamp($"file_modified"))
    val incoming = Seq(
      ("f1", "t_2m:C", "2025-03-25 00:00:00", "2025-03-26 02:00:00", "9.9") // corrects slot 00:00
    ).toDF("file_path", "parameter", "reading_datetime", "file_modified", "reading_value")
      .withColumn("reading_datetime", to_timestamp($"reading_datetime"))
      .withColumn("file_modified", to_timestamp($"file_modified"))
    val merged = Staging.mergeStaging(old, incoming)
    assert(merged.count() === 2)
    val slot0 = merged.filter($"reading_datetime" === "2025-03-25 00:00:00")
      .select("reading_value").head.getString(0)
    assert(slot0 === "9.9") // freshest won
    // idempotence: merging the same increment again changes nothing
    val again = Staging.mergeStaging(merged, incoming)
    assert(again.count() === 2)
    assert(again.filter($"reading_value" === "9.9").count() === 1)
  }

  test("S3+S4 roundtrip: partitioned JSON write, read back with real _metadata paths") {
    val root = Files.createTempDirectory("graft_rt_").toString
    val docs = WeatherGen.docs(spark)
    Staging.writeRawByRun(docs.drop("file_path"), root)
    val back = Staging.readRawJson(spark, root)
    assert(back.count() === WeatherGen.nCities.toLong * WeatherGen.nRuns)
    val paths = back.select("file_path").collect().map(_.getString(0))
    assert(paths.forall(_.contains("country=")), "hive layout carries country")
    assert(paths.forall(_.contains("city=")), "hive layout carries city")
    assert(paths.forall(_.contains("run_date=")), "hive layout carries the run date")
    assert(back.filter(col("file_modified").isNull).count() === 0)
  }

  test("S7 clustered write: date layout gives the facts partition pruning") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_s7_").toString
    val stg = Staging.flatten(WeatherGen.docs(spark))
    Staging.writeStaging(stg, root)
    val back = spark.read.parquet(root)
    assert(back.count() === stg.count())
    // P4-style date filter must prune partitions, not scan them
    val pruned = back.filter($"reading_date" === "2025-03-26")
    val scan = pruned.queryExecution.executedPlan.toString
    val partFilters = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(partFilters.contains("reading_date"), scan.take(1500))
    assert(pruned.count() ===
      stg.filter(to_date($"reading_datetime") === "2025-03-26").count())
  }

  test("V1 FAILFAST raises on a malformed doc; PERMISSIVE side-outputs it") {
    val dir = Files.createTempDirectory("graft_v1_").toString
    val good = """{"city":"a","country":"b","latitude":1.0,"longitude":2.0,"weather":{"version":"3.0","user":"u","dateGenerated":"2025-03-26T02:00:00Z","status":"OK","data":[]}}"""
    val bad = """{"city":"a","country":"b","latitude":"NOT_A_NUMBER_{","""
    Files.writeString(Paths.get(dir, "docs.json"), good + "\n" + bad + "\n")
    // pydantic behavior: the load halts (helper_validate_response.py:36-43)
    val e = intercept[Exception] {
      Staging.readStrict(spark, dir).collect()
    }
    assert(e.isInstanceOf[AnalysisException] || e.getCause != null)
    // scalable flavor: good rows load, bad rows land in _corrupt_record
    val parsed = Staging.readWithCorrupt(spark, dir).cache()
    assert(parsed.filter(col("_corrupt_record").isNotNull).count() === 1)
    assert(parsed.filter(col("_corrupt_record").isNull).count() === 1)
    parsed.unpersist()
  }

  test("S6 atomic publish: a write that dies mid-job leaves the old snapshot intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_atomic_").toString + "/table"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Staging.publishAtomic(spark, root)(p => v1.write.parquet(p))
    assert(spark.read.parquet(root).count() === 2)
    // v2 write fails partway through the job (executor-side exception =
    // the kill-mid-write scenario); the live table must still serve v1
    val poisoned = Seq((3L, "c"), (4L, "BOOM")).toDF("k", "v")
      .map { r => if (r.getString(1) == "BOOM") throw new RuntimeException("mid-write crash"); r }(
        org.apache.spark.sql.Encoders.row(v1.schema))
    intercept[Exception] {
      Staging.publishAtomic(spark, root)(p => poisoned.write.parquet(p))
    }
    spark.catalog.refreshByPath(root)
    assert(spark.read.parquet(root).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")), "old snapshot must survive a failed publish")

    // rename-window crash: live dir gone, retired snapshot present →
    // recoverPublished restores it; idempotent second call is a no-op
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(root), new org.apache.hadoop.fs.Path(root + "__old")))
    assert(Staging.recoverPublished(spark, root))
    assert(!Staging.recoverPublished(spark, root))
    spark.catalog.refreshByPath(root)
    assert(spark.read.parquet(root).count() === 2)
  }

  test("S6 atomic publish self-recovers a rename-window leftover before swapping") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_atomic2_").toString + "/table"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Staging.publishAtomic(spark, root)(p => v1.write.parquet(p))
    // crash in the rename window: live dir gone, __old holds the ONLY copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(root), new org.apache.hadoop.fs.Path(root + "__old")))
    // a publish whose write fails must NOT destroy that surviving snapshot:
    // publishAtomic restores it first, so the table serves v1 afterwards
    intercept[RuntimeException] {
      Staging.publishAtomic(spark, root)(_ => throw new RuntimeException("writer died"))
    }
    spark.catalog.refreshByPath(root)
    assert(spark.read.parquet(root).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")), "rename-window leftover must be restored, not deleted")
  }

  test("S6 atomic publish: a held lock makes a second publisher fail fast") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_").toString + "/table"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = Seq((1L, "a")).toDF("k", "v")
    Staging.publishAtomic(spark, root)(p => v1.write.parquet(p))
    // a successful publish leaves no lock behind
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "__lock")))
    // simulate a concurrent in-flight publisher holding the lock
    fs.create(new org.apache.hadoop.fs.Path(root + "__lock"), false).close()
    val e = intercept[java.io.IOException] {
      Staging.publishAtomic(spark, root)(p => v1.write.parquet(p))
    }
    assert(e.getMessage.contains("in progress"))
    // the failed attempt must not release a lock it never acquired
    assert(fs.exists(new org.apache.hadoop.fs.Path(root + "__lock")))
    // dead writer confirmed gone → break the lock and publish normally
    assert(Staging.breakPublishLock(spark, root))
    Staging.publishAtomic(spark, root)(p => Seq((2L, "b")).toDF("k", "v").write.parquet(p))
    spark.catalog.refreshByPath(root)
    assert(spark.read.parquet(root).as[(Long, String)].collect().toSet === Set((2L, "b")))
    // a failed WRITE releases the lock so a corrected retry can proceed
    intercept[RuntimeException] {
      Staging.publishAtomic(spark, root)(_ => throw new RuntimeException("writer died"))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "__lock")))
  }

  test("V1 Dataset[EnrichedDoc] parse-as-validation accepts the generated docs") {
    import spark.implicits._
    val ds = WeatherGen.docs(spark).drop("file_path").as[WeatherSchema.EnrichedDoc]
    val d = ds.collect()
    assert(d.length === 9)
    assert(d.forall(_.weather.data.length === WeatherGen.params.length))
  }
}
