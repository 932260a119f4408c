package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.weather.{Staging, WeatherGen, WeatherSchema}

/** File-based ingest path: U1 flatten inversion, S5 incremental, S6 merge,
  * S3/S4 roundtrip with real file metadata, V1 schema gates — and the
  * versioned-artifact store behind it: rename-swap and snapshot publish,
  * the commit lock, delta-chain resolution, chain GC, time travel and
  * the family layer reader.
  */
class StagingSpec extends SparkSpec {

  /** Append-shaped read of `layer` across the current chain of `root`. */
  private def chainUnion(root: String, layer: String) =
    Staging.readChainIn(spark, Staging.chainDirs(spark, root), layer)

  /** Time travel: committed version `v` of a single-layer table. */
  private def readAt(root: String, v: Long) =
    spark.read.parquet(Staging.snapshotDirAt(spark, root, v))

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

  test("S6 snapshot publish: a concurrent reader observes only complete committed snapshots") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snap_").toString + "/stg"
    // invariant per version v: ver column constant = v, count = 100*(v+1).
    // A reader that ever sees a mixed/partial state breaks it.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        Staging.currentSnapshotVersion(spark, root).foreach { v =>
          try {
            val r = readAt(root, v)
              .agg(count(lit(1)), min($"ver"), max($"ver")).head()
            val (n, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2))
            if (lo != hi || n != 100L * (lo + 1))
              errs.add(s"inconsistent snapshot read: v=$v n=$n ver=[$lo,$hi]")
            reads.incrementAndGet()
          } catch {
            case e: Throwable => errs.add(s"read of committed v=$v failed: ${e.getMessage}")
          }
        }
      }
    }, "snapshot-reader")
    reader.start()
    try {
      for (v <- 0L to 4L) {
        val got = Staging.publishSnapshot(spark, root) { p =>
          spark.range(100 * (v + 1)).select($"id", lit(v).as("ver"))
            .write.mode("overwrite").parquet(p)
        }
        assert(got === v)
      }
    } finally { stop.set(true); reader.join() }
    assert(errs.isEmpty, errs.toArray.mkString("\n"))
    assert(reads.get() > 0, "reader never got a snapshot in — test proves nothing")
    // time travel: every committed version remains readable at its state
    assert(readAt(root, 2).count() === 300)
    assert(Staging.readChainLatest(spark, root, "").count() === 500)
    // GC retains the newest `keep` chains — on a delta-free table every
    // version is its own chain; older versions stop resolving
    assert(Staging.gcChains(spark, root, keepChains = 2) === Seq(0L, 1L, 2L))
    assert(Staging.currentSnapshotVersion(spark, root) === Some(4L))
    assert(readAt(root, 3).count() === 400)
    intercept[java.io.IOException](readAt(root, 2))
  }

  test("S6 snapshot upsert: merge semantics with the previous version still readable") {
    import spark.implicits._
    def batch(rows: Seq[(String, String, String, String, String)]) =
      rows.toDF("file_path", "parameter", "reading_datetime", "file_modified", "reading_value")
        .withColumn("reading_datetime", to_timestamp($"reading_datetime"))
        .withColumn("file_modified", to_timestamp($"file_modified"))
    val root = Files.createTempDirectory("graft_snap_").toString + "/stg"
    // S6 MERGE with snapshot isolation: dedup-merge the batch into the
    // current version and publish the result as the next one
    def upsert(incoming: org.apache.spark.sql.DataFrame): Long = {
      val merged = Staging.currentSnapshotVersion(spark, root) match {
        case Some(v) => Staging.mergeStaging(readAt(root, v), incoming)
        case None => incoming
      }
      Staging.publishSnapshot(spark, root)(p => merged.write.mode("overwrite").parquet(p))
    }
    val v0 = upsert(batch(Seq(
      ("f1", "t_2m:C", "2025-03-25 00:00:00", "2025-03-25 02:00:00", "1.0"),
      ("f1", "t_2m:C", "2025-03-25 01:00:00", "2025-03-25 02:00:00", "2.0"))))
    val v1 = upsert(batch(Seq(
      ("f1", "t_2m:C", "2025-03-25 00:00:00", "2025-03-26 02:00:00", "9.9"))))
    assert((v0, v1) === ((0L, 1L)))
    val cur = Staging.readChainLatest(spark, root, "")
    assert(cur.count() === 2)
    assert(cur.filter($"reading_datetime" === "2025-03-25 00:00:00")
      .select("reading_value").head.getString(0) === "9.9")
    // the pre-merge version is still exactly what it was (isolation)
    val prev = readAt(root, 0)
    assert(prev.filter($"reading_datetime" === "2025-03-25 00:00:00")
      .select("reading_value").head.getString(0) === "1.0")
  }

  test("publish lock: a dead writer's stale lock blocks every publish variant until broken") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lock_").toString + "/mv"
    assert(Staging.publishSnapshot(spark, root) { p =>
      spark.range(3).write.parquet(s"$p/rows")
    } === 0L)
    // simulate a writer killed between lock acquire and its finally: the
    // lock file exists, no process holds it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(root + "__lock"), false).close()
    // every publish variant through the shared lock seam fails FAST and
    // names the recovery call — no write, no version consumed
    val e1 = intercept[java.io.IOException](
      Staging.publishSnapshot(spark, root)(p => spark.range(1).write.parquet(s"$p/rows")))
    assert(e1.getMessage.contains("breakPublishLock"))
    val e2 = intercept[java.io.IOException](
      Staging.publishSnapshotDelta(spark, root)(p => spark.range(1).write.parquet(s"$p/rows")))
    assert(e2.getMessage.contains("breakPublishLock"))
    assert(Staging.currentSnapshotVersion(spark, root) === Some(0L))
    // recovery: break the stale lock once the dead writer is confirmed
    // gone; the next publish proceeds and the lock is released after it
    assert(Staging.breakPublishLock(spark, root))
    assert(!Staging.breakPublishLock(spark, root), "double break should find no lock")
    assert(Staging.publishSnapshotDelta(spark, root) { p =>
      spark.range(2).write.parquet(s"$p/rows")
    } === 1L)
    assert(chainUnion(root, "rows").count() === 5)
    // same contract for the rename-swap publish (path-shaped, not root-shaped)
    val tbl = Files.createTempDirectory("graft_lock_").toString + "/tbl"
    Staging.publishAtomic(spark, tbl)(p => spark.range(4).write.parquet(p))
    fs.create(new org.apache.hadoop.fs.Path(tbl + "__lock"), false).close()
    val e3 = intercept[java.io.IOException](
      Staging.publishAtomic(spark, tbl)(p => spark.range(9).write.parquet(p)))
    assert(e3.getMessage.contains("breakPublishLock"))
    assert(spark.read.parquet(tbl).count() === 4, "blocked publish must not touch the table")
    assert(Staging.breakPublishLock(spark, tbl))
    Staging.publishAtomic(spark, tbl)(p => spark.range(9).write.parquet(p))
    assert(spark.read.parquet(tbl).count() === 9)
  }

  test("delta chains: full + deltas union, rewrite layers read latest, crash commits nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_chain_").toString + "/mv"
    // full v0: append-shaped layer `rows`, rewrite-shaped layer `state`
    assert(Staging.publishSnapshot(spark, root) { p =>
      spark.range(10).select($"id", lit(0L).as("src")).write.parquet(s"$p/rows")
      Seq((0L, 10L)).toDF("v", "n").write.parquet(s"$p/state")
    } === 0L)
    // delta v1 extends the chain with a batch
    assert(Staging.publishSnapshotDelta(spark, root) { p =>
      spark.range(10, 15).select($"id", lit(1L).as("src")).write.parquet(s"$p/rows")
      Seq((1L, 15L)).toDF("v", "n").write.parquet(s"$p/state")
    } === 1L)
    assert(Staging.chainVersions(spark, root) === Seq(0L, 1L))
    assert(chainUnion(root, "rows").count() === 15)
    assert(Staging.readChainLatest(spark, root, "state").head().getLong(1) === 15L)
    // a failed delta (crash before the marker) commits NOTHING ...
    intercept[RuntimeException] {
      Staging.publishSnapshotDelta(spark, root) { p =>
        spark.range(15, 18).select($"id", lit(2L).as("src")).write.parquet(s"$p/rows")
        throw new RuntimeException("writer died mid-append")
      }
    }
    assert(Staging.currentSnapshotVersion(spark, root) === Some(1L))
    assert(chainUnion(root, "rows").count() === 15,
      "uncommitted delta rows leaked into the chain read")
    // ... and the retry reuses the version slot (orphan dir overwritten)
    assert(Staging.publishSnapshotDelta(spark, root) { p =>
      spark.range(15, 18).select($"id", lit(2L).as("src")).write.parquet(s"$p/rows")
    } === 2L)
    assert(chainUnion(root, "rows").count() === 18)
    // v2 carries no `state`: the rewrite-shaped read falls back to the
    // newest chain dir that HAS the layer
    assert(Staging.readChainLatest(spark, root, "state").head().getLong(1) === 15L)
    assert(Staging.chainHasLayerIn(spark, Staging.chainDirs(spark, root), "rows"))
    assert(!Staging.chainHasLayerIn(spark, Staging.chainDirs(spark, root), "absent"))
    // a new FULL version starts a new chain: chain reads see only it
    Staging.publishSnapshot(spark, root) { p =>
      spark.range(100).select($"id", lit(3L).as("src")).write.parquet(s"$p/rows")
    }
    assert(Staging.chainVersions(spark, root) === Seq(3L))
    assert(chainUnion(root, "rows").count() === 100)
    // chain-aware GC: 2 chains retained -> nothing deleted; a third
    // chain retires the FIRST chain wholesale (full + its deltas —
    // dropping a delta alone would silently lose appended rows)
    assert(Staging.gcChains(spark, root, keepChains = 2) === Seq.empty)
    Staging.publishSnapshot(spark, root) { p =>
      spark.range(7).select($"id", lit(4L).as("src")).write.parquet(s"$p/rows")
    }
    assert(Staging.gcChains(spark, root, keepChains = 2) === Seq(0L, 1L, 2L))
    assert(chainUnion(root, "rows").count() === 7)
    // time travel inside the retained previous chain still works
    assert(spark.read.parquet(s"${Staging.snapshotDirAt(spark, root, 3L)}/rows").count() === 100)
    // a delta can never be the first version of a table
    val empty = Files.createTempDirectory("graft_chain_").toString + "/e"
    intercept[java.io.IOException] {
      Staging.publishSnapshotDelta(spark, empty)(_ => ())
    }
  }

  test("backbone MV: a concurrent reader across refreshes observes only complete committed versions") {
    import spark.implicits._
    // first refresh establishes the expected (deterministic) content
    val first = graft.ops.Graph.backboneMaterialize(spark, sfDir).head()
    val (nEdges, sumShared) = (first.getLong(0), first.getLong(4))
    val root = graft.ops.Graph.backboneRoot(sfDir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = Staging.readChainLatest(spark, root, "")
            .agg(count(lit(1)), sum($"shared")).head()
          if (r.getLong(0) != nEdges || r.getLong(1) != sumShared)
            errs.add(s"inconsistent backbone read: n=${r.getLong(0)} sum=${r.getLong(1)}")
          reads.incrementAndGet()
        } catch {
          case e: Throwable => errs.add(s"backbone read failed: ${e.getMessage}")
        }
      }
    }, "backbone-reader")
    reader.start()
    try {
      // the exact round-13 hazard: g0 refreshes while a kernel-shaped
      // reader scans the artifact (the refresh used to yank its files)
      for (_ <- 1 to 2) graft.ops.Graph.backboneMaterialize(spark, sfDir).count()
    } finally { stop.set(true); reader.join() }
    assert(errs.isEmpty, errs.toArray.mkString("\n"))
    assert(reads.get() > 0, "reader never got a scan in — test proves nothing")
  }

  test("family read: each layer by its declared shape and optionality; an undeclared layer fails loudly") {
    import spark.implicits._
    import graft.ops.ChainIndex
    val fam = new ChainIndex.Family("graft_spec_fam_", "spec family", Seq(
      ChainIndex.Layer("rows", ChainIndex.AppendShaped),
      ChainIndex.Layer("state", ChainIndex.RewriteShaped),
      ChainIndex.Layer("archive", ChainIndex.AppendShaped, optional = true),
      ChainIndex.Layer("meta", ChainIndex.RewriteShaped)))
    val root = Files.createTempDirectory("graft_fam_").toString + "/mv"
    Staging.publishSnapshot(spark, root) { p =>
      spark.range(10).write.parquet(s"$p/rows")
      Seq((0L, 10L)).toDF("v", "n").write.parquet(s"$p/state")
    }
    Staging.publishSnapshotDelta(spark, root) { p =>
      spark.range(10, 15).write.parquet(s"$p/rows")
      Seq((1L, 15L)).toDF("v", "n").write.parquet(s"$p/state")
    }
    val dirs = Staging.chainDirs(spark, root)
    assert(fam.read(spark, dirs, "rows").get.count() === 15, "append-shaped: the chain union")
    assert(fam.read(spark, dirs, "state").get.as[(Long, Long)].collect().toSeq === Seq((1L, 15L)),
      "rewrite-shaped: the newest carrier only")
    // an optional layer no version carries yet reads as absent ...
    assert(fam.read(spark, dirs, "archive").isEmpty)
    // ... a required one that is missing is a loud error, not an empty read
    intercept[java.io.IOException](fam.read(spark, dirs, "meta"))
    // a name the family never declared names the family and the layer
    val e = intercept[IllegalArgumentException](fam.read(spark, dirs, "cells"))
    assert(e.getMessage.contains("spec family") && e.getMessage.contains("'cells'"), e.getMessage)
  }

  test("V1 Dataset[EnrichedDoc] parse-as-validation accepts the generated docs") {
    import spark.implicits._
    val ds = WeatherGen.docs(spark).drop("file_path").as[WeatherSchema.EnrichedDoc]
    val d = ds.collect()
    assert(d.length === 9)
    assert(d.forall(_.weather.data.length === WeatherGen.params.length))
  }

  test("commit-lock race: two concurrent publishers through the real lock — exactly one wins loudly") {
    // the round-16 executable spec for the writer-exclusion seam: on a
    // filesystem with an ATOMIC create-if-absent (local FS here, HDFS in
    // deployment), two publishers racing into the same root must resolve
    // to exactly one committed version and one loud IOException — never
    // two interleaved writes, never a silent drop
    val root = Files.createTempDirectory("graft_race_").toString + "/mv"
    val gate = new java.util.concurrent.CyclicBarrier(2)
    // deterministic overlap, not sleep-probabilistic: the winner holds
    // the lock until BOTH threads' acquire attempts have completed (a
    // counting wrapper around the real provider), so the loser's attempt
    // necessarily lands inside the winner's critical section no matter
    // how long either thread is descheduled on a loaded box
    val attempted = new java.util.concurrent.CountDownLatch(2)
    val real = graft.weather.CommitLock.provider
    val counting = new graft.weather.CommitLockProvider {
      override def tryAcquire(fs: org.apache.hadoop.fs.FileSystem,
                              lock: org.apache.hadoop.fs.Path): Boolean = {
        val r = real.tryAcquire(fs, lock)
        attempted.countDown()
        r
      }
    }
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        gate.await()
        outcomes.add(
          try Right(Staging.publishSnapshot(spark, root) { p =>
            attempted.await(60, java.util.concurrent.TimeUnit.SECONDS)
            spark.range(10L * i).write.parquet(p)
          })
          catch { case t: Throwable => Left(t) })
      }, s"race-writer-$i")
    }
    graft.weather.CommitLock.provider = counting
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
    } finally graft.weather.CommitLock.provider = real
    val (losers, winners) = {
      import scala.jdk.CollectionConverters._
      outcomes.asScala.toSeq.partition(_.isLeft)
    }
    assert(winners.size === 1 && losers.size === 1,
      s"expected exactly one winner and one loser, got $outcomes")
    val err = losers.head.left.toOption.get
    assert(err.isInstanceOf[java.io.IOException] && err.getMessage.contains("in progress"),
      s"loser must fail loudly on the lock, got $err")
    // exactly ONE committed version, its data complete, lock released
    assert(Staging.currentSnapshotVersion(spark, root) === Some(0L))
    val n = Staging.readChainLatest(spark, root, "").count()
    assert(n === 10L || n === 20L, s"committed snapshot is a complete write, got $n rows")
    assert(!Staging.breakPublishLock(spark, root), "winner must release the lock in its finally")
  }

  test("commit-lock providers: check-then-act double races to double-acquire; conditional-put double does not") {
    // the S3A hazard and its upgrade, both as assertions instead of
    // scaladoc prose (round-15 verdict item 5). The check-then-act double
    // reproduces what fs.create(overwrite=false) IS on S3A — a HEAD probe
    // then an unconditional PUT — with a barrier forcing both writers
    // into the probe window; the conditional-put double models
    // `If-None-Match: *` (one atomic decision point) and must admit
    // exactly one winner under the same forced race.
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def race(p: graft.weather.CommitLockProvider, lock: org.apache.hadoop.fs.Path): Seq[Boolean] = {
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val ts = (1 to 2).map(_ => new Thread(() => { gate.await(); wins.add(p.tryAcquire(fs, lock)): Unit }))
      ts.foreach(_.start()); ts.foreach(_.join(60000))
      import scala.jdk.CollectionConverters._
      wins.asScala.toSeq
    }
    // (a) check-then-act (the S3A shape): both probes run before either
    // PUT — both believe they won. The barrier INSIDE the double stands
    // in for S3's probe-to-PUT latency window.
    val inWindow = new java.util.concurrent.CyclicBarrier(2)
    val checkThenAct = new graft.weather.CommitLockProvider {
      override def tryAcquire(fs: org.apache.hadoop.fs.FileSystem,
                              lock: org.apache.hadoop.fs.Path): Boolean = {
        if (fs.exists(lock)) false // the HEAD probe
        else {
          inWindow.await(30, java.util.concurrent.TimeUnit.SECONDS) // both inside the window
          fs.create(lock, /* overwrite = */ true).close() // the unconditional PUT
          true
        }
      }
    }
    val l1 = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft_cta_").toString + "/x__lock")
    assert(race(checkThenAct, l1) === Seq(true, true),
      "check-then-act must double-acquire under a forced race — that IS the documented S3A hazard")
    // (b) conditional PUT: one atomic decision point (putIfAbsent here,
    // `If-None-Match: *` on S3) — exactly one winner, same forced race
    val decided = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val conditionalPut = new graft.weather.CommitLockProvider {
      override def tryAcquire(fs: org.apache.hadoop.fs.FileSystem,
                              lock: org.apache.hadoop.fs.Path): Boolean =
        if (decided.add(lock.toString)) { fs.create(lock, true).close(); true }
        else false
      override def release(fs: org.apache.hadoop.fs.FileSystem,
                           lock: org.apache.hadoop.fs.Path): Unit = {
        fs.delete(lock, false); decided.remove(lock.toString); ()
      }
    }
    val l2 = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft_cput_").toString + "/x__lock")
    assert(race(conditionalPut, l2).sorted === Seq(false, true),
      "conditional PUT must admit exactly one winner")
    // and wired through the REAL publish seam: with the conditional-put
    // provider installed, a full publishSnapshot still round-trips
    // (acquire → write → commit → release), proving the provider swap is
    // behavior-preserving on the happy path
    val prev = graft.weather.CommitLock.provider
    try {
      graft.weather.CommitLock.provider = conditionalPut
      val root = Files.createTempDirectory("graft_cput_pub_").toString + "/mv"
      assert(Staging.publishSnapshot(spark, root) { p =>
        spark.range(7).write.parquet(p)
      } === 0L)
      assert(Staging.readChainLatest(spark, root, "").count() === 7)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "__lock")),
        "provider release must run in the publish finally")
    } finally graft.weather.CommitLock.provider = prev
  }
}
