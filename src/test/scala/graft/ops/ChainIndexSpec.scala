package graft
package ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.weather.Staging

/** The versioned chain store and the artifact families on it: snapshot
  * and delta publish, the commit lock and its providers, chain
  * resolution, chain GC, time travel and the family layer reader; then
  * the MV families under sustained ingest — concurrent readers across
  * appends, compaction of every chained family (one full version that
  * reads row-identically, layer by layer), auto-compaction against a
  * never-compacted twin, the failed-append checkpoint release, chain-read
  * flatness, the per-version id-bloom sidecars, concurrent ingest
  * streams and the registered compaction queries' local parity. Last,
  * the layering pin: the store lives here, not in the weather domain.
  */
class ChainIndexSpec extends SparkSpec {

  /** Append-shaped read of `layer` across the current chain of `root`. */
  private def chainUnion(root: String, layer: String) =
    ChainIndex.readChainIn(spark, ChainIndex.chainDirs(spark, root), layer)

  /** Time travel: committed version `v` of a single-layer table. */
  private def readAt(root: String, v: Long) =
    spark.read.parquet(ChainIndex.snapshotDirAt(spark, root, v))

  private def emb = Tables.embeddings(spark, sfDir)

  // the ONE shared stored-norm expression (llm.Embeddings.norm) — a
  // hand-rolled copy here could silently diverge from what the index
  // actually stores
  private def vecBatch(m: Int) = emb.filter(col("vec_id") % 20 === m)
    .select(col("vec_id"), col("embedding").as("v"))
    .withColumn("nrm", llm.Embeddings.norm(col("v")))

  private def clones(off: Long) = emb.filter(col("vec_id") < 5)
    .select((col("vec_id") + off).as("vec_id"), col("embedding").as("v"))
    .withColumn("nrm", llm.Embeddings.norm(col("v")))

  /** Checkpoint releases ride Spark's ASYNC listener bus (freeOnConsumed
    * scopes inside the beam search) — poll instead of asserting a
    * snapshot, or a lagging listener thread flakes the leak pins.
    */
  private def awaitNoLeak(before: scala.collection.Set[Int], what: String): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"$what leaked checkpoint blocks: $leaked")
  }

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecarBlobs(versionDir: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$versionDir/idbloom")
    val fs = fsOf(versionDir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName).filter(_.endsWith(".bin"))
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
        ChainIndex.currentSnapshotVersion(spark, root).foreach { v =>
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
        val got = ChainIndex.publishSnapshot(spark, root) { p =>
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
    assert(ChainIndex.readChainLatest(spark, root, "").count() === 500)
    // GC retains the newest `keep` chains — on a delta-free table every
    // version is its own chain; older versions stop resolving
    assert(ChainIndex.gcChains(spark, root, keepChains = 2) === Seq(0L, 1L, 2L))
    assert(ChainIndex.currentSnapshotVersion(spark, root) === Some(4L))
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
      val merged = ChainIndex.currentSnapshotVersion(spark, root) match {
        case Some(v) => Staging.mergeStaging(readAt(root, v), incoming)
        case None => incoming
      }
      ChainIndex.publishSnapshot(spark, root)(p => merged.write.mode("overwrite").parquet(p))
    }
    val v0 = upsert(batch(Seq(
      ("f1", "t_2m:C", "2025-03-25 00:00:00", "2025-03-25 02:00:00", "1.0"),
      ("f1", "t_2m:C", "2025-03-25 01:00:00", "2025-03-25 02:00:00", "2.0"))))
    val v1 = upsert(batch(Seq(
      ("f1", "t_2m:C", "2025-03-25 00:00:00", "2025-03-26 02:00:00", "9.9"))))
    assert((v0, v1) === ((0L, 1L)))
    val cur = ChainIndex.readChainLatest(spark, root, "")
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
    assert(ChainIndex.publishSnapshot(spark, root) { p =>
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
      ChainIndex.publishSnapshot(spark, root)(p => spark.range(1).write.parquet(s"$p/rows")))
    assert(e1.getMessage.contains("breakPublishLock"))
    val e2 = intercept[java.io.IOException](
      ChainIndex.publishSnapshotDelta(spark, root)(p => spark.range(1).write.parquet(s"$p/rows")))
    assert(e2.getMessage.contains("breakPublishLock"))
    assert(ChainIndex.currentSnapshotVersion(spark, root) === Some(0L))
    // recovery: break the stale lock once the dead writer is confirmed
    // gone; the next publish proceeds and the lock is released after it
    assert(Staging.breakPublishLock(spark, root))
    assert(!Staging.breakPublishLock(spark, root), "double break should find no lock")
    assert(ChainIndex.publishSnapshotDelta(spark, root) { p =>
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
    assert(ChainIndex.publishSnapshot(spark, root) { p =>
      spark.range(10).select($"id", lit(0L).as("src")).write.parquet(s"$p/rows")
      Seq((0L, 10L)).toDF("v", "n").write.parquet(s"$p/state")
    } === 0L)
    // delta v1 extends the chain with a batch
    assert(ChainIndex.publishSnapshotDelta(spark, root) { p =>
      spark.range(10, 15).select($"id", lit(1L).as("src")).write.parquet(s"$p/rows")
      Seq((1L, 15L)).toDF("v", "n").write.parquet(s"$p/state")
    } === 1L)
    assert(ChainIndex.chainVersions(spark, root) === Seq(0L, 1L))
    assert(chainUnion(root, "rows").count() === 15)
    assert(ChainIndex.readChainLatest(spark, root, "state").head().getLong(1) === 15L)
    // a failed delta (crash before the marker) commits NOTHING ...
    intercept[RuntimeException] {
      ChainIndex.publishSnapshotDelta(spark, root) { p =>
        spark.range(15, 18).select($"id", lit(2L).as("src")).write.parquet(s"$p/rows")
        throw new RuntimeException("writer died mid-append")
      }
    }
    assert(ChainIndex.currentSnapshotVersion(spark, root) === Some(1L))
    assert(chainUnion(root, "rows").count() === 15,
      "uncommitted delta rows leaked into the chain read")
    // ... and the retry reuses the version slot (orphan dir overwritten)
    assert(ChainIndex.publishSnapshotDelta(spark, root) { p =>
      spark.range(15, 18).select($"id", lit(2L).as("src")).write.parquet(s"$p/rows")
    } === 2L)
    assert(chainUnion(root, "rows").count() === 18)
    // v2 carries no `state`: the rewrite-shaped read falls back to the
    // newest chain dir that HAS the layer
    assert(ChainIndex.readChainLatest(spark, root, "state").head().getLong(1) === 15L)
    // the carriers decide: a layer a pinned dir carries reads, one that
    // no dir carries is a loud error, never an empty read
    assert(chainUnion(root, "rows").count() === 18)
    intercept[java.io.IOException](chainUnion(root, "absent"))
    // a new FULL version starts a new chain: chain reads see only it
    ChainIndex.publishSnapshot(spark, root) { p =>
      spark.range(100).select($"id", lit(3L).as("src")).write.parquet(s"$p/rows")
    }
    assert(ChainIndex.chainVersions(spark, root) === Seq(3L))
    assert(chainUnion(root, "rows").count() === 100)
    // chain-aware GC: 2 chains retained -> nothing deleted; a third
    // chain retires the FIRST chain wholesale (full + its deltas —
    // dropping a delta alone would silently lose appended rows)
    assert(ChainIndex.gcChains(spark, root, keepChains = 2) === Seq.empty)
    ChainIndex.publishSnapshot(spark, root) { p =>
      spark.range(7).select($"id", lit(4L).as("src")).write.parquet(s"$p/rows")
    }
    assert(ChainIndex.gcChains(spark, root, keepChains = 2) === Seq(0L, 1L, 2L))
    assert(chainUnion(root, "rows").count() === 7)
    // time travel inside the retained previous chain still works
    assert(spark.read.parquet(s"${ChainIndex.snapshotDirAt(spark, root, 3L)}/rows").count() === 100)
    // a delta can never be the first version of a table
    val empty = Files.createTempDirectory("graft_chain_").toString + "/e"
    intercept[java.io.IOException] {
      ChainIndex.publishSnapshotDelta(spark, empty)(_ => ())
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
          val r = ChainIndex.readChainLatest(spark, root, "")
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
    ChainIndex.publishSnapshot(spark, root) { p =>
      spark.range(10).write.parquet(s"$p/rows")
      Seq((0L, 10L)).toDF("v", "n").write.parquet(s"$p/state")
    }
    ChainIndex.publishSnapshotDelta(spark, root) { p =>
      spark.range(10, 15).write.parquet(s"$p/rows")
      Seq((1L, 15L)).toDF("v", "n").write.parquet(s"$p/state")
    }
    val dirs = ChainIndex.chainDirs(spark, root)
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
    val real = graft.ops.CommitLock.provider
    val counting = new graft.ops.CommitLockProvider {
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
          try Right(ChainIndex.publishSnapshot(spark, root) { p =>
            attempted.await(60, java.util.concurrent.TimeUnit.SECONDS)
            spark.range(10L * i).write.parquet(p)
          })
          catch { case t: Throwable => Left(t) })
      }, s"race-writer-$i")
    }
    graft.ops.CommitLock.provider = counting
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
    } finally graft.ops.CommitLock.provider = real
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
    assert(ChainIndex.currentSnapshotVersion(spark, root) === Some(0L))
    val n = ChainIndex.readChainLatest(spark, root, "").count()
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
    def race(p: graft.ops.CommitLockProvider, lock: org.apache.hadoop.fs.Path): Seq[Boolean] = {
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
    val checkThenAct = new graft.ops.CommitLockProvider {
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
    val conditionalPut = new graft.ops.CommitLockProvider {
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
    val prev = graft.ops.CommitLock.provider
    try {
      graft.ops.CommitLock.provider = conditionalPut
      val root = Files.createTempDirectory("graft_cput_pub_").toString + "/mv"
      assert(ChainIndex.publishSnapshot(spark, root) { p =>
        spark.range(7).write.parquet(p)
      } === 0L)
      assert(ChainIndex.readChainLatest(spark, root, "").count() === 7)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "__lock")),
        "provider release must run in the publish finally")
    } finally graft.ops.CommitLock.provider = prev
  }

  test("pair-graph MV: a concurrent labels reader across appends observes only committed versions") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val scratch = java.nio.file.Files.createTempDirectory("graft_pg_conc").toString
    try {
      docs.filter($"doc_id" % 5 =!= 0).write.mode("overwrite")
        .parquet(s"$scratch/documents.parquet")
      val root = llm.TextDedup.refreshPairGraphMv(spark, scratch)
      val base = llm.TextDedup.componentLabels(spark, scratch).count()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicLong(0)
      val reader = new Thread(() => {
        while (!stop.get()) {
          try {
            // labels are full rewrites per version and components only
            // merge on append, so doc count is monotone non-decreasing —
            // a torn read (half a version's files) breaks this or throws
            val n = ChainIndex.readChainLatest(spark, root, "labels").count()
            if (n < base) errs.add(s"labels shrank: $n < $base")
            reads.incrementAndGet()
          } catch {
            case e: Throwable => errs.add(s"labels read failed: ${e.getMessage}")
          }
        }
      }, "labels-reader")
      reader.start()
      try {
        llm.TextDedup.appendPairGraphMv(spark, scratch,
          docs.filter($"doc_id" % 10 === 0).select($"doc_id", $"text"))
        llm.TextDedup.appendPairGraphMv(spark, scratch,
          docs.filter($"doc_id" % 10 === 5).select($"doc_id", $"text"))
      } finally { stop.set(true); reader.join() }
      assert(errs.isEmpty, errs.toArray.mkString("\n"))
      assert(reads.get() > 0, "reader never got a scan in — test proves nothing")
      // an EMPTY batch publishes nothing — no no-op delta versions
      val vBefore = ChainIndex.currentSnapshotVersion(spark, root)
      llm.TextDedup.appendPairGraphMv(spark, scratch,
        docs.select($"doc_id" + 1000000L as "doc_id", $"text").limit(0))
      assert(ChainIndex.currentSnapshotVersion(spark, root) === vBefore)
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("pair-graph MV compaction: chain collapses to one full version; reads and later appends unchanged") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val baseDir = java.nio.file.Files.createTempDirectory("graft_pg_cmp_base").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_pg_cmp_full").toString
    try {
      docs.filter($"doc_id" % 5 =!= 0).write.mode("overwrite")
        .parquet(s"$baseDir/documents.parquet")
      docs.write.mode("overwrite").parquet(s"$fullDir/documents.parquet")
      val root = llm.TextDedup.refreshPairGraphMv(spark, baseDir)
      // compaction of a delta-less chain is a no-op (no new version)
      val v0 = ChainIndex.currentSnapshotVersion(spark, root)
      llm.TextDedup.compactPairGraphMv(spark, baseDir)
      assert(ChainIndex.currentSnapshotVersion(spark, root) === v0)
      llm.TextDedup.appendPairGraphMv(spark, baseDir,
        docs.filter($"doc_id" % 10 === 0).select($"doc_id", $"text"))
      assert(ChainIndex.chainVersions(spark, root).size === 2)
      def pairSet(dir: String) = llm.TextDedup.pairGraphPairs(spark, dir)
        .select($"doc_a", $"doc_b", $"n_common", $"n_a", $"n_b")
        .collect().map(_.toSeq).toSet
      def labelSet(dir: String) = llm.TextDedup.componentLabels(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (pairsBefore, labelsBefore) = (pairSet(baseDir), labelSet(baseDir))
      // compaction is a pure rewrite: one full version, identical reads
      // of every layer by its true shape, the sidecar recomputed
      ChainIndexSpec.assertCompactionPreservesLayers(spark, root, ChainIndexSpec.PairGraphLayers) {
        llm.TextDedup.compactPairGraphMv(spark, baseDir)
      }
      assert(ChainIndex.chainVersions(spark, root).size === 1)
      assert(pairSet(baseDir) === pairsBefore)
      assert(labelSet(baseDir) === labelsBefore)
      // an append AFTER compaction still verifies cross-batch pairs
      // against the PRE-compaction batch (batchdocs carried forward) —
      // the end state must equal a from-scratch rebuild on the full corpus
      llm.TextDedup.appendPairGraphMv(spark, baseDir,
        docs.filter($"doc_id" % 10 === 5).select($"doc_id", $"text"))
      assert(labelSet(baseDir) === labelSet(fullDir))
      assert(pairSet(baseDir) === pairSet(fullDir))
      // binding: at least one cross-batch pair SPANS the compaction
      // boundary (one endpoint per batch) — without the batchdocs
      // carry-forward its verification would silently come back empty
      assert(llm.TextDedup.pairGraphPairs(spark, baseDir)
        .filter($"doc_a" % 5 === 0 && $"doc_b" % 5 === 0
          && ($"doc_a" % 10 === 0) =!= ($"doc_b" % 10 === 0)).count() > 0,
        "no pair spans the compaction boundary at this SF — test is vacuous")
      // auto-compaction branch: re-keyed clone docs as a disjoint third
      // batch push the chain past the threshold (2 deltas > 1) — the
      // append must collapse it and keep every label
      val labelsBefore3 = llm.TextDedup.componentLabels(spark, baseDir).count()
      llm.TextDedup.appendPairGraphMv(spark, baseDir,
        docs.filter($"doc_id" % 10 === 3)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"),
        compactAfterDeltas = 1)
      assert(ChainIndex.chainVersions(spark, root).size === 1,
        "pair-graph auto-compaction did not fire past the delta threshold")
      assert(llm.TextDedup.componentLabels(spark, baseDir).count() > labelsBefore3)
    } finally {
      graft.ops.ArtifactRoots.delete(baseDir)
      graft.ops.ArtifactRoots.delete(fullDir)
    }
  }

  test("IVF MV compaction: one full version, frozen quantizer bit-exact, pruning preserved") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val S = ChainIndex
    val root = llm.Embeddings.buildIvfIndex(spark, sfDir, "spec_compact",
      _.filter($"vec_id" % 10 =!= 6 && $"vec_id" % 10 =!= 7))
    def batch(m: Int) = Tables.embeddings(spark, sfDir).filter($"vec_id" % 10 === m)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", $"v", $"v")))
    llm.Embeddings.appendIvfIndex(spark, root, batch(6))
    assert(S.chainVersions(spark, root).size === 2)
    def cells = llm.Embeddings.Ivf.read(spark, S.chainDirs(spark, root), "cells").get
    val setBefore = cells
      .select($"vec_id", $"cell").collect().toSet
    val centsBefore = S.readChainLatest(spark, root, "centroids").collect().toSet
    ChainIndexSpec.assertCompactionPreservesLayers(spark, root, ChainIndexSpec.IvfLayers) {
      llm.Embeddings.compactIvfIndex(spark, root)
    }
    // one full version; identical rows; the quantizer did not move
    assert(S.chainVersions(spark, root).size === 1)
    assert(cells
      .select($"vec_id", $"cell").collect().toSet === setBefore)
    assert(S.readChainLatest(spark, root, "centroids").collect().toSet === centsBefore)
    // the compacted layer still prunes at the directory level
    val pruned = cells.filter($"cell".isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty,
      s"cell predicate not a PartitionFilter on the compacted scan:\n${scan.metadata}")
    // an append after compaction extends the new chain under the SAME
    // frozen quantizer (routing identical to a from-scratch assignment)
    llm.Embeddings.appendIvfIndex(spark, root, batch(7))
    assert(S.chainVersions(spark, root).size === 2)
    val finalSet = cells
      .select($"vec_id", $"cell").collect().toSet
    val expected = llm.Embeddings.assignCells(
        batch(7), S.readChainLatest(spark, root, "centroids"))
      .select($"vec_id", $"cell").collect().toSet
    assert((finalSet -- setBefore) === expected)
  }

  test("auto-compaction: an append past the delta threshold collapses the chain, losing nothing") {
    import spark.implicits._
    val S = ChainIndex
    val root = llm.Embeddings.buildIvfIndex(spark, sfDir, "spec_autocmp",
      _.filter($"vec_id" % 10 =!= 6 && $"vec_id" % 10 =!= 7))
    def batch(m: Int) = Tables.embeddings(spark, sfDir).filter($"vec_id" % 10 === m)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", $"v", $"v")))
    // first append: 1 delta, not past the threshold — no compaction
    llm.Embeddings.appendIvfIndex(spark, root, batch(6), compactAfterDeltas = 1)
    assert(S.chainVersions(spark, root).size === 2)
    def cells = llm.Embeddings.Ivf.read(spark, S.chainDirs(spark, root), "cells").get
      .select($"vec_id", $"cell").collect().toSet
    val mid = cells
    // second append: 2 deltas > 1 — auto-compacts to one full version
    llm.Embeddings.appendIvfIndex(spark, root, batch(7), compactAfterDeltas = 1)
    assert(S.chainVersions(spark, root).size === 1)
    val fin = cells
    assert(mid.subsetOf(fin) && fin.size > mid.size, "auto-compaction lost or froze rows")
  }

  test("NSW append: inserted vectors become beam-reachable at rank 1; compaction and refresh honor the contract") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val scratch = java.nio.file.Files.createTempDirectory("graft_nsw_app").toString
    try {
      emb.write.mode("overwrite").parquet(s"$scratch/embeddings.parquet")
      // batch = CLONES of the 5 query vectors under fresh ids: after the
      // insert each query's true nearest neighbor is its clone (sim 1.0),
      // so "the beam search returns it at rank 1" is a binding, exact
      // reachability pin — it fails unless the insert wired back-edges
      // (resident → clone) the search can traverse
      def clones(off: Long) = emb.filter($"vec_id" < 5)
        .select(($"vec_id" + off).as("vec_id"), $"embedding".as("v"))
        .withColumn("nrm", sqrt(call_function("graft_dot", $"v", $"v")))
      val root = llm.Embeddings.buildNswIndex(spark, scratch)
      val before = llm.Embeddings.nswReadTopK(spark, scratch).collect().map(_.toSeq)
      val baseSnap = ChainIndex.chainDirs(spark, root).last
      val baseBytes = spark.read.parquet(s"$baseSnap/adj").count()
      llm.Embeddings.appendNswIndex(spark, scratch, clones(1000000L))
      assert(ChainIndex.chainVersions(spark, root).size === 2)
      // committed base version untouched (immutability)
      assert(spark.read.parquet(s"$baseSnap/adj").count() === baseBytes)
      // every query now finds its clone at rank 1 with sim 1.0
      val after = llm.Embeddings.nswReadTopK(spark, scratch).collect()
      for (qid <- 0L to 4L) {
        val r1 = after.find(r => r.getLong(0) == qid && r.getInt(1) == 1).get
        assert(r1.getLong(2) === qid + 1000000L,
          s"query $qid rank-1 is ${r1.getLong(2)}, not its inserted clone")
        assert(r1.getDouble(3) === 1.0)
      }
      // re-ingesting a resident id violates the CDC contract
      intercept[IllegalArgumentException] {
        llm.Embeddings.appendNswIndex(spark, scratch, clones(1000000L))
      }
      // empty batch publishes nothing
      val vBefore = ChainIndex.currentSnapshotVersion(spark, root)
      llm.Embeddings.appendNswIndex(spark, scratch, clones(3000000L).limit(0))
      assert(ChainIndex.currentSnapshotVersion(spark, root) === vBefore)
      // compaction: one full version, identical results, appends continue
      ChainIndexSpec.assertCompactionPreservesLayers(spark, root, ChainIndexSpec.NswLayers) {
        llm.Embeddings.compactNswIndex(spark, root)
      }
      assert(ChainIndex.chainVersions(spark, root).size === 1)
      val compacted = llm.Embeddings.nswReadTopK(spark, scratch).collect().map(_.toSeq)
      assert(compacted.toSeq === after.map(_.toSeq).toSeq)
      llm.Embeddings.appendNswIndex(spark, scratch, clones(2000000L))
      val second = llm.Embeddings.nswReadTopK(spark, scratch).collect()
      for (qid <- 0L to 4L) {
        val r1 = second.find(r => r.getLong(0) == qid && r.getInt(1) == 1).get
        // two sim-1.0 clones now; ties break by cid asc
        assert(r1.getLong(2) === qid + 1000000L && r1.getDouble(3) === 1.0)
        val r2 = second.find(r => r.getLong(0) == qid && r.getInt(1) == 2).get
        assert(r2.getLong(2) === qid + 2000000L && r2.getDouble(3) === 1.0)
      }
      // auto-compaction branch: a third append pushes the chain past the
      // threshold (2 deltas > 1) and must collapse it WITHOUT losing any
      // clone generation's reachability (the vecs archive rides through)
      llm.Embeddings.appendNswIndex(spark, scratch, clones(3000000L),
        compactAfterDeltas = 1)
      assert(ChainIndex.chainVersions(spark, root).size === 1,
        "NSW auto-compaction did not fire past the delta threshold")
      val third = llm.Embeddings.nswReadTopK(spark, scratch).collect()
      for (qid <- 0L to 4L; (rnk, off) <- Seq((1, 1000000L), (2, 2000000L), (3, 3000000L))) {
        val r = third.find(r => r.getLong(0) == qid && r.getInt(1) == rnk).get
        assert(r.getLong(2) === qid + off && r.getDouble(3) === 1.0,
          s"query $qid rank $rnk lost a clone generation through auto-compaction")
      }
      // a refresh derives from the BASE corpus only: appended vectors are
      // superseded (the refresh-owns-the-corpus contract) and results
      // return to the pre-append answer on a fresh single-version chain
      llm.Embeddings.buildNswIndex(spark, scratch)
      assert(ChainIndex.chainVersions(spark, root).size === 1)
      val refreshed = llm.Embeddings.nswReadTopK(spark, scratch).collect().map(_.toSeq)
      assert(refreshed.toSeq === before.toSeq)
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("IVF auto-compaction: 4 appends at compactAfterDeltas=2 bound the chain and match the never-compacted twin") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val S = ChainIndex
    val pred: DataFrame => DataFrame = _.filter($"vec_id" % 20 < 12)
    // twin roots over the SAME resident set: A auto-compacts, N never does
    val rootA = llm.Embeddings.buildIvfIndex(spark, sfDir, "r15_ac", pred)
    val rootN = llm.Embeddings.buildIvfIndex(spark, sfDir, "r15_nc", pred)
    for (m <- 12 to 15) {
      llm.Embeddings.appendIvfIndex(spark, rootA, vecBatch(m), compactAfterDeltas = 2)
      llm.Embeddings.appendIvfIndex(spark, rootN, vecBatch(m))
      // the read-slope contract: the chain a reader unions never exceeds
      // 1 full + compactAfterDeltas deltas once an append returns
      assert(S.chainVersions(spark, rootA).size <= 3,
        s"chain ${S.chainVersions(spark, rootA)} exceeds the compaction bound")
    }
    // appends 1,2 leave 1,2 deltas; append 3 trips 3 > 2 and collapses;
    // append 4 lands one delta on the compacted chain
    assert(S.chainVersions(spark, rootA).size === 2)
    assert(S.chainVersions(spark, rootN).size === 5)
    // read-equivalence with the never-compacted twin, both layers
    def cells(root: String) = llm.Embeddings.Ivf.read(spark, S.chainDirs(spark, root), "cells").get
      .select($"vec_id", $"cell").collect().toSet
    assert(cells(rootA) === cells(rootN))
    assert(S.readChainLatest(spark, rootA, "centroids").collect().toSet
      === S.readChainLatest(spark, rootN, "centroids").collect().toSet,
      "compaction moved the frozen quantizer")
    // every layer, by its true shape, reads as on the never-compacted
    // twin; the compacted full version recomputed its sidecar
    val L = ChainIndexSpec.IvfLayers
    assert(ChainIndexSpec.layerRows(spark, rootA, L) === ChainIndexSpec.layerRows(spark, rootN, L))
    assert(ChainIndexSpec.fullVersionHasBloom(spark, rootA) === L.bloom)
    // the bound IS the read cost: one FileSourceScan per chain dir in the
    // union read, so the compacted chain plans 2 scans where the
    // never-compacted twin plans 5
    def scans(root: String) = llm.Embeddings.Ivf.read(spark, S.chainDirs(spark, root), "cells").get
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.size
    assert(scans(rootA) === 2 && scans(rootN) === 5,
      s"chain-read scan counts ${scans(rootA)}/${scans(rootN)} don't match dir counts")
  }

  test("NSW auto-compaction: 4 insert batches at compactAfterDeltas=2 bound the chain and match the never-compacted twin") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val S = ChainIndex
    val rootA = llm.Embeddings.buildNswIndex(spark, sfDir, "r15ac")
    val rootN = llm.Embeddings.buildNswIndex(spark, sfDir, "r15nc")
    for (i <- 1 to 4) {
      llm.Embeddings.appendNswIndex(spark, sfDir, clones(i * 1000000L), "r15ac",
        compactAfterDeltas = 2)
      llm.Embeddings.appendNswIndex(spark, sfDir, clones(i * 1000000L), "r15nc")
      assert(S.chainVersions(spark, rootA).size <= 3,
        s"chain ${S.chainVersions(spark, rootA)} exceeds the compaction bound")
    }
    assert(S.chainVersions(spark, rootA).size === 2)
    assert(S.chainVersions(spark, rootN).size === 5)
    // identical index content: edge set and appended-vector archive
    def adj(root: String) = llm.Embeddings.Nsw.read(spark, S.chainDirs(spark, root), "adj").get
      .select($"src", $"dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def vecIds(root: String) = llm.Embeddings.Nsw.read(spark, S.chainDirs(spark, root), "vecs").get
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(adj(rootA) === adj(rootN))
    assert(vecIds(rootA) === vecIds(rootN))
    val L = ChainIndexSpec.NswLayers
    assert(ChainIndexSpec.layerRows(spark, rootA, L) === ChainIndexSpec.layerRows(spark, rootN, L))
    assert(ChainIndexSpec.fullVersionHasBloom(spark, rootA) === L.bloom)
    assert(vecIds(rootA).size === 20, "4 clone batches x 5 vectors must all survive compaction")
    // identical query answers through the production read path
    val qA = llm.Embeddings.nswQueryFromIndex(spark, sfDir, rootA).collect().map(_.toSeq).toSeq
    val qN = llm.Embeddings.nswQueryFromIndex(spark, sfDir, rootN).collect().map(_.toSeq).toSeq
    assert(qA === qN)
    // clone generations stayed beam-reachable through the compactions:
    // all four tie at sim 1.0, the top-3 beam keeps the lowest cids, so
    // ranks 1..3 must be generations 1..3 exactly (generation 4's
    // presence is already pinned by the vecs/adj set equality above)
    for (qid <- 0L to 4L; (rnk, off) <- Seq((1, 1000000L), (2, 2000000L), (3, 3000000L))) {
      val r = qA.find(r => r(0) == qid && r(1) == rnk).get
      assert(r(2) === qid + off,
        s"query $qid rank $rnk is ${r(2)}, not clone generation $off — compaction lost reachability")
    }
  }

  test("pair-graph auto-compaction: 4 appends at compactAfterDeltas=2 bound the chain and match the never-compacted twin") {
    import spark.implicits._
    val S = ChainIndex
    val docs = Tables.documents(spark, sfDir)
    val dirA = java.nio.file.Files.createTempDirectory("graft_r15_pg_a").toString
    val dirN = java.nio.file.Files.createTempDirectory("graft_r15_pg_n").toString
    try {
      for (d <- Seq(dirA, dirN))
        docs.filter($"doc_id" % 20 < 12).write.mode("overwrite")
          .parquet(s"$d/documents.parquet")
      val rootA = llm.TextDedup.refreshPairGraphMv(spark, dirA)
      val rootN = llm.TextDedup.refreshPairGraphMv(spark, dirN)
      for (m <- 12 to 15) {
        val batch = docs.filter($"doc_id" % 20 === m).select($"doc_id", $"text")
        llm.TextDedup.appendPairGraphMv(spark, dirA, batch, compactAfterDeltas = 2)
        llm.TextDedup.appendPairGraphMv(spark, dirN, batch)
        assert(S.chainVersions(spark, rootA).size <= 3,
          s"chain ${S.chainVersions(spark, rootA)} exceeds the compaction bound")
      }
      assert(S.chainVersions(spark, rootA).size === 2)
      assert(S.chainVersions(spark, rootN).size === 5)
      // read-equivalence across every consumer-facing layer
      def pairSet(dir: String) = llm.TextDedup.pairGraphPairs(spark, dir)
        .select($"doc_a", $"doc_b", $"n_common", $"n_a", $"n_b")
        .collect().map(_.toSeq).toSet
      def labelSet(dir: String) = llm.TextDedup.componentLabels(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet(dirA) === pairSet(dirN))
      assert(labelSet(dirA) === labelSet(dirN))
      val L = ChainIndexSpec.PairGraphLayers
      assert(ChainIndexSpec.layerRows(spark, rootA, L) === ChainIndexSpec.layerRows(spark, rootN, L))
      assert(ChainIndexSpec.fullVersionHasBloom(spark, rootA) === L.bloom)
    } finally {
      graft.ops.ArtifactRoots.delete(dirA)
      graft.ops.ArtifactRoots.delete(dirN)
    }
  }

  test("failed appends leak no checkpoint blocks: dup-guard and stale-lock retries release everything") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val root = llm.Embeddings.buildIvfIndex(spark, sfDir, "r15_leak",
      _.filter($"vec_id" % 10 =!= 7))
    val nswRoot = llm.Embeddings.buildNswIndex(spark, sfDir, "r15leak")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ONE shared stored-norm expression (round-15 advice: hand-rolling
    // sqrt(graft_dot(v,v)) here would silently diverge from the index on a
    // future norm change)
    def resident(m: Int) = emb.filter($"vec_id" % 10 === m && $"vec_id" % 10 =!= 7)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", llm.Embeddings.norm($"v"))
    def fresh = emb.filter($"vec_id" % 10 === 7)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", llm.Embeddings.norm($"v"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // dup-guard failure: the batch checkpoint (and, for NSW, the corpus
    // union checkpoint) must be released, not stranded per retry
    intercept[IllegalArgumentException](
      llm.Embeddings.appendIvfIndex(spark, root, resident(3)))
    // clone offset 10 lands on vec_ids 10..14 — RESIDENT ids in the
    // identity-pred corpus (vec_id >= 5), so the dup guard must fire
    intercept[IllegalArgumentException](
      llm.Embeddings.appendNswIndex(spark, sfDir, clones(10L), "r15leak"))
    awaitNoLeak(before, "dup-guard failure")
    // publish-lock contention: everything materialized before the publish
    // must be released on the failure path too
    fs.create(new org.apache.hadoop.fs.Path(root + "__lock"), false).close()
    intercept[java.io.IOException](llm.Embeddings.appendIvfIndex(spark, root, fresh))
    awaitNoLeak(before, "publish-lock failure")
    assert(Staging.breakPublishLock(spark, root))
    // the retry after recovery succeeds — the guard saw no phantom state
    llm.Embeddings.appendIvfIndex(spark, root, fresh)
    assert(ChainIndex.chainVersions(spark, root).size === 2)
    // NSW stale lock: batch + corpus + adjacency + insert-beam checkpoints
    fs.create(new org.apache.hadoop.fs.Path(nswRoot + "__lock"), false).close()
    val b2 = spark.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.IOException](
      llm.Embeddings.appendNswIndex(spark, sfDir, clones(7000000L), "r15leak"))
    awaitNoLeak(b2, "NSW publish-lock failure")
    assert(Staging.breakPublishLock(spark, nswRoot))
    llm.Embeddings.appendNswIndex(spark, sfDir, clones(7000000L), "r15leak")
    assert(ChainIndex.chainVersions(spark, nswRoot).size === 2)
  }

  test("pair-graph failed append: stale lock releases the pairs checkpoint; retry lands the batch once") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val scratch = java.nio.file.Files.createTempDirectory("graft_r15_pg_lock").toString
    try {
      docs.filter($"doc_id" % 5 =!= 0).write.mode("overwrite")
        .parquet(s"$scratch/documents.parquet")
      val root = llm.TextDedup.refreshPairGraphMv(spark, scratch)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val batch = docs.filter($"doc_id" % 10 === 0).select($"doc_id", $"text")
      fs.create(new org.apache.hadoop.fs.Path(root + "__lock"), false).close()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[java.io.IOException](
        llm.TextDedup.appendPairGraphMv(spark, scratch, batch))
      awaitNoLeak(before, "pair-graph publish-lock failure")
      assert(ChainIndex.currentSnapshotVersion(spark, root) === Some(0L),
        "blocked append must commit nothing")
      assert(Staging.breakPublishLock(spark, root))
      llm.TextDedup.appendPairGraphMv(spark, scratch, batch)
      assert(ChainIndex.chainVersions(spark, root).size === 2)
      // the retried batch landed exactly once (no phantom rows from the
      // failed attempt): every batch doc has one sizes row
      val szs = llm.TextDedup.PairGraph.read(spark, ChainIndex.chainDirs(spark, root), "sizes").get
        .groupBy($"doc_id").agg(count(lit(1)).as("k"))
        .filter($"k" > 1).count()
      assert(szs === 0, "retry landed duplicate sizes rows")
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("chained-artifact reads: repeated passes over multi-delta indexes stay flat with zero leaked blocks") {
    import org.apache.spark.sql.DataFrame
    // the PlanAuditSpec long-session flatness pin extended to CHAIN-heavy reads (round-14
    // verdict item 5): the IVF read resolves a 5-dir pin per pass, the NSW
    // read additionally builds and frees a corpus∪vecs checkpoint per
    // pass — a delta-read or pin-resolution leak accumulates blocks and
    // shows the monotonic-growth shape. The 5-dir chains are built HERE
    // (dedicated tags), not borrowed from the twin tests' side effects,
    // so the pin survives isolation/reordering.
    graft.GraftExtensions.ensure(spark)
    val predF: DataFrame => DataFrame = _.filter(col("vec_id") % 20 < 12)
    val rootI = llm.Embeddings.buildIvfIndex(spark, sfDir, "r15_flat", predF)
    for (m <- 12 to 15) llm.Embeddings.appendIvfIndex(spark, rootI, vecBatch(m))
    val rootG = llm.Embeddings.buildNswIndex(spark, sfDir, "r15flat")
    for (i <- 1 to 4) llm.Embeddings.appendNswIndex(spark, sfDir, clones(i * 1000000L), "r15flat")
    assert(ChainIndex.chainVersions(spark, rootI).size === 5)
    assert(ChainIndex.chainVersions(spark, rootG).size === 5)
    val passes = Seq[(String, () => Long)](
      ("ivf_chain_read", () => llm.Embeddings.ivfQueryFromIndex(spark, sfDir, rootI).count()),
      ("nsw_chain_read", () => llm.Embeddings.nswQueryFromIndex(spark, sfDir, rootG).count()))
    for ((name, run) <- passes) {
      run() // warm-up: JIT/codegen/IO ramp is not the leak signal
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // Round-17 robustification (VERDICT r16 item 1, "more passes, not a
      // looser bound"): the driver's r16 run failed this pin with passes
      // 0.37,0.40,0.42,1.13,1.58 — two slow TAIL passes, yet the 12-pass
      // reproduction recorded in OPTIMIZATION_r17.md (exact block/GC/job
      // accounting) shows both reads dead flat with ZERO leaked blocks and
      // a CONSTANT per-pass job count, on a box whose same-plan bench
      // passes vary 5×. A real leak grows storage
      // (caught exactly by the `leaked` assert below) and inflates EVERY
      // later pass; a box stall inflates a few. So: 9 passes, and the
      // flatness bound compares the MEDIAN of the last 4 to the median of
      // the first 4 — strictly tighter against sustained growth than the
      // old min-based 2-pass tail, immune to a lone stall.
      val ts = (1 to 9).map { _ =>
        val t0 = System.nanoTime()
        run()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(leaked.isEmpty, s"$name leaked storage across chain-read passes: $leaked")
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val head = median(ts.take(4))
      val tail = median(ts.takeRight(4))
      val bound = math.max(2.5 * head, head + 0.5)
      assert(tail <= bound,
        f"$name%s chain-read passes not flat: ${ts.map(t => f"$t%.2f").mkString(",")}%s (tail median $tail%.2f, bound $bound%.2f)")
      // looser final-pass ceiling with ONE retry (round-15 advice: a lone
      // GC/IO stall on the last pass must not flake the suite; a real
      // leak keeps growing and blows the retry pass too)
      val lastBound = math.max(4.0 * ts.min, ts.min + 1.0)
      val last = if (ts.last <= lastBound) ts.last else {
        val t0 = System.nanoTime()
        run()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      assert(last <= lastBound,
        f"$name%s final pass blown twice: ${(ts :+ last).map(t => f"$t%.2f").mkString(",")}%s (last bound $lastBound%.2f)")
    }
  }

  test("IdBloom sidecars: every chain version carries one, the guard is bloom-first, a missing sidecar degrades to the exact scan") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val S = ChainIndex
    val pred: DataFrame => DataFrame = _.filter($"vec_id" % 20 < 12)
    val root = llm.Embeddings.buildIvfIndex(spark, sfDir, "r16_bloom", pred)
    llm.Embeddings.appendIvfIndex(spark, root, vecBatch(12))
    val dirs = S.chainDirs(spark, root)
    assert(dirs.size === 2)
    // every committed version (full build AND append delta) has a sidecar
    for (d <- dirs) assert(sidecarBlobs(d).nonEmpty, s"no idbloom sidecar in $d")
    assert(graft.ops.IdBloom.load(spark, dirs).exists(_.size === 2))

    // bloom-first disjointness proof: a fresh batch that no blob flags
    // must return overlaps=false WITHOUT constructing the exact resident
    // frame (the steady-state CDC case — zero resident scan)
    var exactBuilt = false
    def exact: DataFrame = {
      exactBuilt = true
      S.readChainIn(spark, dirs, "cells").select($"vec_id")
    }
    val fresh = vecBatch(13)
    assert(!graft.ops.IdBloom.overlaps(spark, dirs, fresh, "vec_id", exact))
    // blooms are deterministic over fixed data: on this fixture the fresh
    // slice is either never flagged (assert the scan was skipped) or a
    // false positive re-checks exactly (either way overlaps=false above)
    val blooms = graft.ops.IdBloom.load(spark, dirs).get
    val flagged = fresh.collect().map(_.getLong(0))
      .count(id => blooms.exists(_.mightContainLong(id)))
    if (flagged == 0) assert(!exactBuilt,
      "nothing was flagged but the exact resident frame was constructed")
    // a resident batch is always caught (bloom has no false negatives)
    assert(graft.ops.IdBloom.overlaps(spark, dirs, vecBatch(3), "vec_id",
      S.readChainIn(spark, dirs, "cells").select($"vec_id")))

    // filterFresh: a mixed batch keeps exactly its not-yet-resident rows
    val mixed = vecBatch(3).unionByName(vecBatch(13))
    val kept = graft.ops.IdBloom.filterFresh(spark, dirs, mixed, "vec_id",
      S.readChainIn(spark, dirs, "cells").select($"vec_id"))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === fresh.select($"vec_id").collect().map(_.getLong(0)).toSet)

    // a NULL id must behave IDENTICALLY with and without sidecars: the
    // bloom probe conservatively flags null (a primitive-Long UDF would
    // silently DROP the row from both filter legs), and the exact joins
    // never match a null key — so filterFresh retains it and overlaps
    // never counts it, on both paths
    val nullBatch = spark.sql(
      "select cast(null as bigint) as vec_id union all select cast(9999999991 as bigint)")
    def exactIds = S.readChainIn(spark, dirs, "cells").select($"vec_id")
    assert(graft.ops.IdBloom.filterFresh(spark, dirs, nullBatch, "vec_id", exactIds)
      .count() === 2)
    assert(!graft.ops.IdBloom.overlaps(spark, dirs, nullBatch, "vec_id", exactIds))
    // fallback parity: an empty dir list has no sidecars → exact path
    assert(graft.ops.IdBloom.filterFresh(spark, Seq.empty, nullBatch, "vec_id", exactIds)
      .count() === 2)
    assert(!graft.ops.IdBloom.overlaps(spark, Seq.empty, nullBatch, "vec_id", exactIds))

    // an empty batch publishes nothing (the streaming-sink empty-tick
    // contract, cheapest possible pin)
    val vBefore = S.chainVersions(spark, root)
    llm.Embeddings.appendIvfIndex(spark, root, vecBatch(12).filter(lit(false)))
    assert(S.chainVersions(spark, root) === vBefore)

    // ABSENCE degrades cost, never correctness: strip ONE version's
    // sidecar — load must refuse the partial set and both guard forms
    // must fall back to the exact resident scan with identical answers
    fsOf(dirs.head).delete(
      new org.apache.hadoop.fs.Path(s"${dirs.head}/idbloom"), true)
    assert(graft.ops.IdBloom.load(spark, S.chainDirs(spark, root)).isEmpty)
    intercept[IllegalArgumentException](
      llm.Embeddings.appendIvfIndex(spark, root, vecBatch(3)))
    llm.Embeddings.appendIvfIndex(spark, root, vecBatch(13))
    assert(S.chainVersions(spark, root).size === 3)
  }

  test("compaction recomputes ONE sidecar over the union ids (bounding blob growth) and heals a sidecar-less chain") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val S = ChainIndex
    val pred: DataFrame => DataFrame = _.filter($"vec_id" % 20 < 12)
    val root = llm.Embeddings.buildIvfIndex(spark, sfDir, "r16_cmp", pred)
    llm.Embeddings.appendIvfIndex(spark, root, vecBatch(12))
    llm.Embeddings.appendIvfIndex(spark, root, vecBatch(13))
    // strip one version's sidecar BEFORE compacting — the guard degrades
    // to the exact scan here, and compaction must HEAL it (recompute from
    // the exact union id frame), not propagate the gap
    val preDirs = S.chainDirs(spark, root)
    fsOf(preDirs.head).delete(
      new org.apache.hadoop.fs.Path(s"${preDirs.head}/idbloom"), true)
    assert(graft.ops.IdBloom.load(spark, preDirs).isEmpty)
    llm.Embeddings.compactIvfIndex(spark, root)
    val dirs = S.chainDirs(spark, root)
    assert(dirs.size === 1)
    // exactly ONE recomputed blob — not one per historical version
    // (accumulating copies would grow per-row probe cost and union fpp
    // linearly with total appends ever made) and not a bit-level merge
    // (blooms of different expectedNumItems are bit-incompatible; the
    // recompute is from exact ids, so no false-negative risk)
    assert(sidecarBlobs(dirs.head).size === 1)
    assert(graft.ops.IdBloom.load(spark, dirs).exists(_.size === 1))
    // the copied set still covers every resident id: a fully-resident
    // idempotent replay filters to empty and publishes NOTHING
    val vBefore = S.chainVersions(spark, root)
    llm.Embeddings.appendIvfIndex(spark, root,
      vecBatch(12).unionByName(vecBatch(13)), idempotent = true)
    assert(S.chainVersions(spark, root) === vBefore,
      "replay of compacted-away batches published a version")
    // and the loud (non-idempotent) guard still fires on resident ids
    intercept[IllegalArgumentException](
      llm.Embeddings.appendIvfIndex(spark, root, vecBatch(3)))
  }

  test("two concurrent ingest streams on one IVF index serialize and dedup (single-writer by construction, not contract)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.GraftExtensions.ensure(spark)
    val S = ChainIndex
    val pred: DataFrame => DataFrame = _.filter($"vec_id" % 20 < 12)
    val rootS = llm.Embeddings.buildIvfIndex(spark, sfDir, "r16_race", pred)
    val rootB = llm.Embeddings.buildIvfIndex(spark, sfDir, "r16_racetwin", pred)
    def vecs(m: Int) = emb.filter($"vec_id" % 20 === m)
      .select($"vec_id", $"embedding".as("v"))
    def rows(m: Int) = vecs(m).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val inA = MemoryStream[(Long, Array[Float])]
    val inB = MemoryStream[(Long, Array[Float])]
    val ckA = java.nio.file.Files.createTempDirectory("graft_r16_race_a").toString
    val ckB = java.nio.file.Files.createTempDirectory("graft_r16_race_b").toString
    val qA = graft.streaming.EventStreams
      .ivfIngestSink(inA.toDF.toDF("vec_id", "v"), rootS, ckA).start()
    val qB = graft.streaming.EventStreams
      .ivfIngestSink(inB.toDF.toDF("vec_id", "v"), rootS, ckB).start()
    try {
      // B's batch fully CONTAINS A's plus fresh rows — whichever stream
      // wins the writers' monitor, the loser's overlap must drop inside
      // the monitor and only the remainder may land
      inA.addData(rows(12): _*)
      inB.addData((rows(12) ++ rows(13)): _*)
      val tA = new Thread(() => qA.processAllAvailable())
      val tB = new Thread(() => qB.processAllAvailable())
      tA.start(); tB.start()
      tA.join(120000); tB.join(120000)
      assert(!tA.isAlive && !tB.isAlive, "concurrent ingest deadlocked")
      // the batch twin: the same rows as two disjoint sequential appends
      for (m <- Seq(12, 13))
        llm.Embeddings.appendIvfIndex(spark, rootB,
          vecs(m).withColumn("nrm", llm.Embeddings.norm($"v")))
      def cells(root: String) = llm.Embeddings.Ivf.read(spark, S.chainDirs(spark, root), "cells").get
      val cellsS = cells(rootS)
      assert(cellsS.groupBy($"vec_id").agg(count(lit(1)).as("k"))
        .filter($"k" > 1).count() === 0,
        "concurrent ingest landed a vec_id twice")
      assert(cellsS.select($"vec_id", $"cell").collect().toSet ===
        cells(rootB).select($"vec_id", $"cell").collect().toSet,
        "concurrent streamed index diverged from the sequential batch twin")
    } finally { qA.stop(); qB.stop() }
  }

  test("registered compaction queries equal their oracle-sharing twins (local hash parity, not just the driver gate)") {
    // emb_nsw_compact shares nswAppendTopKSql and cur_neardedup_compact
    // shares nearDedupBestSql — those claims are certified at the driver
    // by DuckDB hashes; this pin makes them fail IN-SUITE, where the diff
    // is debuggable, instead of only at the round boundary
    val nswC = SparkEntry.queries("emb_nsw_compact")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val nswA = SparkEntry.queries("emb_nsw_append")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(nswC === nswA, "emb_nsw_compact diverged from emb_nsw_append")
    val curC = SparkEntry.queries("cur_neardedup_compact")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val curB = SparkEntry.queries("cur_neardedup_best")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(curC === curB, "cur_neardedup_compact diverged from cur_neardedup_best")
  }

  test("layering: ops and llm never name the weather domain; weather/Staging holds no chain store") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala/graft")
    def sources(sub: String) = {
      val s = Files.walk(main.resolve(sub))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val scanned = sources("ops") ++ sources("llm")
    assert(scanned.size > 20, s"only ${scanned.size} sources under $main — the pin would be vacuous")
    val offenders = scanned.filter(f => f != main.resolve("ops/WeatherQueries.scala") &&
      Files.readString(f).contains("graft.weather"))
    assert(offenders.isEmpty, s"generic layers import the weather domain: ${offenders.mkString(", ")}")
    val staging = Files.readString(main.resolve("weather/Staging.scala"))
    for (t <- Seq("_commit_", "snap_", "gcChains", "chainDirs"))
      assert(!staging.contains(t), s"weather/Staging.scala still holds chain-store code: $t")
  }
}

object ChainIndexSpec {
  import org.apache.spark.sql.SparkSession

  /** The TRUE read shape of every chain layer of one artifact family and
    * whether its versions carry an id-bloom sidecar — spelled out here,
    * independently of the families' layer tables, so a wrong shape in a
    * table (say, labels declared append-shaped) fails the compaction pins.
    */
  final case class TrueLayers(appendShaped: Seq[String], rewriteShaped: Seq[String], bloom: Boolean)

  val IvfLayers = TrueLayers(Seq("cells"), Seq("centroids"), bloom = true)
  val NswLayers = TrueLayers(Seq("adj", "vecs"), Nil, bloom = false)
  val PairGraphLayers =
    TrueLayers(Seq("sigs", "sizes", "pairs", "batchdocs"), Seq("labels"), bloom = true)

  /** Every layer the current chain carries, read by its true shape
    * (append-shaped: the chain union; rewrite-shaped: the newest
    * carrier), as a row multiset per layer.
    */
  def layerRows(spark: SparkSession, root: String, t: TrueLayers): Map[String, Map[Seq[Any], Int]] = {
    val dirs = ChainIndex.chainDirs(spark, root)
    def carried(l: String) = dirs.exists(d => new java.io.File(s"$d/$l").isDirectory)
    (t.appendShaped ++ t.rewriteShaped).filter(carried).map { l =>
      val df =
        if (t.appendShaped.contains(l)) ChainIndex.readChainIn(spark, dirs, l)
        else ChainIndex.readChainLatestIn(spark, dirs, l)
      l -> df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    }.toMap
  }

  /** Whether the chain's FULL version carries an `idbloom/` sidecar. */
  def fullVersionHasBloom(spark: SparkSession, root: String): Boolean = {
    val full = ChainIndex.snapshotDirAt(spark, root, ChainIndex.chainVersions(spark, root).head)
    new java.io.File(s"$full/idbloom").isDirectory
  }

  /** Runs `compact` and checks it collapsed the chain into one full
    * version that reads row-identically, layer by layer and by true
    * shape, and carries a sidecar exactly when the family has resident
    * ids.
    */
  def assertCompactionPreservesLayers(spark: SparkSession, root: String, t: TrueLayers)(
      compact: => Unit): Unit = {
    val before = layerRows(spark, root, t)
    assert(ChainIndex.chainVersions(spark, root).size > 1, "nothing to compact — the pin is vacuous")
    compact
    assert(ChainIndex.chainVersions(spark, root).size == 1, "compaction left more than one version")
    val after = layerRows(spark, root, t)
    assert(after.keySet == before.keySet, s"layers ${before.keySet} became ${after.keySet}")
    for (l <- before.keys)
      assert(after(l) == before(l), s"layer $l reads differently after compaction")
    assert(fullVersionHasBloom(spark, root) == t.bloom,
      s"compacted version idbloom/ present=${!t.bloom}, want ${t.bloom}")
  }
}
