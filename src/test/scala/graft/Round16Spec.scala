package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.weather.Staging

/** Round-16 pins — the O(batch) ingest-guard contract and the
  * concurrent-ingest story:
  *
  *  - per-version IdBloom sidecars exist on every committed chain version,
  *    the dup guard probes them BEFORE touching the resident id column
  *    (and skips the exact frame entirely when nothing is flagged — the
  *    steady-state CDC case), a chain missing ANY sidecar degrades to the
  *    exact scan (cost, never correctness), a null id behaves identically
  *    with and without sidecars, and compaction RECOMPUTES one fresh blob
  *    over the exact union id frame — bounding probe cost and union fpp
  *    against blob accumulation, and healing a sidecar-less chain;
  *  - two concurrent idempotent ingest streams on ONE index serialize on
  *    the writers' monitor and dedup instead of corrupting or tripping a
  *    guard — the single-writer contract upgraded from prose
  *    (EventStreams' delivery-semantics comment) to a pin;
  *  - the two round-16 registered compaction queries (emb_nsw_compact,
  *    cur_neardedup_compact) are result-identical to the oracle-sharing
  *    twins they claim to equal, pinned locally instead of only at the
  *    driver's DuckDB gate.
  */
class Round16Spec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  // the ONE shared stored-norm expression — llm.Embeddings.norm, never a
  // hand-rolled copy (round-15 advice)
  private def vecBatch(m: Int) = emb.filter(col("vec_id") % 20 === m)
    .select(col("vec_id"), col("embedding").as("v"))
    .withColumn("nrm", llm.Embeddings.norm(col("v")))

  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sidecarBlobs(versionDir: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$versionDir/idbloom")
    val fs = fsOf(versionDir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName).filter(_.endsWith(".bin"))
  }

  test("IdBloom sidecars: every chain version carries one, the guard is bloom-first, a missing sidecar degrades to the exact scan") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val S = Staging
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
    val S = Staging
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
    val S = Staging
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
}
