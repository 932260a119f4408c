package graft

import org.apache.spark.sql.functions._

/** Round-12 pins: the near-dup pair-graph MV (build-once LSH pairs + CC
  * labels shared by C3/C12/C18), the E21 read-only IVF path, and the
  * ScopedCache abandonment TTL.
  */
class PairGraphMvSpec extends SparkSpec {

  test("pair-graph MV: labels artifact equals a fresh LSH+CC derivation") {
    import spark.implicits._
    val fromMv = llm.TextDedup.componentLabels(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = graft.ops.Graph.connectedComponents(
        llm.TextDedup.minhashLsh(spark, sfDir).select($"doc_a", $"doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromMv === fresh)
    assert(fromMv.nonEmpty, "pair graph is empty at this SF — pins are vacuous")
  }

  test("pair-graph refresh: sigs, sizes, pairs and labels equal a derivation written here") {
    import spark.implicits._
    val root = llm.TextDedup.refreshPairGraphMv(spark, sfDir)
    def layer(name: String) =
      llm.TextDedup.PairGraph.read(spark, weather.Staging.chainDirs(spark, root), name).get
    // distinct word 3-grams of every document with at least 3 tokens
    val tok = Tables.documents(spark, sfDir).select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 3)
    val sh = tok.select($"doc_id", explode(array_distinct(transform(
      sequence(lit(1), size($"t") - 2), i =>
        concat_ws(" ", element_at($"t", i), element_at($"t", i + 1), element_at($"t", i + 2))))).as("s"))
    // 12 minima of (a·h + b) mod p over each doc's shingle hashes h
    val p = 1000000007L
    val hashed = sh.select($"doc_id", $"s",
      (conv(substring(md5($"s"), 1, 8), 16, 10).cast("bigint") % p).as("h"))
    val mins = hashed.groupBy($"doc_id").agg(count(lit(1)).as("n"),
      (0 until 12).map(i => min(($"h" * (2 * i + 3) + (5 * i + 7)) % p).as(s"m$i")): _*)
    val minRows = mins.collect()
    val wantSizes = minRows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n"))).toSet
    val wantSigs = minRows.flatMap(r => (0 until 6).map(b =>
      (r.getAs[Long]("doc_id"), b, s"${r.getAs[Long](s"m${2 * b}")}|${r.getAs[Long](s"m${2 * b + 1}")}"))).toSet
    assert(layer("sizes").as[(Long, Long)].collect().toSet === wantSizes)
    assert(layer("sigs").select($"doc_id", $"band", $"sig").as[(Long, Int, String)].collect().toSet ===
      wantSigs)
    // candidates share a band signature; exact Jaccard >= 0.5 on the driver
    val sets = sh.as[(Long, String)].collect().groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val cands = wantSigs.groupBy { case (_, b, sg) => (b, sg) }.values
      .flatMap(g => for (x <- g.map(_._1); y <- g.map(_._1) if x < y) yield (x, y)).toSet
    val wantPairs = cands.flatMap { case (a, b) =>
      val i = (sets(a) & sets(b)).size.toLong
      val (na, nb) = (sets(a).size.toLong, sets(b).size.toLong)
      if (2 * i >= na + nb - i) Some((a, b, i, na, nb, i.toDouble / (na + nb - i))) else None
    }
    assert(wantPairs.nonEmpty, "no near-dup pairs at this SF — the pin is vacuous")
    assert(layer("pairs").as[(Long, Long, Long, Long, Long, Double)].collect().toSet === wantPairs)
    // labels: min doc_id reachable over the pairs, by union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val px = parent.getOrElseUpdate(x, x); if (px == x) x else find(px) }
    for ((a, b, _, _, _, _) <- wantPairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantLabels = parent.keys.map(x => (x, find(x))).toSet
    assert(layer("labels").select($"doc_id", $"component").as[(Long, Long)].collect().toSet === wantLabels)
  }

  test("pair-graph refresh: a failure mid-publish commits nothing and leaves no persisted RDDs") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_pg_refresh_fail").toString
    val key = "spark.sql.sources.commitProtocolClass"
    val protocol = spark.conf.getOption(key)
    try {
      Tables.documents(spark, sfDir).write.parquet(s"$scratch/documents.parquet")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // the `pairs` layer write fails at job set-up: by then the per-doc
      // checkpoint, the shingle cache and the verified-pair checkpoint
      // exist, and the other layer writes run alongside
      spark.conf.set(key, classOf[FailPairsLayerCommitProtocol].getName)
      val err = try intercept[Exception](llm.TextDedup.refreshPairGraphMv(spark, scratch))
        finally protocol match {
          case Some(c) => spark.conf.set(key, c)
          case None => spark.conf.unset(key)
        }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains(FailPairsLayerCommitProtocol.Message)),
        s"refresh failed for another reason: $err")
      val root = llm.TextDedup.pairGraphRoot(scratch)
      assert(weather.Staging.currentSnapshotVersion(spark, root) === None, "a failed refresh committed")
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(leaked.isEmpty, s"failed refresh left persisted RDDs: $leaked")
      // and a retry publishes
      llm.TextDedup.refreshPairGraphMv(spark, scratch)
      assert(weather.Staging.currentSnapshotVersion(spark, root) === Some(0L))
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("pair-graph MV: consumers are memoized reads; refresh re-publishes") {
    // first consumer (above test or this call) built the artifact
    llm.TextDedup.componentLabels(spark, sfDir).count()
    val root = new java.io.File(llm.TextDedup.pairGraphRoot(sfDir))
    assert(root.isDirectory, s"$root missing after componentLabels")
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        cs.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
      }
      walk(root).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = snapshot()
    assert(before.nonEmpty)
    // a second consumer must READ, not rebuild: byte layout untouched
    llm.Curation.dupClusters(spark, sfDir).count()
    assert(snapshot() === before, "memoized consumer rewrote the artifact")
    // an explicit refresh must re-publish (new part files / mtimes)
    llm.TextDedup.refreshPairGraphMv(spark, sfDir)
    assert(snapshot() !== before, "refresh did not rewrite the artifact")
  }

  test("pair-graph MV append: incremental batch ingest equals a full rebuild") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val resident = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    // scratch corpora: the resident 80% as its own dataset dir (the MV is
    // keyed by dir), and the full corpus as the rebuild reference
    val baseDir = java.nio.file.Files.createTempDirectory("graft_pg_base").toString
    val fullDir = java.nio.file.Files.createTempDirectory("graft_pg_full").toString
    try {
      resident.write.mode("overwrite").parquet(s"$baseDir/documents.parquet")
      docs.write.mode("overwrite").parquet(s"$fullDir/documents.parquet")
      llm.TextDedup.refreshPairGraphMv(spark, baseDir)
      // TWO appends, so cross-batch pairs (batch2 doc near-dupping a
      // batch1 doc, whose shingles are NOT in the corpus table) are
      // exercised — the single-append form silently missed them
      llm.TextDedup.appendPairGraphMv(spark, baseDir,
        batch.filter($"doc_id" % 10 === 0).select($"doc_id", $"text"))
      llm.TextDedup.appendPairGraphMv(spark, baseDir,
        batch.filter($"doc_id" % 10 =!= 0).select($"doc_id", $"text"))
      def labelMap(dir: String) = llm.TextDedup.componentLabels(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val incremental = labelMap(baseDir)
      val rebuilt = labelMap(fullDir)
      assert(incremental === rebuilt)
      // the pin must be binding: the batches actually contributed pairs,
      // including at least one CROSS-BATCH pair (both endpoints appended)
      val basePairs = llm.TextDedup.pairGraphPairs(spark, baseDir)
      assert(basePairs.filter($"doc_a" % 5 === 0 || $"doc_b" % 5 === 0).count() > 0,
        "no batch-side pairs at this SF — append test is vacuous")
      assert(basePairs.filter($"doc_a" % 5 === 0 && $"doc_b" % 5 === 0
          && ($"doc_a" % 10 === 0) =!= ($"doc_b" % 10 === 0)).count() > 0,
        "no cross-batch pairs at this SF — the second-append path is vacuous")
      // and the appended pair SET matches the full rebuild's
      val fullPairs = llm.TextDedup.pairGraphPairs(spark, fullDir)
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_a", $"doc_b", $"n_common", $"n_a", $"n_b")
          .collect().map(_.toSeq).toSet
      assert(pairSet(basePairs) === pairSet(fullPairs))
    } finally {
      // the MV roots are on the shutdown hook; the scratch corpora are
      // not — delete them here or every run leaks two corpus copies
      graft.ops.ArtifactRoots.delete(baseDir)
      graft.ops.ArtifactRoots.delete(fullDir)
    }
  }

  test("pair-graph consumers never re-shingle: plans are artifact reads") {
    // the durable form of the round-12 fix: if a refactor silently
    // reconnects a consumer to the raw-text derivation, its physical
    // plan re-acquires the shingle generator / LSH stages — pin their
    // absence (the quality signal legitimately scans documents; it must
    // be the ONLY corpus-shaped work left in these plans)
    llm.TextDedup.componentLabels(spark, sfDir).count() // ensure built
    for (name <- Seq("cur_neardedup_best", "cur_leak_safe_split", "cur_dup_clusters")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("graft_shingles"), s"$name re-derives shingles")
      assert(!plan.toLowerCase.contains("1000000007"), s"$name re-runs minhash")
    }
  }

  test("cur_neardedup_mv (refresh + artifact read) equals cur_neardedup_best") {
    val mv = llm.Curation.nearDedupMv(spark, sfDir).collect().map(_.toSeq)
    val best = llm.Curation.nearDedupBest(spark, sfDir).collect().map(_.toSeq)
    assert(mv.toSeq === best.toSeq)
  }

  test("E21 emb_ivf_read equals the inline emb_ivf_topk on the same index recipe") {
    val read = llm.Embeddings.ivfReadTopK(spark, sfDir).collect().map(_.toSeq)
    val inline = llm.Embeddings.ivfTopK(spark, sfDir).collect().map(_.toSeq)
    assert(read.toSeq === inline.toSeq)
  }

  test("ScopedCache TTL: an abandoned untilResultConsumed scope frees its blocks") {
    import spark.implicits._
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val cached = Seq(1L, 2L, 3L).toDF("v").cache()
    cached.count() // materialize the blocks
    val result = cached.agg(sum($"v").as("s"))
    graft.ops.ScopedCache.untilResultConsumed(cached, result)
    // result is NEVER executed — the abandonment TTL must release the
    // cache after AbandonAfterActions foreign actions complete
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).nonEmpty)
    for (_ <- 1 to graft.ops.ScopedCache.AbandonAfterActions)
      spark.range(1).count(): Unit
    // listener delivery is async on the listener bus — poll briefly
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"abandoned scope still pins RDDs: $leaked")
  }
}

/** Fails the set-up of every write into a `pairs` layer directory. */
class FailPairsLayerCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: org.apache.hadoop.mapreduce.JobContext): Unit = {
    if (path.endsWith("/pairs")) throw new java.io.IOException(s"${FailPairsLayerCommitProtocol.Message}: $path")
    super.setupJob(jobContext)
  }
}

object FailPairsLayerCommitProtocol {
  val Message = "injected pairs-layer write failure"
}
