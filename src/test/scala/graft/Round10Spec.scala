package graft

import org.apache.spark.sql.functions._

import graft.llm.TextDedup

/** Round-10 hardening contracts: the L2/L2c df-capped candidate
  * generation (losslessness + the hot-shingle worst case it exists for).
  * The G0/G1 graph contracts live in ops/GraphSpec.
  */
class Round10Spec extends SparkSpec {

  test("L2/L2c df-cap: capped candidates lose no qualifying pair vs the uncapped join") {
    import spark.implicits._
    // reference pair set: the pre-cap any-shared-shingle self-join,
    // rebuilt inline from the same native shingler
    graft.GraftExtensions.ensure(spark)
    val sh = Tables.documents(spark, sfDir)
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id", explode(call_function("graft_shingles", $"text", lit(3))).as("s"))
      .cache()
    try {
      val uncapped = sh.as("x").join(sh.as("y"),
          $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("da"), $"y.doc_id".as("db")).distinct()
      val capped = TextDedup.cappedCandidates(sh)
        .select($"da", $"db")
      // the cap may DROP candidates (that is the point) but every pair it
      // keeps must be a real shared-shingle pair...
      assert(capped.join(uncapped, Seq("da", "db"), "left_anti").isEmpty,
        "capped candidate set contains a pair with no shared shingle")
      // ...and no pair passing either final threshold may be lost: the
      // qualifying sets computed from the capped pipeline must equal the
      // ones the uncapped reference pair set yields
      val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      def qualify(cand: org.apache.spark.sql.DataFrame, jaccard: Boolean) = {
        val i = cand.join(sh.as("va"), $"va.doc_id" === $"da")
          .join(sh.as("vb"), $"vb.doc_id" === $"db" && $"va.s" === $"vb.s")
          .groupBy($"da", $"db").agg(count(lit(1)).as("i"))
          .join(szs.as("sa"), $"sa.doc_id" === $"da")
          .join(szs.as("sb"), $"sb.doc_id" === $"db")
        val f = if (jaccard) $"i" * 5 >= ($"sa.n" + $"sb.n" - $"i") * 4
                else $"i" * 10 >= least($"sa.n", $"sb.n") * 9
        i.filter(f).select($"da", $"db")
      }
      for (jac <- Seq(true, false)) {
        val ref = qualify(uncapped, jac).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = qualify(capped, jac).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === ref,
          s"capped pipeline (jaccard=$jac) lost ${(ref -- got).take(5)} / gained ${(got -- ref).take(5)}")
      }
    } finally { sh.unpersist(); () }
  }

  test("L2 df-cap worst case: a boilerplate shingle in every doc generates no candidate blowup") {
    import spark.implicits._
    // 200 docs sharing a 6-word boilerplate header (4 hot shingles with
    // df=200) + unique 12-word bodies; docs 0 and 1 are true near-dups.
    // The uncapped inverted index would emit >= C(200,2) = 19900 pairs
    // from the hot shingles alone; the probe cap excludes them (max df
    // puts them in no doc's rare half), so candidates collapse to the
    // docs genuinely sharing RARE shingles — the planted pair.
    val boiler = "terms of service apply to everyone"
    val docs = (0 until 200).map { id =>
      val body =
        if (id == 1) (0 until 12).map(w => s"tok0_$w").mkString(" ") + " extra"
        else (0 until 12).map(w => s"tok${id}_$w").mkString(" ")
      (id.toLong, s"$boiler $body")
    }.toDF("doc_id", "text")
    val gotPairs = TextDedup.ngramJaccardFrom(spark, docs).collect()
    assert(gotPairs.length === 1 &&
      gotPairs.head.getLong(0) === 0L && gotPairs.head.getLong(1) === 1L,
      s"expected exactly the planted (0,1) near-dup, got ${gotPairs.length} pairs")
    graft.GraftExtensions.ensure(spark)
    val sh = docs.select($"doc_id",
      explode(call_function("graft_shingles", $"text", lit(3))).as("s"))
    val nCand = TextDedup.cappedCandidates(sh).count()
    // every pair that meets ONLY on boilerplate is gone; the bound leaves
    // room for boundary shingles (boiler->body transitions are unique per
    // doc) but is 3 orders of magnitude under the uncapped 19900
    assert(nCand <= 20, s"df-cap failed: $nCand candidate pairs from a hot-shingle corpus")
  }

  test("E6 PQ: one shared vector cache spans training/encode/re-rank — no parquet rescan, no blocks left") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // construction runs the training collects, which materialize the
    // shared vector cache; the FINAL plan must then source every phase
    // (encode, ADC query tables, re-rank fetch) from that cache. Pre-
    // fusion the action-scoped cache was released by the FIRST training
    // collect, so this plan showed raw embeddings parquet scans instead.
    val out = graft.llm.Embeddings.pqTopK(spark, sfDir)
    val phys = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(phys.toString.contains("InMemoryTableScan"),
      "final PQ plan does not read the shared vector cache:\n" + phys.toString.take(1500))
    // a FileSourceScanExec NODE on embeddings.parquet would mean a phase
    // rescans the source; the path string inside an InMemoryRelation's
    // recorded build plan is fine (that's the cache's provenance)
    val rawScans = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.tableIdentifier.isEmpty && f.relation.location.rootPaths.exists(_.toString.contains("embeddings")) => f
    }
    assert(rawScans.isEmpty,
      s"final PQ plan still rescans the embeddings parquet: ${rawScans.size} raw scans")
    assert(out.count() > 0)
    // and the result-scoped release leaves no blocks pinned
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"pqTopK left persistent RDDs: $leaked")
  }

  test("L4f fused simhash clusters reconcile with the L4 pair listing") {
    import spark.implicits._
    val pairs = TextDedup.simhash(spark, sfDir)
    val paired = pairs.select($"doc_a".as("d"))
      .unionByName(pairs.select($"doc_b".as("d"))).distinct().count()
    val cl = TextDedup.simhashClusters(spark, sfDir)
    // every doc appearing in a pair lands in exactly one >=2 cluster, so
    // cluster membership must partition the paired-doc set exactly
    val members = cl.agg(sum($"n_members")).head().getLong(0)
    assert(members === paired,
      s"cluster membership $members does not partition the $paired paired docs")
    assert(cl.filter($"n_members" < 2).isEmpty, "singleton cluster leaked through the filter")
  }

  test("E14 multi-probe: contains every E3 single-probe pair (recall can only grow)") {
    import spark.implicits._
    val e3 = graft.llm.Embeddings.lshNearDup(spark, sfDir)
    val e14 = graft.llm.Embeddings.multiProbeNearDup(spark, sfDir)
    // probes ADD index lookups, never remove them: every true-chunk
    // collision E3 finds must survive, with the identical verified sim
    assert(e3.join(e14, Seq("va", "vb", "sim"), "left_anti").isEmpty,
      "multi-probe lost a single-probe pair")
    val (n3, n14) = (e3.count(), e14.count())
    assert(n14 >= n3, s"E14 $n14 pairs < E3 $n3")
    info(s"E3 $n3 verified pairs, E14 $n14 (probe gain ${n14 - n3})")
  }

  test("E15 IVFADC: full result shape, and ADC scores reconcile with E6 where they overlap") {
    import spark.implicits._
    val e15 = graft.llm.Embeddings.ivfadcTopK(spark, sfDir)
    val rows = e15.collect()
    assert(rows.length === 15, s"expected 5 queries x top-3, got ${rows.length}")
    // both operators quantize with the SAME codebooks, so any (qid, cid)
    // both surface must carry the identical ADC approximation — a
    // cross-query reconciliation of the whole quantization stack
    val e6 = graft.llm.Embeddings.pqTopK(spark, sfDir)
      .select($"qid", $"cid", $"apx_sim".as("apx6"))
    val joined = e15.select($"qid", $"cid", $"apx_sim").join(e6, Seq("qid", "cid"))
    assert(joined.count() > 0, "no overlap between E15 and E6 results — reconciliation vacuous")
    assert(joined.filter($"apx_sim" =!= $"apx6").isEmpty,
      "cell-restricted ADC disagrees with corpus-wide ADC on a shared candidate")
  }

  test("L8 incremental dedup: report partitions the incoming batch exactly") {
    import spark.implicits._
    val got = TextDedup.incrDedup(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("bucket", expr(graft.ops.ScalarFuncs.splitBucketExpr))
    val nIncoming = docs.filter($"bucket" >= 80).count()
    val Seq(inc, dup, nw) = got
      .agg(sum($"n_incoming"), sum($"n_dup"), sum($"n_new"))
      .head().toSeq.map(_.asInstanceOf[Long])
    assert(inc === nIncoming, s"report covers $inc of $nIncoming incoming docs")
    assert(dup + nw === inc, "dup + new must partition the incoming batch")
    assert(got.filter($"n_dup" < 0 || $"n_new" < 0).isEmpty)
  }
}
