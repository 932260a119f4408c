package graft

/** Fleet-wide physical-plan audit: every registered query is planned and
  * scanned for scale antipatterns. BroadcastNestedLoopJoin is allowed only
  * where the build side is constant-size BY DESIGN:
  *  - emb_*: broadcast query set / centroid table / hyperplane weights
  *    (fixed-k, corpus-independent);
  *  - ta_bm25 / ta_heavy_hitters: a ONE-row broadcast of corpus stats —
  *    the lazy alternative to a driver-side collect of scalars;
  *  - wx_*: the synthetic doc GENERATOR's range() cross-products (3 cities
  *    × 3 runs × 4 params × 73 hours — a data source, not a data path).
  * A CartesianProduct (non-broadcast cross) is never acceptable.
  */
class PlanAuditSpec extends SparkSpec {

  private val bnljAllowed = Set(
    "ta_bm25", "ta_heavy_hitters", "ta_lm_xent",
    "ta_hybrid_rrf", // ONE-row broadcasts: corpus stats + the anchor vector
    "ta_pmi",      // ONE-row broadcasts of the unigram/bigram totals
    "w11_cusum",   // ONE-row broadcast of (total, n_hours)
    "g2_triangles", // ONE-row broadcasts of edge count + backbone threshold
    "g3_kcore",     // same backbone threshold broadcasts (shared builder)
    "g4_concomp", "g5_hopdist", // same backbone threshold broadcasts
    "g6_linkpred",  // same backbone threshold broadcasts (shared builder)
    "g7_labelprop", // same backbone threshold broadcasts (shared builder)
    "g8_sssp",      // same backbone threshold broadcasts + ONE-row source-node seed
    "g0_backbone_mv", // ONE-row × ONE-row stats cross product over the MV
    "a20_kmv",     // ONE-row broadcasts of sketch stats (nsk, hk, cnt_both)
    "ta_nb_classify", // ONE-row broadcasts of train totals/vocab size + the
                      // C-row class dim (bounded by the class count)
    "cur_budget_cut", // ONE-row broadcast of the token budget
    "cur_temp_mix",   // ONE-row broadcast of (n_total, w_total)
    "emb_nsw_topk", // 4-seed × n_queries constant entry-point broadcast (beam seeding)
    "j10_bloom_join", // ONE-row broadcast of the Bloom bitmap map
    "a17_welch", // pairwise < join of the GROUP-COUNT-sized stats table (5 rows)
    "emb_ivf_mv", "emb_ivf_append", // same fixed-k centroid broadcasts as emb_ivf_topk (build + probe phases)
    "emb_cosine_topk", "emb_ivf_topk", "emb_lsh_neardup", "emb_semdedup",
    "emb_pq_topk", "emb_mmr_topk",
    "emb_multiprobe_neardup", // same 16×64 CONSTANT hyperplane crossJoin as emb_lsh_neardup
    "emb_ivfadc_topk", // same ONE-row codebook/centroid broadcasts as emb_pq_topk/emb_ivf_topk
    "emb_recall_eval", // composes E1+E2 — same broadcast query set / centroids
    "emb_ndcg_eval",   // composes E1+E2 the same way (graded twin of recall_eval)
    "emb_hard_negatives", // same broadcast anchor set as emb_cosine_topk
    "emb_knn_graph", // same fixed-size hyperplane broadcast as emb_lsh_neardup
    "emb_rproj_topk", // same broadcast query set as emb_cosine_topk
    "emb_mrl_eval",   // same broadcast query set, once per prefix width
    "cur_dsir",    // ONE-row broadcast of (pool total, target total, vocab)
    "wx_dim_condition", "wx_dim_location", "wx_staging", "wx_incremental",
    "wx_fact_params_forecast", "wx_fact_params_history",
    "wx_fact_sun_forecast", "wx_fact_sun_history")

  test("no query plans a CartesianProduct; BNLJ only on the allowlist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val cart = if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct") else None
      val bnlj = if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        Some(s"$name: unexpected BroadcastNestedLoopJoin") else None
      cart.toSeq ++ bnlj.toSeq
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no payload binary column crosses a shuffle exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    // Media/audio payloads must be reduced to features BEFORE any shuffle
    // (the M2/M3/M4 scale contract: codecs are map-side, bytes never ride
    // an exchange). Bounded-size AGGREGATE STATE is the legitimate
    // exception, not a payload: ObjectHashAggregate serializes typed
    // Aggregator / percentile / collect partial buffers as a binary
    // attribute named `buf`, per-group-bounded by construction — excluded
    // by that name. Anything else binary in a shuffle is a payload leak.
    val binShuffleAllowed = Set.empty[String]
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case other                    => Seq(other)
      }
      self ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      def payloadBin(e: ShuffleExchangeExec) =
        e.output.filter(a => a.dataType == BinaryType && a.name != "buf")
      val shuffledBin = walk(fn(spark, sfDir).queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if payloadBin(e).nonEmpty =>
          payloadBin(e).map(_.name).mkString(",")
      }
      if (shuffledBin.nonEmpty && !binShuffleAllowed(name))
        Some(s"$name shuffles binary columns: ${shuffledBin.mkString("; ")}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("cache hygiene: no query leaves blocks persisted after execution") {
    // DERIVE the set of internally-caching queries instead of hand-
    // maintaining it (the list drifted in rounds 8 and 9): construct
    // every registered query and watch the ScopedCache scope counter —
    // any construction that opens a scope is a caching query. Eagerly-
    // evaluating constructions (driver-held training state, MV writes)
    // may materialize blocks during the scan, so the leak baseline is
    // taken AFTER a clearCache that resets the scan's side effects.
    val constructionFailures = scala.collection.mutable.ListBuffer[String]()
    val derived = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val b = graft.ops.ScopedCache.scopesOpened
      val bc = graft.ops.Ckpt.scopesOpened
      try { fn(spark, sfDir); () }
      catch { case scala.util.control.NonFatal(e) =>
        constructionFailures += s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}"
      }
      // a query is storage-relevant if it opened a CACHE scope or a
      // CHECKPOINT scope (round 13: localCheckpoint blocks are the leak
      // class clearCache can't fix — they must release on consume too)
      if (graft.ops.ScopedCache.scopesOpened > b ||
          graft.ops.Ckpt.scopesOpened > bc) Some(name) else None
    }
    // a query whose construction throws would otherwise be silently
    // classified as non-caching and vanish from the audit — surface it
    assert(constructionFailures.isEmpty,
      s"query construction failed during the derivation scan:\n${constructionFailures.mkString("\n")}")
    // the mechanism must actually fire — a broken counter would otherwise
    // make this test pass vacuously
    val sentinel = Seq("llm_ngram_jaccard", "llm_minhash_lsh", "emb_pq_topk", "g1_pagerank",
      // checkpoint-scope sentinels: NSW (beam loop) and SSSP (Bellman–Ford
      // loop) must register with the Ckpt counter or the leak audit is
      // blind to the whole localCheckpoint class
      "emb_nsw_topk", "g8_sssp")
    assert(sentinel.forall(derived.contains),
      s"scope-counter derivation broke: derived=${derived.mkString(",")}")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (name <- derived) {
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      assert(n > 0, s"$name returned no rows")
    }
    // listener delivery is async on the listener bus — poll briefly
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked: Set[Int] = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"queries left persistent RDDs behind: $leaked")
  }

  test("checkpoint release: a completion the bus delivers late is not the scope's consumer") {
    import spark.implicits._
    val sc = spark.sparkContext
    // hold the shared listener queue at the first job end, so the SQL
    // completion of the action that materializes `x` arrives only after
    // the release scope below has opened — the order a busy bus produces
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val blocker = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (armed.compareAndSet(true, false)) gate.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    sc.addSparkListener(blocker)
    try {
      val x = spark.range(100).select($"id".as("lbl")).localCheckpoint(false)
      armed.set(true)
      assert(x.agg(org.apache.spark.sql.functions.sum($"lbl")).head().getLong(0) === 4950L)
      val result = graft.ops.Ckpt.freeOnConsumed(x.select($"lbl".as("v")), Seq(x))
      gate.countDown()
      org.apache.spark.sql.GraftListenerBridge.drain(sc)
      assert(result.collect().map(_.getLong(0)).sum === 4950L)
      org.apache.spark.sql.GraftListenerBridge.drain(sc)
      val rddId = x.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.get
      assert(!sc.getPersistentRDDs.contains(rddId), "consumed checkpoint not released")
    } finally { gate.countDown(); sc.removeSparkListener(blocker) }
  }
}
