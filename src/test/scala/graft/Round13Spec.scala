package graft

import org.apache.spark.sql.functions._

import graft.ops.Incremental
import graft.llm.Embeddings

/** Round-13 operators: A22 CDC MERGE apply and E19 graded ranking eval.
  * The DuckDB oracle pins cross-engine parity on the derived feeds; these
  * tests pin the semantic branches the derived feed cannot produce
  * (I-on-present, D-on-absent at a chosen key) and recompute the nDCG
  * arithmetic independently from the two underlying rankings.
  */
class Round13Spec extends SparkSpec {

  test("A22 applyChanges: every MERGE branch on a hand-built base + feed") {
    import spark.implicits._
    // base keys: 1 (keep), 2 (update), 3 (delete), 4 (D superseded by U —
    // resurrect), 5 (U superseded by D), 6 (I on PRESENT key — upsert)
    val base = Seq(
      (1L, "A", 100L), (2L, "B", 200L), (3L, "C", 300L),
      (4L, "D", 400L), (5L, "E", 500L), (6L, "F", 600L),
      // k=10/k=11 have a legitimately NULL base status: classification
      // must key on base-row PRESENCE, not on a value being null
      (10L, null, 1000L), (11L, null, 1100L)
    ).toDF("k", "status", "cents")
    val feed = Seq(
      // k=2: two updates — only the later (seq 2) image may survive
      (2L, 1L, "U", "X", 201L), (2L, 2L, "U", "Y", 202L),
      // k=3: plain delete
      (3L, 1L, "D", "-", 0L),
      // k=4: delete then update — last writer resurrects with new image
      (4L, 1L, "D", "-", 0L), (4L, 2L, "U", "R", 404L),
      // k=5: update then delete — delete wins
      (5L, 1L, "U", "Z", 505L), (5L, 2L, "D", "-", 0L),
      // k=6: INSERT op on a present key — degrades to upsert
      (6L, 1L, "I", "G", 606L),
      // k=7: insert of an absent key
      (7L, 1L, "I", "H", 700L),
      // k=8: UPDATE op on an absent key — upsert-inserts
      (8L, 1L, "U", "J", 800L),
      // k=9: delete of an absent key — a no-op, never an error
      (9L, 1L, "D", "-", 0L),
      // k=10: update whose FULL IMAGE nulls the status out — the image
      // is taken verbatim, never coalesced against the stale base value
      (10L, 1L, "U", null, 1001L)
    ).toDF("k", "seq", "op", "c_status", "c_cents")
    val got = Incremental.applyChanges(base, feed)
      .orderBy($"k")
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("status"),
        r.getAs[Long]("cents"), r.getAs[String]("action")))
      .toSeq
    assert(got === Seq(
      (1L, "A", 100L, "keep"),
      (2L, "Y", 202L, "update"),   // later seq wins, earlier image gone
      (4L, "R", 404L, "update"),   // D then U: last writer resurrects
      (6L, "G", 606L, "update"),   // I on present = upsert
      (7L, "H", 700L, "insert"),
      (8L, "J", 800L, "insert"),   // U on absent = upsert
      (10L, null, 1001L, "update"), // NULL image field applied verbatim;
                                    // action = update (base row PRESENT)
      (11L, null, 1100L, "keep")    // untouched NULL-status row passes
                                    // through as keep, never 'insert'
    ))
  }

  test("A22 cdc_merge: derived-feed query is internally consistent at sf0.001") {
    import spark.implicits._
    val out = Incremental.cdcMerge(spark, sfDir).collect()
    val keys = out.map(_.getAs[Long]("k")).toSet
    // seq-1 D victims (k%5=0, base members, not resurrected) are gone
    assert(keys.forall(k => !(k % 5 == 0 && k % 3 != 0 && k % 15 != 0)))
    // seq-2 D victims (k%10=1) are gone even though seq-1 updated them
    assert(keys.forall(k => k % 10 != 1))
    // inserts (k%15=3) are present with the literal image
    val ins = out.filter(r => r.getAs[Long]("k") % 15 == 3)
    assert(ins.nonEmpty)
    assert(ins.forall(r => r.getAs[String]("action") == "insert" &&
      r.getAs[String]("status") == "N" &&
      math.abs(r.getAs[Double]("price") - 77.77) < 1e-9))
    // untouched keys keep their base action
    assert(out.filter(_.getAs[String]("action") == "keep").nonEmpty)
  }

  test("X25 graft_winnow_fps: native == the SQL-lambda spec on every corpus doc") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    val docs = graft.Tables.documents(spark, sfDir)
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 7)
    val mismatches = docs.select($"doc_id",
        graft.llm.TextAnalysis.winnowFpsLambda.as("want"),
        call_function("graft_winnow_fps", $"text").as("got"))
      .filter(!($"want" <=> $"got"))
      .count()
    assert(mismatches === 0L)
    // boundary contract: < 7 tokens (no full window) -> empty; null -> null
    val edge = Seq((1L, "a b c d e f"), (2L, null: String))
      .toDF("doc_id", "text")
      .select($"doc_id", call_function("graft_winnow_fps", $"text").as("fps"))
      .orderBy($"doc_id").collect()
    assert(edge(0).getAs[Seq[Long]]("fps") === Seq.empty)
    assert(edge(1).isNullAt(1))
  }

  test("S15 schema evolution: null-fill matrix per producer generation") {
    import spark.implicits._
    val out = graft.sources.Formats.schemaEvolution(spark, sfDir).collect()
    val g1 = out.filter(_.getAs[Long]("gen") == 1L)
    val g2 = out.filter(_.getAs[Long]("gen") == 2L)
    assert(g1.nonEmpty && g2.nonEmpty)
    // v1 files never had `priority`; v2 files retired `status` — each
    // absent column must surface as the normalized fill, never leak a
    // value from the other generation
    assert(g1.forall(r => r.getAs[String]("priority") == "NONE" &&
      r.getAs[String]("status") != "NA"))
    assert(g2.forall(r => r.getAs[String]("status") == "NA" &&
      r.getAs[String]("priority") != "NONE"))
    // nothing dropped: group counts cover every order exactly once
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total === graft.Tables.orders(spark, sfDir).count())
  }

  test("E20 nsw_mv: beam search from the persisted adjacency == fresh build") {
    import spark.implicits._
    val fresh = Embeddings.nswTopK(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("cid"), r.getAs[Double]("sim"))).toSeq
    val mv = Embeddings.nswMvTopK(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("cid"), r.getAs[Double]("sim"))).toSeq
    assert(mv === fresh,
      "round-tripped adjacency must answer identically to the fresh build")
    assert(mv.nonEmpty)
  }

  test("E19 ndcg_eval: recomputed from the two rankings; ALL row is the exact rollup") {
    import spark.implicits._
    val w = Map(1 -> 1000000000L, 2 -> 630929753L, 3 -> 500000000L)
    val ideal = 4761859506L
    val bf = Embeddings.cosineTopK(spark, sfDir).filter($"rnk" <= 3)
      .select($"qid", $"cid", $"rnk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> (4L - r.getAs[Int]("rnk")))
      .toMap
    val ann = Embeddings.ivfTopK(spark, sfDir)
      .select($"qid", $"rnk", $"cid").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"), r.getAs[Long]("cid")))
    val expected = ann.groupBy(_._1).map { case (qid, hits) =>
      val dcg = hits.map { case (_, rnk, cid) =>
        bf.getOrElse((qid, cid), 0L) * w(rnk)
      }.sum
      val fr = hits.filter { case (_, _, cid) => bf.contains((qid, cid)) }
        .map(_._2).sorted.headOption
      qid -> (dcg, fr.map(1000000L / _).getOrElse(0L))
    }
    val got = Embeddings.ndcgEval(spark, sfDir).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("dcg"), r.getAs[Double]("ndcg"), r.getAs[Long]("mrr_micro")))
      .toMap
    expected.foreach { case (qid, (dcg, mrr)) =>
      val (gdcg, gndcg, gmrr) = got(qid)
      assert(gdcg === dcg, s"dcg mismatch for qid=$qid")
      assert(gmrr === mrr, s"mrr mismatch for qid=$qid")
      val want = BigDecimal(dcg.toDouble / ideal)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(gndcg - want) < 1e-9)
      assert(gndcg >= 0.0 && gndcg <= 1.0)
    }
    // the ALL row rolls up in exact int64, never a float sum
    val (alldcg, allndcg, allmrr) = got(-1L)
    assert(alldcg === expected.values.map(_._1).sum)
    assert(allmrr === expected.values.map(_._2).sum / expected.size)
    val wantAll = BigDecimal(alldcg.toDouble / (expected.size * ideal.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(allndcg - wantAll) < 1e-9)
  }

  test("E22 emb_nsw_read: equals the inline search and is a memoized read") {
    val read = Embeddings.nswReadTopK(spark, sfDir).collect().map(_.toSeq)
    val inline = Embeddings.nswTopK(spark, sfDir).collect().map(_.toSeq)
    assert(read.toSeq === inline.toSeq)
    assert(read.nonEmpty)
    // second read must NOT rewrite the artifact (byte layout untouched)
    val root = new java.io.File(Embeddings.nswRoot(sfDir))
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val cs = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        cs.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
      }
      walk(root).map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = snapshot()
    assert(before.nonEmpty)
    val again = Embeddings.nswReadTopK(spark, sfDir).collect().map(_.toSeq)
    assert(again.toSeq === read.toSeq)
    assert(snapshot() === before, "memoized NSW read rewrote the artifact")
  }

  test("pair-graph append: re-ingesting a resident doc_id is rejected, MV stays valid") {
    import spark.implicits._
    llm.TextDedup.componentLabels(spark, sfDir).count() // ensure built
    val resident = Tables.documents(spark, sfDir).select($"doc_id", $"text").limit(1)
    val e = intercept[IllegalArgumentException] {
      llm.TextDedup.appendPairGraphMv(spark, sfDir, resident)
    }
    assert(e.getMessage.contains("disjoint"))
    // the guard fires BEFORE any mutation: the MV is still readable
    assert(llm.TextDedup.componentLabels(spark, sfDir).count() > 0)
  }

  test("pair-graph append: a mid-append failure commits NOTHING — MV stays at its previous version") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val scratch = java.nio.file.Files.createTempDirectory("graft_pg_atomic").toString
    try {
      docs.filter($"doc_id" % 5 =!= 0).write.mode("overwrite")
        .parquet(s"$scratch/documents.parquet")
      llm.TextDedup.refreshPairGraphMv(spark, scratch)
      val root = llm.TextDedup.pairGraphRoot(scratch)
      val v0 = graft.ops.ChainIndex.currentSnapshotVersion(spark, root).get
      val labelsBefore = llm.TextDedup.componentLabels(spark, scratch)
        .collect().map(_.toSeq).toSet
      // poisoned batch: disjoint ids pass the guard, then the shingle
      // evaluation throws inside the mutation window
      val poison = docs.filter($"doc_id" % 5 === 0).limit(3)
        .select($"doc_id", expr("""CASE WHEN doc_id >= 0 THEN raise_error('boom')
          ELSE text END""").as("text"))
      intercept[Exception] {
        llm.TextDedup.appendPairGraphMv(spark, scratch, poison)
      }
      // the round-14 atomic-commit semantics (stronger than the round-13
      // wholesale invalidation this replaced): the delta never got its
      // commit marker, so the MV is STILL the previous committed version —
      // internally consistent, readable, no rebuild forced on the next
      // consumer and no committed files yanked from pinned readers
      assert(graft.ops.ChainIndex.currentSnapshotVersion(spark, root).get === v0,
        "failed append committed a version")
      assert(llm.TextDedup.componentLabels(spark, scratch)
        .collect().map(_.toSeq).toSet === labelsBefore)
      // and the failed batch can simply be RETRIED (same ids, good text)
      llm.TextDedup.appendPairGraphMv(spark, scratch,
        docs.filter($"doc_id" % 5 === 0).limit(3).select($"doc_id", $"text"))
      assert(graft.ops.ChainIndex.currentSnapshotVersion(spark, root).get === v0 + 1)
      // a 3-doc batch may legitimately add no pairs; the relabel must
      // still carry every previously labeled doc
      assert(llm.TextDedup.componentLabels(spark, scratch).count() >= labelsBefore.size)
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("pair-graph labels: a reader holding version N is isolated from a relabel publishing N+1") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val scratch = java.nio.file.Files.createTempDirectory("graft_pg_iso").toString
    try {
      docs.filter($"doc_id" % 5 =!= 0).write.mode("overwrite")
        .parquet(s"$scratch/documents.parquet")
      val root = llm.TextDedup.refreshPairGraphMv(spark, scratch)
      val v0 = graft.ops.ChainIndex.currentSnapshotVersion(spark, root).get
      // reader pins version N's labels (a scan over the immutable snap dir)
      val held = spark.read.parquet(
        s"${graft.ops.ChainIndex.snapshotDirAt(spark, root, v0)}/labels")
      val baseline = held.collect().map(_.toSeq).toSet
      // writer publishes N+1 (the append's delta) on the same chain
      llm.TextDedup.appendPairGraphMv(spark, scratch,
        docs.filter($"doc_id" % 5 === 0).select($"doc_id", $"text"))
      assert(graft.ops.ChainIndex.currentSnapshotVersion(spark, root).get > v0)
      // the held reader still resolves its own version, byte-identical
      assert(held.collect().map(_.toSeq).toSet === baseline)
      // and new readers see the relabeled component set
      assert(llm.TextDedup.componentLabels(spark, scratch).count() >= baseline.size)
    } finally graft.ops.ArtifactRoots.delete(scratch)
  }

  test("graft_srp_proj: native projection == the declarative plane-table formulation") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    // the OLD pipeline, verbatim: posexplode x plane broadcast x groupBy
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".as("v"))
    val planes = broadcast(
      spark.range(16).select($"id".cast("int").as("h"))
        .crossJoin(spark.range(1, 65).select($"id".cast("int").as("d")))
        .withColumn("w",
          when(expr("instr('01234567', substr(md5(concat(cast(h as string), '|', cast(d as string))), 1, 1))") > 0,
            lit(1.0)).otherwise(lit(-1.0))))
    val declarative = e.select($"vec_id", posexplode($"v").as(Seq("p", "x")))
      .withColumn("d", $"p" + 1)
      .join(planes, Seq("d"))
      .groupBy($"vec_id", $"h").agg(sum($"w" * $"x").as("proj"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val native = e.select($"vec_id",
        posexplode(call_function("graft_srp_proj", $"v")).as(Seq("h", "proj")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(native.keySet === declarative.keySet)
    assert(native.nonEmpty)
    // values agree within float-sum reassociation tolerance, and no SIGN
    // ever flips (signs are what the signatures quantize)
    for ((k, nv) <- native) {
      val dv = declarative(k)
      assert(math.abs(nv - dv) <= 1e-9 * math.max(1.0, math.abs(dv)),
        s"$k: native=$nv declarative=$dv")
      assert((nv >= 0) === (dv >= 0), s"$k: sign flip native=$nv declarative=$dv")
    }
  }

  test("graft_srp_proj edges: short vectors, >64 dims ignored, double arrays, null") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    // a 3-dim float vector projects over its 3 dims only
    val short3 = Seq((1L, Seq(1.0f, -2.0f, 0.5f)))
      .toDF("id", "v")
      .select(call_function("graft_srp_proj", $"v").as("pr"))
      .head().getSeq[Double](0)
    assert(short3.length === 16)
    // dims beyond 64 are ignored: padding a 64-dim vector changes nothing
    val base = Tables.embeddings(spark, sfDir).limit(1)
      .select($"embedding".as("v"))
    val p64 = base.select(call_function("graft_srp_proj", $"v").as("pr"))
      .head().getSeq[Double](0)
    val p70 = base
      .select(concat($"v", array(lit(9f), lit(9f), lit(9f), lit(9f), lit(9f), lit(9f))).as("v"))
      .select(call_function("graft_srp_proj", $"v").as("pr"))
      .head().getSeq[Double](0)
    assert(p70.toSeq === p64.toSeq)
    // double arrays take the exact-double path
    val pd = base.select(transform($"v", x => x.cast("double")).as("v"))
      .select(call_function("graft_srp_proj", $"v").as("pr"))
      .head().getSeq[Double](0)
    assert(pd.zip(p64).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // null in -> null out
    val nl = Seq((1L, null: Seq[Float])).toDF("id", "v")
      .select(call_function("graft_srp_proj", $"v").as("pr")).head()
    assert(nl.isNullAt(0))
  }
}
