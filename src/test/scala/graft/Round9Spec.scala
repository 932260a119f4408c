package graft

import org.apache.spark.sql.functions._

import graft.llm.{Curation, Embeddings, TextAnalysis}

/** Round-9 operators: Gopher rule battery (C13), DSIR importance
  * weighting (C14), JL random-projection top-k (E11), and the BPE
  * encode pass (T16). The DuckDB
  * oracle pins cross-engine parity; these tests pin the internal
  * contracts — rule-count consistency, target-domain separation, and
  * compressed-space recall against the exact ranking.
  */
class Round9Spec extends SparkSpec {

  test("C13 Gopher rules: per-rule counts bounded by doc counts, all-rule pass is the intersection") {
    import spark.implicits._
    val got = Curation.gopherRules(spark, sfDir)
    // every rule-pass count is within [0, n_docs]; n_pass never exceeds
    // the weakest individual rule (intersection upper bound)
    assert(got.filter(
      $"n_wc" > $"n_docs" || $"n_mwl" > $"n_docs" || $"n_stop" > $"n_docs" ||
      $"n_dup" > $"n_docs" ||
      $"n_pass" > least($"n_wc", $"n_mwl", $"n_stop", $"n_dup")).isEmpty)
    // totals cover the whole corpus, and the thresholds are live at this
    // SF: at least one doc passes all rules and at least one fails one
    val totals = got.agg(sum($"n_docs").as("d"), sum($"n_pass").as("p")).head()
    assert(totals.getLong(0) === Tables.documents(spark, sfDir).count())
    assert(totals.getLong(1) > 0 && totals.getLong(1) < totals.getLong(0))
  }

  test("C14 DSIR: in-domain docs average a higher importance weight, head over-represents them") {
    import spark.implicits._
    // population contract: weights are log-ratios TOWARD lang='en', so
    // the mean score of en docs must exceed the mean score of the rest.
    // (The per-doc margin is small on this shared-vocabulary synthetic
    // corpus, which is why the pin is on the means, not the top-k mix.)
    val scored = Curation.dsirScored(spark, sfDir)
    val Array(enAvg, restAvg) = scored
      .groupBy(($"lang" === "en").as("dom"))
      .agg(avg($"score").as("s"))
      .orderBy($"dom".desc)
      .select($"s").as[Double].collect()
    assert(enAvg > restAvg, s"en mean $enAvg not above out-of-domain mean $restAvg")
    // the resample head still has to beat the base rate
    val got = Curation.dsirWeights(spark, sfDir)
    assert(got.count() === 25)
    val enFracTop = got.filter($"lang" === "en").count() / 25.0
    val docs = Tables.documents(spark, sfDir)
    val enFracAll = docs.filter($"lang" === "en").count().toDouble / docs.count()
    assert(enFracTop > enFracAll,
      s"top-25 en fraction $enFracTop does not beat base rate $enFracAll")
  }

  test("E11 rproj: exact-top-5 recall within projected top-10 beats chance by a wide margin") {
    import spark.implicits._
    val exact = Embeddings.cosineTopK(spark, sfDir)
      .select($"qid", $"cid")
    val proj = Embeddings.rprojTopK(spark, sfDir)
      .select($"qid", $"cid")
    val nQ = exact.select($"qid").distinct().count()
    val hit = exact.join(proj, Seq("qid", "cid")).count()
    // recall@10 of the ground-truth top-5: exact = cosineTopK is top-5
    // per query, proj returns top-10, so this measures what fraction of
    // the exact top-5 survives inside the projected top-10 (denominator
    // nQ*5). NOT "top-10 recall" — keep the name honest when tuning the
    // 0.08 floor below.
    val recall = hit.toDouble / (nQ * 5)
    // this synthetic corpus is near-isotropic (top-5 cosines sit ~0.1
    // above the 98th percentile of the bulk), so absolute recall after
    // 4× compression is modest BY THE DATA's geometry. The operator
    // contract is that the projection preserves real signal: recall must
    // beat the chance rate (10 / corpus) by a wide margin.
    val corpus = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" >= 5).count()
    val chance = 10.0 / corpus
    assert(recall >= math.max(5 * chance, 0.08),
      s"rproj exact-top-5-within-top-10 recall $recall not above 5x chance ${5 * chance}")
  }

  test("T16 BPE encode: per-doc token totals reconcile with the training trace") {
    import spark.implicits._
    val got = TextAnalysis.bpeEncode(spark, sfDir)
    val train = TextAnalysis.bpeTrain(spark, sfDir)
      .orderBy($"round".desc).select($"n_tokens_after").as[Long].head()
    // the encode replays the exact merges the trainer recorded, so the
    // corpus-wide encoded token count must equal the trainer's final
    // n_tokens_after — a full cross-query reconciliation
    val Seq(totTok, totMerged) = got
      .agg(sum($"n_tok"), sum($"n_merged")).as[(Long, Long)].head() match {
        case (a, b) => Seq(a, b)
      }
    assert(totTok === train)
    assert(totMerged > 0, "no merged tokens emitted — merges did not apply")
    assert(got.filter($"n_merged" > $"n_tok").isEmpty)
    assert(got.count() === Tables.documents(spark, sfDir).count())
  }

  test("E12 PCA: learned direction captures more variance than the init direction") {
    import spark.implicits._
    val got = Embeddings.pcaTop(spark, sfDir)
    assert(got.count() === 20)
    // eigenvalue estimate is positive and consistent across rows
    val lams = got.select($"eigenvalue").distinct().as[Double].collect()
    assert(lams.length === 1 && lams.head > 0)
    // Rayleigh property: variance of the corpus projected on the learned
    // direction must beat variance along the uniform init direction —
    // power iteration strictly improves the quotient away from fixpoints
    val e = Tables.embeddings(spark, sfDir).select($"embedding".as("v"))
    def varAlong(dirExpr: String): Double = e
      .selectExpr(s"aggregate(zip_with(v, $dirExpr, (a, b) -> CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS p")
      .agg(variance($"p")).as[Double].head()
    val vInit = "array_repeat(CAST(0.125 AS DOUBLE), 64)"
    // reconstruct the learned direction from per-vector projections is
    // indirect; instead compare via the eigenvalue: λ must exceed the
    // variance along the (normalized) init direction
    val initVar = varAlong(vInit) / (64 * 0.125 * 0.125)  // normalize ||v0||²=1
    assert(lams.head >= initVar * 0.99,
      s"eigenvalue ${lams.head} below init-direction variance $initVar")
  }

  test("L6 novelty: exact-duplicate later copies score zero novelty") {
    import spark.implicits._
    val got = graft.llm.TextDedup.novelty(spark, sfDir)
    assert(got.count() === 25)
    assert(got.filter($"novel_frac" < 0 || $"novel_frac" > 1 ||
      $"n_novel" > $"n_shingles").isEmpty)
    // the corpus has near-duplicate docs whose every shingle first
    // appeared in an earlier doc (no exact text dups at this SF, but the
    // dedup fixtures guarantee heavy overlap) — the head of the
    // most-derivative list must reflect that with a (near-)zero fraction.
    // Collect AS-RETURNED (no re-sort) so the query's own ordering
    // contract is what's being checked.
    val fracs = got.select($"novel_frac").as[Double].collect()
    assert(fracs.head <= 0.5, s"most derivative doc scores ${fracs.head} — list is not selective")
    assert(fracs.sameElements(fracs.sorted), "result not ordered by ascending novelty")
  }

  test("V8 PSI: bins cover both populations, terms are non-negative") {
    import spark.implicits._
    val got = ops.Metrics.psiDrift(spark, sfDir)
    assert(got.select($"bin").as[Int].collect().toSeq === (1 to 8))
    // (p-q) and ln(p/q) always share a sign, so every term is >= 0
    assert(got.filter($"psi_term" < 0).isEmpty)
    val docs = Tables.documents(spark, sfDir).count()
    val Seq(nr, nc) = got.agg(sum($"ref_cnt"), sum($"cur_cnt"))
      .as[(Long, Long)].head() match { case (a, b) => Seq(a, b) }
    assert(nr + nc === docs)
    assert(nr > 0 && nc > 0, "split produced an empty population")
  }

  test("E13 MRL eval: full width recalls itself exactly, truncated widths beat chance") {
    import spark.implicits._
    val got = Embeddings.mrlEval(spark, sfDir)
    assert(got.count() === 15) // 3 widths x 5 queries
    // width 64 IS the full ranking — recall must be exactly 1.0 per query
    assert(got.filter($"width" === 64 && $"recall" =!= 1.0).isEmpty)
    // truncated widths: on this near-isotropic corpus recall is NOT
    // monotone between small prefixes (the E11 geometry lesson), so the
    // pin is chance-relative — each truncated width must still beat the
    // 5-in-corpus chance rate by a wide margin
    val corpus = Tables.embeddings(spark, sfDir).filter($"vec_id" >= 5).count()
    val chance = 5.0 / corpus
    val truncated = got.filter($"width" < 64)
      .groupBy($"width").agg(avg($"recall").as("r"))
      .select($"width", $"r").as[(Int, Double)].collect()
    truncated.foreach { case (w, r) =>
      assert(r >= 5 * chance, s"width $w avg recall $r not above 5x chance ${5 * chance}")
    }
  }

  test("G7 label propagation: communities partition the backbone node set") {
    import spark.implicits._
    val got = ops.Graph.labelProp(spark, sfDir)
    assert(got.count() >= 1)
    assert(got.filter($"min_node" > $"max_node" || $"n_nodes" < 1).isEmpty)
    // community sizes sum to the number of backbone nodes (a partition),
    // and communities can only refine connected components, never merge
    // them — so there are at least as many communities as components
    val nNodes = got.agg(sum($"n_nodes")).as[Long].head()
    // ONE consuming collect: the CC kernel's checkpoints release after
    // the first action (Ckpt discipline) — a second action on the same
    // constructed frame would need freed blocks
    val components = ops.Graph.concomp(spark, sfDir).collect()
    assert(nNodes === components.length.toLong)
    val nComponents = components.map(_.getAs[Long]("component")).distinct.length
    assert(got.count() >= nComponents,
      s"${got.count()} communities < $nComponents components")
  }

  test("G0 backbone MV: read-back artifact equals a fresh derivation") {
    import spark.implicits._
    val stats = ops.Graph.backboneMaterialize(spark, sfDir).head()
    val mv = ops.Graph.Backbone.read(spark,
      graft.ops.ChainIndex.chainDirs(spark, ops.Graph.backboneRoot(sfDir)), "").get
    val derived = ops.Graph.backboneEdges(spark, sfDir)
    // equal count + one-directional exceptAll proves multiset equality
    // with a single consumption of the scoped-cached derivation (the
    // second direction would re-run the whole co-purchase self-join)
    val nMv = mv.count()
    assert(stats.getLong(0) === nMv)
    assert(derived.count() === nMv)
    assert(mv.select($"u", $"v")
      .exceptAll(ops.Graph.backboneEdges(spark, sfDir)).isEmpty)
    // the round-11 artifact also stores the WEIGHT column — read-back
    // weighted edges equal a fresh weighted derivation (multiset)
    assert(mv.select($"u", $"v", $"shared")
      .exceptAll(ops.Graph.deriveBackboneWeighted(spark, sfDir)).isEmpty)
  }

  test("E11 rproj: projection formula matches an independent driver-side replay") {
    import spark.implicits._
    // one vector, recomputed in plain Scala with the same integer matrix
    val row = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" === 7).select($"embedding").head()
    val v = row.getSeq[Float](0).map(_.toDouble)
    val expect = (0 until 16).map { j =>
      val s = (0 until 64).foldLeft(0.0) { (acc, i) =>
        acc + v(i) * (((i * 73 + j * 179) % 997) % 3 - 1)
      }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" === 7)
      .select($"embedding".as("v"))
      .selectExpr(s"""transform(sequence(0, 15), j ->
        round(aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE),
          (acc, i) -> acc + CAST(element_at(v, i + 1) AS DOUBLE)
            * CAST(((i * 73 + j * 179) % 997) % 3 - 1 AS DOUBLE)), 6)) AS p""")
      .as[Seq[Double]].head()
    assert(got === expect)
  }
}
