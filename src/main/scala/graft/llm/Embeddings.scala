package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{ChainIndex, Ckpt}

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label) — the vector half of an LLM data pipeline.
  *
  * The operator family, baseline → scale paths:
  *  - emb_cosine_topk: brute-force cosine top-k. The query set is tiny and
  *    BROADCAST; the corpus streams — one scan, no shuffle of the corpus.
  *  - emb_ivf_topk: IVF (inverted-file) ANN. A coarse quantizer (learned
  *    centroids) partitions the corpus into cells; queries probe only the
  *    nearest `nprobe` cells. At 100 TB the cell assignment IS the
  *    partitioning key (write bucketed by cell), so a probe reads
  *    `nprobe/k` of the data — the FAISS IVF-flat layout relationally.
  *  - emb_pq_topk: product quantization + ADC + exact re-rank — the
  *    MEMORY scale path (32-bit codes, 64× compression); composes with
  *    the IVF layout as IVFADC.
  *  - emb_lsh_neardup: near-duplicate pairs via sign-random-projection LSH:
  *    banded signature equi-join generates candidates (never all-pairs),
  *    exact cosine verifies. Same band-join shape as TextDedup.minhashLsh.
  *  - emb_semdedup: SemDeDup semantic dedup inside learned IVF cells.
  *  - emb_quantize: int8 scalar quantization with fidelity report.
  *  Graph-ANN: the greedy SEQUENTIAL search of HNSW (variable-depth,
  *  one hop at a time per query) doesn't map to set-oriented plans and
  *  stays out of scope — but its BATCHED fixed-round form does, and
  *  emb_nsw_topk implements it: beam search over the directed k-NN
  *  graph where every query's frontier advances together, one
  *  adjacency equi-join per round (the NSW base-layer search, Malkov
  *  et al. 2014, as relational algebra).
  *
  * Determinism contract with the DuckDB oracle: all float math is element-
  * wise double products followed by a sequential sum, and every emitted or
  * compared similarity is round(sim, 6) — the two engines' summation-order
  * differences are ~1e-15, absorbed by the rounding; ties after rounding
  * are broken by vec_id. "Random" hyperplanes/centroid seeds are derived
  * from md5 so both engines compute identical weights (no RNG).
  */
object Embeddings {

  /** Sequential-fold dot product via the native codegen'd expression
    * (graft.functions.DotProduct — same per-element double products and
    * left-to-right sum as the `aggregate(zip_with(...))` formulation it
    * replaced, so oracle results are unchanged; see its scaladoc for the
    * profiling rationale). Works directly on the float arrays — no
    * cast-copy of the vector.
    */
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  // private[graft]: the streaming ingest sinks (streaming/EventStreams)
  // compute the stored norm with the exact same expression as every
  // batch path, so streamed and batch-built index rows are bit-identical
  private[graft] def norm(c: Column): Column = sqrt(dot(c, c))

  /** The corpus as (vec_id, v, nrm) — the frame every search, index
    * build and batch starts from. */
  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Shared oracle CTE: vectors with double view + norm. */
  private val embCte: String =
    """WITH ev AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v,
      |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x))) AS nrm
      |  FROM embeddings)""".stripMargin

  // ---------------------------------------------------------------------
  // E1 brute-force cosine top-k: queries vec_id < 5 vs the rest of the
  // corpus. 100 TB: broadcast(query) × corpus scan is embarrassingly
  // parallel, and the per-query top-k is the bounded TopKAggregator
  // (map-side partial top-k; only n_partitions × k rows cross the
  // exchange) — a row_number window here would shuffle the WHOLE scored
  // corpus onto n_queries partitions, maximal skew at scale.
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(5),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val e = vectors(spark, dir)
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val c = e.filter($"vec_id" >= 5)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn"))
    c.join(broadcast(q))
      .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
      .groupBy($"qid")
      .agg(topk($"cid", $"sim").as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "s")))
      .select($"qid", ($"pos" + 1).as("rnk"), $"s.cid".as("cid"), $"s.sim".as("sim"))
      .orderBy($"qid", $"rnk")
  }

  val cosineTopKSql: String =
    embCte + """,
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev WHERE vec_id >= 5),
      |sims AS (
      |  SELECT qid, cid,
      |    round(list_sum(list_transform(list_zip(qv, cv), t -> t[1] * t[2])) / (qn * cn), 6) AS sim
      |  FROM c CROSS JOIN q),
      |ranked AS (
      |  SELECT qid, cid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM sims)
      |SELECT qid, rnk, cid, sim FROM ranked WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // E8 hard-negative mining — the contrastive-training data op: for each
  // anchor (the query set), the top-3 most-similar corpus vectors whose
  // LABEL DIFFERS (high-similarity wrong-class examples, the negatives
  // that actually move an embedding model; random negatives are trivially
  // separable). Same plan as E1 with the label-mismatch predicate fused
  // into the scored scan — the filter runs BEFORE the bounded top-k
  // aggregator, so easy negatives never enter the heap.
  // 100 TB: broadcast(anchors) × corpus scan, map-side bounded top-k —
  // n_partitions × k rows cross the exchange; mining for a full training
  // set (every vector an anchor) flips to the E3/E7 banded-candidate
  // shape, which emb_knn_graph already demonstrates.
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(3),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding".as("v"))
      .withColumn("nrm", norm($"v"))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"label".as("qlabel"), $"v".as("qv"), $"nrm".as("qn"))
    val c = e.filter($"vec_id" >= 5)
      .select($"vec_id".as("cid"), $"label".as("clabel"), $"v".as("cv"), $"nrm".as("cn"))
    c.join(broadcast(q))
      .filter($"clabel" =!= $"qlabel")
      .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
      .groupBy($"qid", $"qlabel")
      .agg(topk($"cid", $"sim").as("top"))
      .select($"qid", $"qlabel", posexplode($"top").as(Seq("pos", "s")))
      .select($"qid", $"qlabel", ($"pos" + 1).as("rnk"),
        $"s.cid".as("cid"), $"s.sim".as("sim"))
      .orderBy($"qid", $"rnk")
  }

  val hardNegativesSql: String =
    embCte + """,
      |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |c AS (SELECT vec_id AS cid, label AS clabel, v AS cv, nrm AS cn FROM ev WHERE vec_id >= 5),
      |sims AS (
      |  SELECT qid, qlabel, cid,
      |    round(list_sum(list_transform(list_zip(qv, cv), t -> t[1] * t[2])) / (qn * cn), 6) AS sim
      |  FROM c CROSS JOIN q
      |  WHERE clabel <> qlabel),
      |ranked AS (
      |  SELECT qid, qlabel, cid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM sims)
      |SELECT qid, qlabel, rnk, cid, sim FROM ranked WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // Lloyd machinery shared by ivfTopK (and exercised directly in LlmSpec).

  /** Map-side argmax cell assignment: the centroid table collapses into a
    * ONE-ROW broadcast holding the array of (cell, cv, cn), and each
    * corpus row picks its max-cosine cell with a transform+array_max
    * expression — ties broken toward the lowest cell id (struct max on
    * (csim, -cell)). No shuffle of the corpus: this is what makes each
    * Lloyd round, and the inverted-file build itself, a single scan.
    */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val cs = broadcast(cents.agg(collect_list(struct($"cell", $"cv", $"cn")).as("cs")))
    e.join(cs)
      .withColumn("best", array_max(expr(
        "transform(cs, c -> struct(round(graft_dot(v, c.cv) / (nrm * c.cn), 6) AS csim, -c.cell AS negcell))")))
      .withColumn("cell", (-$"best.negcell").cast("int"))
      .drop("cs", "best")
  }

  /** Query-side probe selection: each query vector ranks the (broadcast,
    * fixed-k) centroid table by rounded cosine and keeps its `nprobe`
    * best cells. Shared by the inline IVF search (E2), the persisted-
    * index path (E16/E17) and — in oracle form — by ivfSearchCtes'
    * `probes` CTE, which replays the identical window.
    */
  private[graft] def probeCells(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    import q.sparkSession.implicits._
    val wProbe = Window.partitionBy($"qid").orderBy($"csim".desc, $"cell".asc)
    q.join(broadcast(cents))
      .withColumn("csim", round(dot($"v", $"cv") / ($"nrm" * $"cn"), 6))
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"), $"cell", $"csim")
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= nprobe)
      .select($"qid", $"qv", $"qn", $"cell")
  }

  /** One centroid update: element-wise mean of each cell's members,
    * rounded to 6dp so both engines carry identical centroids into the
    * next round. Cells that lost every member drop out (k can shrink);
    * the explode shuffles only (cell, i) partial sums — map-side combined,
    * k × dim rows cross the exchange.
    */
  private def meanCentroids(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned.select($"cell", posexplode($"v").as(Seq("i", "x")))
      .groupBy($"cell", $"i").agg(round(avg($"x"), 6).as("cx"))
      .groupBy($"cell")
      .agg(transform(array_sort(collect_list(struct($"i", $"cx"))),
        s => s.getField("cx")).as("cv"))
      .withColumn("cn", norm($"cv"))
      .select($"cell", $"cv", $"cn")
  }

  /** Seeded, fixed-round Lloyd training (spherical k-means): seeds are
    * the k corpus vectors ranked by md5(vec_id) — a deterministic
    * pseudo-random draw both engines reproduce — then `iters` rounds of
    * map-side assignment + rounded mean update. Returns (cell, cv, cn)
    * as a LocalRelation.
    *
    * The iteration state lives on the DRIVER (the MLlib KMeans shape):
    * centroids are k × dim rounded doubles — node-sized by definition —
    * so each round is ONE job over the internally-cached corpus, and the
    * next round's centroid table is a LocalRelation whose broadcast build
    * is a local scan. The alternative — chaining all rounds into one lazy
    * plan of nested broadcasts — re-derives every earlier round inside
    * each round's broadcast build and re-scans the corpus each time;
    * measured 1.7× slower at sf0.1 (isolated best-of-3). Collected values
    * are the exact binary doubles the job produced, so the round-trip
    * changes no arithmetic (the oracle hash match pins this). The seed
    * pick is a TakeOrderedAndProject (map-side partial top-k), not a
    * global sort.
    */
  private[llm] def lloydCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // caller-caches contract (pqCodebooks' contract, extended here per
    // the round-10 advice): when the input is ALREADY cached — ivfadcTopK
    // shares one vector cache across coarse training, PQ training, encode
    // and re-rank — the projection reads straight from it; caching it
    // again would transiently hold a second copy of the vector set for
    // the whole coarse-training phase. Uncached callers (ivfTopK,
    // semDedup) still get the internal action-lived cache.
    val callerCached =
      e.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val ec0 = e.select($"vec_id", $"v", $"nrm")
    val ec = if (callerCached) ec0 else ec0.cache()
    try {
      var cents: Seq[(Int, Seq[Double], Double)] = ec
        .select(md5($"vec_id".cast("string")).as("sk"), $"vec_id", $"v", $"nrm")
        .orderBy($"sk", $"vec_id").limit(k)
        .select(transform($"v", x => x.cast("double")).as("cv"), $"nrm".as("cn"))
        .as[(Seq[Double], Double)].collect().toSeq
        .zipWithIndex.map { case ((cv, cn), i) => (i, cv, cn) }
      for (_ <- 1 to iters) {
        val centsDf = spark.createDataset(cents).toDF("cell", "cv", "cn")
        cents = meanCentroids(assignCells(ec, centsDf).select($"vec_id", $"v", $"nrm", $"cell"))
          .as[(Int, Seq[Double], Double)].collect().toSeq.sortBy(_._1)
      }
      spark.createDataset(cents).toDF("cell", "cv", "cn")
    } finally { if (!callerCached) { ec.unpersist(false); () } }
  }

  /** The oracle's replay of [[lloydCentroids]]: c0 = md5-ranked seeds,
    * then per round aN (window argmax assignment) + cN (rounded means) —
    * identical arithmetic, identical tie-breaks, so cN == the Spark
    * centroids exactly.
    */
  private def lloydCtes(k: Int, iters: Int, src: String = "ev",
                        dim: Int = 64, prefix: String = ""): String = {
    val dotSql = "list_sum(list_transform(list_zip(e.v, c.cv), z -> z[1] * z[2]))"
    val scoreSql = s"round($dotSql / (e.nrm * c.cn), 6)"
    val c0 =
      s"""${prefix}c0 AS (
         |  SELECT CAST(rn - 1 AS INTEGER) AS cell, v AS cv, nrm AS cn FROM (
         |    SELECT v, nrm, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM $src)
         |  WHERE rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s""",
         |${prefix}a$t AS (
         |  SELECT vec_id, v, nrm, cell FROM (
         |    SELECT e.vec_id, e.v, e.nrm, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        $scoreSql DESC,
         |        c.cell ASC) AS rn
         |    FROM $src e CROSS JOIN ${prefix}c${t - 1} c) WHERE rn = 1),
         |${prefix}c$t AS (
         |  SELECT cell, list(cx ORDER BY i) AS cv,
         |    sqrt(list_sum(list_transform(list(cx ORDER BY i), x -> x * x))) AS cn
         |  FROM (
         |    SELECT cell, i, round(avg(v[i]), 6) AS cx
         |    FROM ${prefix}a$t CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i)
         |    GROUP BY 1, 2)
         |  GROUP BY cell)""".stripMargin
    }.mkString
    c0 + rounds
  }

  // ---------------------------------------------------------------------
  // E2 IVF ANN with LEARNED coarse centroids: k=10 cells trained by 5
  // deterministic Lloyd rounds (spherical k-means on max-cosine; 3 rounds
  // were measured to cost one recalled neighbor at sf0.001, so the count
  // stays at 5) — no use
  // of `label`, which a real ingest pipeline doesn't have. Determinism:
  // seeds are the k corpus vectors ranked by md5(vec_id) (both engines
  // hash identical strings), every assignment similarity and every
  // centroid component is round(·, 6), and the round count is FIXED (no
  // data-dependent convergence test), so Spark and DuckDB walk identical
  // centroid trajectories. Corpus vectors go to their max-cosine centroid
  // (the inverted file); queries probe the top-3 cells (measured recall
  // vs brute force ≥ 2/3 at every test SF — pinned in LlmSpec).
  // 100 TB: each Lloyd round is ONE corpus scan — the centroid set
  // collapses to a single broadcast row (k × dim doubles) and the argmax
  // is a map-side transform+array_max expression, so training shuffles
  // only the k×dim partial means (map-side combined), never the corpus;
  // the final cell assignment is map-side for the same reason, and the
  // corpus is written bucketed by `cell` so a probe scans nprobe/k of the
  // data (PlanSpec pins the 2-of-8 bucket read).
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val eRaw = vectors(spark, dir)
    // training runs eagerly (driver-side Lloyd, its own action-lived cache)
    // and returns a LocalRelation — re-planning it per consumer is free
    val cents = lloydCentroids(eRaw, k = 10, iters = 5)
    // the final assembly reads the corpus twice (inverted file + queries):
    // cache it for that one action, released when the action completes
    val e = graft.ops.ScopedCache.untilConsumed(eRaw)
    // inverted file: every vector → argmax-cosine cell, map-side
    val assigned = assignCells(e, cents)
      .select($"vec_id", $"v", $"nrm", $"cell")
    // queries probe top-3 cells
    val probes = probeCells(e.filter($"vec_id" < 5), cents, nprobe = 3)
    // search only inside probed cells
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    probes.join(assigned.filter($"vec_id" >= 5), Seq("cell"))
      .withColumn("sim", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= 3)
      .select($"qid", $"rnk", $"vec_id".as("cid"), $"cell", $"sim")
      .orderBy($"qid", $"rnk")
  }

  /** The IVF search CTE chain (inverted file build + probe + in-cell
    * scoring), shared by [[ivfTopKSql]] and [[recallEvalSql]]. */
  private val ivfSearchCtes: String = """assigned AS (
      |  SELECT vec_id, v, nrm, cell FROM (
      |    SELECT ev.vec_id, ev.v, ev.nrm, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(ev.v, c.cv), t -> t[1] * t[2])) / (ev.nrm * c.cn), 6) DESC,
      |        c.cell ASC) AS arn
      |    FROM ev CROSS JOIN c5 c)
      |  WHERE arn = 1),
      |probes AS (
      |  SELECT qid, qv, qn, cell FROM (
      |    SELECT ev.vec_id AS qid, ev.v AS qv, ev.nrm AS qn, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(ev.v, c.cv), t -> t[1] * t[2])) / (ev.nrm * c.cn), 6) DESC,
      |        c.cell ASC) AS prn
      |    FROM ev CROSS JOIN c5 c WHERE ev.vec_id < 5)
      |  WHERE prn <= 3),
      |hits AS (
      |  SELECT p.qid, a.vec_id AS cid, p.cell,
      |    round(list_sum(list_transform(list_zip(p.qv, a.v), t -> t[1] * t[2])) / (p.qn * a.nrm), 6) AS sim
      |  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id >= 5)""".stripMargin

  val ivfTopKSql: String =
    embCte + ",\n" + lloydCtes(10, 5) + ",\n" + ivfSearchCtes + """,
      |ranked AS (
      |  SELECT qid, cid, cell, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM hits)
      |SELECT qid, rnk, cid, cell, sim FROM ranked WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // E16 persisted IVF index (the G0 materialized-view pattern applied to
  // vector search): E2 retrains the quantizer and rebuilds the inverted
  // file inside every query — a production vector store builds the index
  // ONCE, persists it CELL-PARTITIONED, and answers queries from the
  // artifact. emb_ivf_mv registers that composition end-to-end: train →
  // write `cells/cell=N/` (hive-partitioned parquet) + `centroids/` →
  // read BACK → answer the standard top-3-probe query from the
  // round-tripped artifact, so the oracle (ivfTopKSql, unchanged)
  // certifies the on-disk copy the way g0's stats row certifies the
  // backbone MV.
  // 100 TB: the index layout IS the query plan — a probe reads
  // `nprobe/k` of the corpus via PARTITION pruning (the cell list is
  // resolved driver-side from the broadcast-sized centroid table — the
  // vector-DB query-router step — so the pruned dirs are known at plan
  // time; IvfMvSpec pins PartitionFilters on the cells scan), and the
  // build amortizes across every query until the next refresh instead
  // of being paid per query.

  /** The IVF index's chain layers: `cells` (the inverted file, one hive
    * partition per cell — the FAISS IVF-flat layout as a filesystem fact;
    * appends add rows) and `centroids` (the frozen quantizer, carried
    * forward by every compaction). cells + centroids publish as ONE
    * version, so a reader never pairs new cells with an old quantizer.
    * Resident ids = cells.vec_id; each version's bloom sidecar covers
    * exactly the vectors it adds.
    */
  private[graft] val Ivf = new ChainIndex.Family("graft_ivf_mv_", "IVF index",
    Seq(
      ChainIndex.Layer("cells", ChainIndex.AppendShaped, partitionBy = Some("cell")),
      ChainIndex.Layer("centroids", ChainIndex.RewriteShaped)),
    Some(ChainIndex.ResidentIds("vec_id", Seq("cells"))))

  /** Build + persist the IVF index over the vectors selected by `pred`:
    * train the coarse quantizer (k=10 × 5 Lloyd rounds, E2's exact
    * recipe), assign every selected vector map-side, and write cells,
    * centroids and the resident-id bloom overlapped on the driver pool
    * (wall = max(layer), not Σ(layer)). The vector set is cached for
    * exactly the build's actions (training collects + the writes) and
    * released before return — lloydCentroids sees the cache via its
    * caller-caches contract and skips its internal copy. A rebuild starts
    * a new chain; the previous chain is retained for live readers.
    */
  private[graft] def buildIvfIndex(spark: SparkSession, dir: String, tag: String,
                                   pred: DataFrame => DataFrame): String =
    Ivf.build(spark, dir, tag) { v =>
      graft.GraftExtensions.ensure(spark)
      import spark.implicits._
      val eAll = vectors(spark, dir)
      val e = pred(eAll).cache()
      try {
        val cents = lloydCentroids(e, k = 10, iters = 5)
        graft.ops.Par.all(
          () => v.write("cells", assignCells(e, cents).select($"vec_id", $"v", $"nrm", $"cell")),
          () => v.write("centroids", cents),
          // what keeps later appends' dup guards O(batch) instead of
          // scanning this version's vec_id column per ingest
          () => v.bloom(e))
      } finally { e.unpersist(false); () }
    }

  /** E17's ingest step: route a NEW batch into an existing index with
    * the FROZEN quantizer — read the chain's committed centroids, assign
    * the batch map-side, publish its cell rows as one DELTA version. No
    * retraining, no touch of the resident vectors: per-batch cost is
    * batch-sized (the L8 asymmetric-dedup discipline applied to the
    * vector index), which is what lets a streaming ingest keep an index
    * fresh without ever re-paying the corpus-sized build. Parquet
    * round-trips doubles bit-exactly, so frozen-centroid assignment
    * matches what training-time assignment of the same rows would produce
    * (IvfMvSpec pins it). The guard, idempotent mode, empty-batch and
    * auto-compaction contract is [[graft.ops.ChainIndex.Family.append]]'s;
    * a re-ingested vec_id would otherwise rank the same cid into two
    * top-k slots. Needs a committed index, not a build in this process.
    */
  private[graft] def appendIvfIndex(spark: SparkSession, root: String, batch: DataFrame,
                                    compactAfterDeltas: Int = 0,
                                    idempotent: Boolean = false): Unit = {
    import spark.implicits._
    Ivf.append(spark, root, batch.select($"vec_id", $"v", $"nrm"), "appendIvfIndex",
        compactAfterDeltas, idempotent) { (b, dirs, v) =>
      val cents = Ivf.read(spark, dirs, "centroids").get
      graft.ops.Par.all(
        () => v.write("cells", assignCells(b, cents).select($"vec_id", $"v", $"nrm", $"cell")),
        () => v.bloom(b))
    }
  }

  /** Compact the index chain into ONE full version (cells = the chain
    * union, centroids carried forward bit-exactly, so the quantizer stays
    * FROZEN across compactions). Cost ∝ index size, where a rebuild is
    * corpus-sized (Lloyd rounds over every vector); resets the per-delta
    * chain-read overhead a streaming ingest accumulates.
    */
  private[graft] def compactIvfIndex(spark: SparkSession, root: String): Unit =
    Ivf.compact(spark, root)

  /** Answer the standard query set (vec_id < 5, top-3 probes, top-3
    * hits) from a persisted index. The probe list is resolved DRIVER-
    * side — centroids are k×dim rounded doubles, so ranking 5 queries
    * against them collects ≤ nqueries × nprobe constant-size rows (the
    * vector-DB query-router step) — and becomes a STATIC `cell IN (…)`
    * predicate on the hive-partitioned cells scan: partition pruning at
    * plan time, `nprobe/k` of the corpus read, no DPP gamble. Scoring
    * reuses E2's expressions verbatim on the re-created probe rows
    * (collected floats re-enter bit-exactly), so the persisted path is
    * value-identical to the inline one.
    */
  private[graft] def ivfQueryFromIndex(spark: SparkSession, dir: String, root: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val q = vectors(spark, dir).filter($"vec_id" < 5)
    // pin the CHAIN once (ChainIndex.chainDirs — ONE marker-set listing),
    // then derive BOTH layers from the pinned dirs: centroids from the
    // chain's newest carrier, cells as the union of the full base +
    // every committed append delta. Two independent chain resolutions
    // could straddle a concurrent rebuild's publish and pair the new
    // quantizer with the old chain's assignments (wrong cells probed,
    // no error) — the pin makes that impossible by construction.
    val dirs = ChainIndex.chainDirs(spark, root)
    val cents = Ivf.read(spark, dirs, "centroids").get
    val probes = probeCells(q, cents, nprobe = 3)
      .as[(Long, Seq[Float], Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    val probedCells = probes.map(_._4).distinct.sorted
    val probesDf = broadcast(
      spark.createDataset(probes).toDF("qid", "qv", "qn", "cell"))
    val cells = Ivf.read(spark, dirs, "cells").get
      .filter($"cell".isin(probedCells: _*))
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    probesDf.join(cells.filter($"vec_id" >= 5), Seq("cell"))
      .withColumn("sim", round(dot($"qv", $"v") / ($"qn" * $"nrm"), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= 3)
      .select($"qid", $"rnk", $"vec_id".as("cid"), $"cell", $"sim")
      .orderBy($"qid", $"rnk")
  }

  /** E16 registered composition: full build → persist → query-from-
    * artifact. Result-identical to emb_ivf_topk BY CONSTRUCTION (same
    * training, same assignment, same probe and scoring expressions, and
    * parquet round-trips both float vectors and double centroids
    * bit-exactly), so it shares ivfTopKSql — the oracle match certifies
    * the artifact end-to-end, not just the in-memory plan.
    */
  def ivfMvTopK(spark: SparkSession, dir: String): DataFrame =
    ivfQueryFromIndex(spark, dir, buildIvfIndex(spark, dir, "full", identity))

  val ivfMvTopKSql: String = ivfTopKSql

  /** E21 the PRODUCTION read path: probe a persisted IVF index that is
    * built at most once per (process, dataset) — build-once memoized like
    * the near-dup pair graph (TextDedup.componentLabels), so the suite
    * shows what a query against an already-maintained index costs, with
    * no build billed. The build convention stays honest three ways:
    * emb_ivf_topk = inline (no artifact), emb_ivf_mv = refresh + read
    * (bills the build every run), emb_ivf_read = read-only against the
    * amortized artifact. Same probes, same scoring expressions, parquet
    * round-trips floats bit-exactly → shares E2's oracle SQL.
    */
  def ivfReadTopK(spark: SparkSession, dir: String): DataFrame = {
    val root = Ivf.root(dir, "full")
    Ivf.ensureBuilt(root) { buildIvfIndex(spark, dir, "full", identity); () }
    ivfQueryFromIndex(spark, dir, root)
  }

  val ivfReadTopKSql: String = ivfTopKSql

  // ---------------------------------------------------------------------
  // E17 incremental index ingest: 90% of the corpus (vec_id % 10 <> 7)
  // is the resident index — quantizer trained on IT alone — and the
  // remaining 10% arrives as a new batch, routed in by appendIvfIndex
  // with the frozen quantizer. The query then runs over the UNION index;
  // `is_new` marks hits that only exist because of the append, so the
  // oracle certifies that appended vectors are retrievable (and ranked
  // identically to a from-scratch assignment under the same centroids).
  // This is the operator a streaming embedding pipeline actually runs
  // every micro-batch; the full rebuild (E16) becomes a periodic
  // compaction, exactly like S11/S12's merge-then-compact file story.

  def ivfAppendTopK(spark: SparkSession, dir: String): DataFrame =
    ivfHeldOutTopK(spark, dir, "incr") { (root, heldOut) =>
      appendIvfIndex(spark, root, heldOut(col("vec_id") % 10 === 7))
    }

  /** The E17 split on index variant `tag`: build on 90% of the corpus,
    * `ingest` the held-out 10% (given as a vec_id-filtered batch
    * factory), then run the standard query batch over the index with
    * `is_new` marking the held-out hits.
    */
  private def ivfHeldOutTopK(spark: SparkSession, dir: String, tag: String)(
      ingest: (String, Column => DataFrame) => Unit): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val root = buildIvfIndex(spark, dir, tag, _.filter($"vec_id" % 10 =!= 7))
    ingest(root, vectors(spark, dir).filter(_))
    ivfQueryFromIndex(spark, dir, root)
      .withColumn("is_new", ($"cid" % 10 === 7).cast("int"))
  }

  val ivfAppendTopKSql: String =
    embCte + ",\nbase AS (SELECT * FROM ev WHERE vec_id % 10 <> 7),\n" +
      lloydCtes(10, 5, src = "base") + ",\n" + ivfSearchCtes + """,
      |ranked AS (
      |  SELECT qid, cid, cell, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM hits)
      |SELECT qid, rnk, cid, cell, sim, CAST(cid % 10 = 7 AS INT) AS is_new
      |FROM ranked WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  /** E24 compaction as a REGISTERED, oracle-checked query — the
    * maintenance op itself carries an end-to-end correctness gate, not
    * just protocol pins: the resident index is built on 90% of the
    * corpus (the E17 split), the held-out 10% arrives as TWO sub-batches
    * (vec_id % 20 == 7 / == 17) appended with compactAfterDeltas = 1, so
    * the second append TRIPS auto-compaction and the chain collapses to
    * ONE full version before the query runs. The standard query batch
    * then reads the COMPACTED artifact; the oracle replays the E17
    * pipeline (frozen-quantizer assignment of the full held-out set), so
    * a hash match certifies compaction is a pure rewrite — same rows,
    * same quantizer, same ranking — through the real registered path.
    * Shares ivfAppendTopKSql by construction: the two sub-batches union
    * to exactly the E17 batch, frozen-centroid assignment is per-row,
    * and compaction rewrites without rescoring. The require makes the
    * query FAIL (not silently degrade to the uncompacted chain) if the
    * auto-compaction trigger ever regresses.
    */
  def ivfCompactTopK(spark: SparkSession, dir: String): DataFrame =
    ivfHeldOutTopK(spark, dir, "cmp") { (root, heldOut) =>
      for (m <- Seq(7, 17))
        appendIvfIndex(spark, root, heldOut(col("vec_id") % 20 === m), compactAfterDeltas = 1)
      require(ChainIndex.chainVersions(spark, root).size == 1,
        "emb_ivf_compact: auto-compaction did not collapse the chain")
    }

  val ivfCompactTopKSql: String = ivfAppendTopKSql

  // ---------------------------------------------------------------------
  // E7 ANN quality evaluation: recall@3 of the IVF probe (E2) against the
  // brute-force ground truth (E1) — the eval harness every production ANN
  // deployment runs before trusting an index, expressed as one query so
  // the recall number is itself oracle-checked. Per query point: the two
  // top-3 lists are joined on (qid, cid) and recall = hits/3 (one exact
  // integer count, one 6dp division). The LlmSpec recall floor (≥ 2/3)
  // pins the same contract as a test; this query makes it a first-class,
  // driver-gated artifact.
  // 100 TB: ground truth is only ever computed for the EVAL SAMPLE (here
  // the 5 query points) — the brute-force side is broadcast(sample) ×
  // corpus with map-side bounded top-k, the ANN side probes cells; both
  // sides' costs are the E1/E2 plans, and the final join is sample-sized.
  def recallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bf = cosineTopK(spark, dir).filter($"rnk" <= 3)
      .select($"qid", $"cid")
    val ann = ivfTopK(spark, dir)
      .select($"qid".as("aqid"), $"cid".as("acid"))
    bf.join(ann, $"qid" === $"aqid" && $"cid" === $"acid", "left")
      .groupBy($"qid")
      .agg(count($"acid").as("n_hits"))
      .select($"qid", lit(3).as("n_true"), $"n_hits",
        round($"n_hits".cast("double") / 3.0, 6).as("recall"))
      .orderBy($"qid")
  }

  val recallEvalSql: String =
    embCte + ",\n" + lloydCtes(10, 5) + ",\n" + ivfSearchCtes + """,
      |ann AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |    FROM hits) r
      |  WHERE rnk <= 3),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |cand AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev WHERE vec_id >= 5),
      |bfsims AS (
      |  SELECT qid, cid,
      |    round(list_sum(list_transform(list_zip(qv, cv), t -> t[1] * t[2])) / (qn * cn), 6) AS sim
      |  FROM cand CROSS JOIN q),
      |bf AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |    FROM bfsims) r
      |  WHERE rnk <= 3)
      |SELECT bf.qid, 3 AS n_true, CAST(COUNT(ann.cid) AS BIGINT) AS n_hits,
      |  round(CAST(COUNT(ann.cid) AS DOUBLE) / 3.0, 6) AS recall
      |FROM bf LEFT JOIN ann ON ann.qid = bf.qid AND ann.cid = bf.cid
      |GROUP BY bf.qid ORDER BY bf.qid""".stripMargin

  // ---------------------------------------------------------------------
  // E19 graded ranking eval: nDCG@3 + MRR of the IVF probe (E2) against
  // brute-force graded relevance — the metric pair that distinguishes
  // "found the right items" (E7's recall) from "found them in the right
  // ORDER", which is what a retrieval stack feeding a reranker or a RAG
  // context window actually needs. Relevance is graded by the exact
  // ranking itself: the brute-force top-3 carry gains 3/2/1, everything
  // else 0 — the standard pooled-qrels construction when no human labels
  // exist.
  // Determinism (the T18/a21 discipline): DCG's 1/log2(r+1) discounts are
  // irrational, so both engines use the SAME precomputed int64 table
  // w(r) = floor(1e9/log2(r+1)) = [1000000000, 630929753, 500000000] and
  // DCG is an exact int64 dot product; the ideal DCG for gains 3/2/1 is
  // the constant 4761859506, so nDCG is ONE double division of exact
  // int64s, and MRR is integer-division micro-units (1e6 div first-hit
  // rank). The ALL summary row derives from Σdcg (exact) — never a float
  // sum across queries.
  // 100 TB: ground truth only exists for the EVAL SAMPLE (the E7
  // argument); everything after the two top-3 lists is sample-sized.
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wDisc = expr(
      "CASE rnk WHEN 1 THEN 1000000000L WHEN 2 THEN 630929753L ELSE 500000000L END")
    val idealDcg = 4761859506L // 3*w(1) + 2*w(2) + 1*w(3)
    val bfg = cosineTopK(spark, dir).filter($"rnk" <= 3)
      .select($"qid", $"cid", (lit(4L) - $"rnk").cast("long").as("gain"))
    val ann = ivfTopK(spark, dir).select($"qid", $"rnk", $"cid")
    // per feeds BOTH the per-query rows and the ALL rollup of one union —
    // action-scoped cache so the E1 brute-force scan and the E2 training
    // pipeline behind it run once, not once per union branch
    val per = graft.ops.ScopedCache.untilConsumed(
      ann.join(bfg, Seq("qid", "cid"), "left")
        .withColumn("gain", coalesce($"gain", lit(0L)))
        .groupBy($"qid")
        .agg(
          sum($"gain" * wDisc).as("dcg"),
          sum(when($"gain" > 0, 1L).otherwise(0L)).as("n_rel"),
          min(when($"gain" > 0, $"rnk")).as("fr")))
    val rows = per.select($"qid", $"n_rel", $"dcg",
      round($"dcg".cast("double") / lit(idealDcg.toDouble), 6).as("ndcg"),
      coalesce(expr("1000000L div fr"), lit(0L)).as("mrr_micro"))
    val all = per.agg(
        sum($"n_rel").as("n_rel"), sum($"dcg").as("dcg"),
        count(lit(1)).as("nq"), sum(coalesce(expr("1000000L div fr"), lit(0L))).as("smrr"))
      .select(lit(-1L).as("qid"), $"n_rel", $"dcg",
        round($"dcg".cast("double") / ($"nq" * lit(idealDcg.toDouble)), 6).as("ndcg"),
        expr("smrr div nq").as("mrr_micro"))
    rows.unionByName(all).orderBy($"qid")
  }

  val ndcgEvalSql: String =
    embCte + ",\n" + lloydCtes(10, 5) + ",\n" + ivfSearchCtes + """,
      |ann AS (
      |  SELECT qid, cid, rnk FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |    FROM hits) r
      |  WHERE rnk <= 3),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |cand AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev WHERE vec_id >= 5),
      |bfsims AS (
      |  SELECT qid, cid,
      |    round(list_sum(list_transform(list_zip(qv, cv), t -> t[1] * t[2])) / (qn * cn), 6) AS sim
      |  FROM cand CROSS JOIN q),
      |bfg AS (
      |  SELECT qid, cid, CAST(4 - rnk AS BIGINT) AS gain FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |    FROM bfsims) r
      |  WHERE rnk <= 3),
      |per AS (
      |  SELECT a.qid,
      |    SUM(COALESCE(g.gain, 0) *
      |      CASE a.rnk WHEN 1 THEN 1000000000 WHEN 2 THEN 630929753 ELSE 500000000 END) AS dcg,
      |    SUM(CASE WHEN COALESCE(g.gain, 0) > 0 THEN 1 ELSE 0 END) AS n_rel,
      |    MIN(CASE WHEN COALESCE(g.gain, 0) > 0 THEN a.rnk END) AS fr
      |  FROM ann a LEFT JOIN bfg g ON g.qid = a.qid AND g.cid = a.cid
      |  GROUP BY a.qid)
      |SELECT qid, CAST(n_rel AS BIGINT) AS n_rel, CAST(dcg AS BIGINT) AS dcg,
      |  round(dcg / 4761859506.0, 6) AS ndcg,
      |  CAST(COALESCE(1000000 // fr, 0) AS BIGINT) AS mrr_micro
      |FROM per
      |UNION ALL
      |SELECT -1, CAST(SUM(n_rel) AS BIGINT), CAST(SUM(dcg) AS BIGINT),
      |  round(SUM(dcg) / (COUNT(*) * 4761859506.0), 6),
      |  CAST(SUM(COALESCE(1000000 // fr, 0)) // COUNT(*) AS BIGINT)
      |FROM per
      |ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------------
  // E5 SemDeDup-style semantic dedup: the learned IVF cells (same Lloyd
  // training as E2) bound the candidate space — only CELL-MATES are ever
  // compared, the SemDeDup design (Abbas et al. 2023): k-means first, then
  // pairwise cosine inside each cluster, keep one representative per
  // near-dup group. The keep rule is the deterministic greedy one: a
  // vector is dropped iff some SMALLER-id cell-mate sits within the
  // cosine-0.42 radius (dup_of = that smallest neighbor), so the decision
  // table is order-independent and SQL-expressible — no iterative
  // clustering in the decision step.
  // 100 TB: the within-cell join is quadratic ONLY per cell — k grows
  // with the corpus (k ∝ √n keeps cells node-sized) and skewed cells
  // split under AQE; the cell assignment itself is the map-side broadcast
  // argmax of E2. Never an all-pairs over the corpus.
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val eRaw = vectors(spark, dir)
    val cents = lloydCentroids(eRaw, k = 10, iters = 5)
    // assigned feeds three consumers (both join sides + the final left
    // join): cache for the one collecting action, then release
    val assigned = graft.ops.ScopedCache.untilConsumed(
      assignCells(eRaw, cents).select($"vec_id", $"v", $"nrm", $"cell"))
    val a = assigned.select($"cell", $"vec_id".as("va"), $"v".as("av"), $"nrm".as("an"))
    val b = assigned.select($"cell", $"vec_id".as("vb"), $"v".as("bv"), $"nrm".as("bn"))
    val rem = a.join(b, Seq("cell"))
      .filter($"va" < $"vb")
      .withColumn("sim", round(dot($"av", $"bv") / ($"an" * $"bn"), 6))
      .filter($"sim" >= 0.42)
      .groupBy($"vb")
      .agg(min(struct($"va", $"sim")).as("m"))
      .select($"vb".as("vec_id"), $"m.va".as("dup_of"), $"m.sim".as("dup_sim"))
    assigned.select($"vec_id", $"cell")
      .join(rem, Seq("vec_id"), "left")
      .withColumn("keep", $"dup_of".isNull)
      .select($"vec_id", $"cell", $"keep", $"dup_of", $"dup_sim")
      .orderBy($"vec_id")
  }

  val semDedupSql: String =
    embCte + ",\n" + lloydCtes(10, 5) + """,
      |assigned AS (
      |  SELECT vec_id, v, nrm, cell FROM (
      |    SELECT ev.vec_id, ev.v, ev.nrm, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
      |        round(list_sum(list_transform(list_zip(ev.v, c.cv), t -> t[1] * t[2])) / (ev.nrm * c.cn), 6) DESC,
      |        c.cell ASC) AS arn
      |    FROM ev CROSS JOIN c5 c)
      |  WHERE arn = 1),
      |pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    round(list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2])) / (a.nrm * b.nrm), 6) AS sim
      |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |rem AS (
      |  SELECT vb AS vec_id, MIN(va) AS dup_of, arg_min(sim, va) AS dup_sim
      |  FROM pairs WHERE sim >= 0.42 GROUP BY vb)
      |SELECT a.vec_id, a.cell, r.dup_of IS NULL AS keep, r.dup_of, r.dup_sim
      |FROM assigned a LEFT JOIN rem r ON a.vec_id = r.vec_id
      |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // E3 LSH near-dup: 16 sign-random-projection hyperplanes (weights ±1 from
  // md5(plane|dim) — identical in both engines), signature split into 4
  // bands × 4 bits; pairs sharing any band are candidates; exact cosine
  // >= 0.4 verifies. 100 TB: the hyperplane table is a broadcast constant,
  // signatures are one corpus scan + a (vec, plane)-grouped sum, and the
  // candidate join shuffles on (band, chunk) — never all-pairs.
  /** SRP-banded candidate pairs (va < vb), shared by E3 (lshNearDup) and
    * E6 (knnGraph): 16 sign-random-projection hyperplanes (weights ±1 from
    * md5(plane|dim) — identical in both engines), signature split into 4
    * bands × 4 bits; pairs sharing any band are candidates. One corpus
    * scan for signatures, candidate join shuffles on (band, chunk).
    */
  /** Per-(vector, plane) SRP projection and sign bit — the shared signal
    * behind E3/E8's signatures and E14's probe-bit margins.
    */
  /** (vec_id, h, proj, bit) per plane, via the native graft_srp_proj
    * expression (round 13): the declarative form posexploded every
    * vector into 64 rows, broadcast-joined the 1024-row plane table and
    * partially aggregated 16 groups per vector — a 64× row amplification
    * into a shuffle, per SRP consumer. The planes are a 1 KB constant,
    * so the projection is map-side by construction; the only remaining
    * exchange in any SRP pipeline is the candidate join itself.
    */
  private def srpBits(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    e.select($"vec_id",
        posexplode(call_function("graft_srp_proj", $"v")).as(Seq("h", "proj")))
      .withColumn("bit", when($"proj" >= 0, lit("1")).otherwise(lit("0")))
  }

  /** (vec_id, band, chunk) index entries, fully map-side: signature
    * string straight from the projection array (transform preserves the
    * plane order the old array_sort(collect_list) reconstructed), then
    * the 4-band split. Zero exchanges before the candidate join.
    */
  private def srpSigs(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    e.select($"vec_id", call_function("graft_srp_proj", $"v").as("pr"))
      .select($"vec_id", concat_ws("",
        transform($"pr", p => when(p >= 0, lit("1")).otherwise(lit("0")))).as("bits"))
      .select($"vec_id", explode(sequence(lit(0), lit(3))).as("band"), $"bits")
      .withColumn("chunk", expr("substr(bits, band * 4 + 1, 4)"))
      .select($"vec_id", $"band", $"chunk")
  }

  private def srpCandidates(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bands = srpSigs(e)
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.chunk" === $"b.chunk" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb")).distinct()
  }

  // ---------------------------------------------------------------------
  // E14 multi-probe SRP near-dup: E3's index, better recall, SAME index
  // size. Banded LSH's recall ceiling (the E3/E8 documented caveat) is a
  // vector pair whose signatures differ by exactly one bit in every band
  // — they collide nowhere and are lost. The multi-probe move (Lv et al.
  // VLDB'07, adapted to sign-random-projections): each vector ALSO
  // probes, per band, the bucket with its LEAST-CONFIDENT bit flipped —
  // the bit whose margin |Σ w·x| is smallest is the likeliest to differ
  // from a true near neighbor's. Probes query the TRUE-chunk index
  // (asymmetric: probe–probe matches are not taken, so the index and its
  // build cost are E3's unchanged); per-vector lookups double (4 → 8).
  // Candidates strictly contain E3's (every true-chunk collision still
  // matches) at ~2× candidate cost — the memory-free alternative to
  // adding hash tables. Determinism: margin ranking uses the 6-dp round
  // barrier then plane id asc (total order); verify and output are E3's
  // exact-cosine ≥ 0.4 shape.
  def multiProbeNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val e = vectors(spark, dir)
    // both legs are map-side off the native projection now — no shared
    // shuffle worth caching (the old bits frame fed two aggregations)
    val bits = srpBits(e)
    val bands = srpSigs(e)
    val wFlip = Window.partitionBy($"vec_id", $"band")
      .orderBy(round(abs($"proj"), 6).asc, $"h".asc)
    val flip = bits
      .withColumn("band", expr("CAST(h div 4 AS INT)"))
      .withColumn("rk", row_number().over(wFlip))
      .filter($"rk" === 1)
      .select($"vec_id", $"band", ($"h" % 4).as("pos"))
    val probes = bands.join(flip, Seq("vec_id", "band"))
      .withColumn("chunk2", expr(
        """concat(substr(chunk, 1, pos),
          |  CASE WHEN substr(chunk, pos + 1, 1) = '1' THEN '0' ELSE '1' END,
          |  substr(chunk, pos + 2, 3 - pos))""".stripMargin))
      .select($"vec_id", $"band", $"chunk2".as("chunk"))
    val probeAll = bands.unionByName(probes)
    val cand = probeAll.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.chunk" === $"b.chunk" && $"a.vec_id" =!= $"b.vec_id")
      .select(least($"a.vec_id", $"b.vec_id").as("va"),
        greatest($"a.vec_id", $"b.vec_id").as("vb"))
      .distinct()
    cand
      .join(e.select($"vec_id".as("va"), $"v".as("av"), $"nrm".as("an")), Seq("va"))
      .join(e.select($"vec_id".as("vb"), $"v".as("bv"), $"nrm".as("bn")), Seq("vb"))
      .withColumn("sim", round(dot($"av", $"bv") / ($"an" * $"bn"), 6))
      .filter($"sim" >= 0.4)
      .select($"va", $"vb", $"sim")
      .orderBy($"va", $"vb")
  }

  def lshNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val e = vectors(spark, dir)
    srpCandidates(e)
      .join(e.select($"vec_id".as("va"), $"v".as("av"), $"nrm".as("an")), Seq("va"))
      .join(e.select($"vec_id".as("vb"), $"v".as("bv"), $"nrm".as("bn")), Seq("vb"))
      .withColumn("sim", round(dot($"av", $"bv") / ($"an" * $"bn"), 6))
      .filter($"sim" >= 0.4)
      .select($"va", $"vb", $"sim")
      .orderBy($"va", $"vb")
  }

  /** The shared SRP hyperplane table (the native expression's exact
    * md5-seeded weights) — declared once per oracle, consumed by every
    * [[srpCandCtesOn]] instantiation in the same query.
    */
  private val srpPlanesSql: String =
    """planes AS (
      |  SELECT h.h, d.d,
      |    CASE WHEN strpos('01234567', substr(md5(h.h::VARCHAR || '|' || d.d::VARCHAR), 1, 1)) > 0
      |         THEN 1.0 ELSE -1.0 END AS w
      |  FROM generate_series(0, 15) h(h) CROSS JOIN generate_series(1, 64) d(d))""".stripMargin

  /** SRP candidate CTEs over source table `src`, CTE names prefixed with
    * `pfx` so one oracle can band two different vector sets (E23 bands
    * the resident corpus for the seed graph AND the batch for its
    * internal edges). `pfx` = "" reproduces the historical names.
    */
  private def srpCandCtesOn(src: String, pfx: String): String =
    s"""${pfx}bits AS (
       |  SELECT $src.vec_id, p.h,
       |    CASE WHEN SUM(p.w * $src.v[p.d]) >= 0 THEN '1' ELSE '0' END AS bit
       |  FROM $src JOIN planes p ON TRUE
       |  GROUP BY 1, 2),
       |${pfx}sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY h) AS bits FROM ${pfx}bits GROUP BY 1),
       |${pfx}bands AS (
       |  SELECT vec_id, band, substr(bits, band * 4 + 1, 4) AS chunk
       |  FROM ${pfx}sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)),
       |${pfx}cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM ${pfx}bands a JOIN ${pfx}bands b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id < b.vec_id)""".stripMargin

  /** Oracle CTE chain producing the same (va, vb) SRP candidate pairs. */
  private val srpCandSql: String =
    srpPlanesSql + ",\n" + srpCandCtesOn("ev", "")

  val lshNearDupSql: String =
    embCte + ",\n" + srpCandSql + """
      |SELECT va, vb,
      |  round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
      |FROM cand JOIN ev x ON x.vec_id = va JOIN ev y ON y.vec_id = vb
      |WHERE round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) >= 0.4
      |ORDER BY va, vb""".stripMargin

  /** Oracle replay of the E14 probe chunks: same planes/sig CTEs, the
    * per-band argmin-margin bit via the identical rounded-rank window,
    * probes UNION'd with true chunks on the probe side only.
    */
  val multiProbeNearDupSql: String =
    embCte + """,
      |planes AS (
      |  SELECT h.h, d.d,
      |    CASE WHEN strpos('01234567', substr(md5(h.h::VARCHAR || '|' || d.d::VARCHAR), 1, 1)) > 0
      |         THEN 1.0 ELSE -1.0 END AS w
      |  FROM generate_series(0, 15) h(h) CROSS JOIN generate_series(1, 64) d(d)),
      |bitsp AS (
      |  SELECT ev.vec_id, p.h, SUM(p.w * ev.v[p.d]) AS proj
      |  FROM ev JOIN planes p ON TRUE
      |  GROUP BY 1, 2),
      |bits AS (
      |  SELECT vec_id, h, proj,
      |    CASE WHEN proj >= 0 THEN '1' ELSE '0' END AS bit
      |  FROM bitsp),
      |sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY h) AS bits FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT vec_id, band, substr(bits, band * 4 + 1, 4) AS chunk
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)),
      |flip AS (
      |  SELECT vec_id, band, pos FROM (
      |    SELECT vec_id, h // 4 AS band, h % 4 AS pos,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, h // 4
      |        ORDER BY round(abs(proj), 6) ASC, h ASC) AS rk
      |    FROM bits) WHERE rk = 1),
      |probes AS (
      |  SELECT b.vec_id, b.band,
      |    substr(b.chunk, 1, f.pos)
      |      || (CASE WHEN substr(b.chunk, f.pos + 1, 1) = '1' THEN '0' ELSE '1' END)
      |      || substr(b.chunk, f.pos + 2, 3 - f.pos) AS chunk
      |  FROM bands b JOIN flip f ON f.vec_id = b.vec_id AND f.band = b.band),
      |probeall AS (SELECT * FROM bands UNION ALL SELECT * FROM probes),
      |cand AS (
      |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS va, greatest(a.vec_id, b.vec_id) AS vb
      |  FROM probeall a JOIN bands b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.vec_id <> b.vec_id)
      |SELECT va, vb,
      |  round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
      |FROM cand JOIN ev x ON x.vec_id = va JOIN ev y ON y.vec_id = vb
      |WHERE round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) >= 0.4
      |ORDER BY va, vb""".stripMargin

  // ---------------------------------------------------------------------
  // E8 mutual k-NN graph: the data structure behind graph-based ANN
  // indexes (NN-descent, HNSW's base layer) and graph-side corpus work
  // (near-dup clustering, diversity sampling). Candidates come from the
  // SAME SRP band join as E3 — never all-pairs — then each vector keeps
  // its 5 best candidate neighbors (exact cosine, map-side bounded
  // TopKAggregator: only n_partitions × k rows cross the exchange, where
  // a ranking window would shuffle every scored candidate), and an edge
  // survives only if BOTH endpoints keep it (mutual filter = equi-join of
  // two node×k-sized directed lists on the reversed key).
  // Determinism: sims round(·,6); per-vector ranking (sim desc, id asc)
  // is total; output (va<vb) ordered by (va, vb).
  // Coverage caveat (honest): banded LSH recall bounds neighbor recall —
  // a vector with no band collision contributes no edges; more bands or
  // multi-probe raise recall at linear candidate cost. At 100 TB the
  // band join + bounded top-k is exactly the NN-descent seeding shape.
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(5),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val e = graft.ops.ScopedCache.untilConsumed(vectors(spark, dir))
    val scored = srpCandidates(e)
      .join(e.select($"vec_id".as("va"), $"v".as("av"), $"nrm".as("an")), Seq("va"))
      .join(e.select($"vec_id".as("vb"), $"v".as("bv"), $"nrm".as("bn")), Seq("vb"))
      .withColumn("sim", round(dot($"av", $"bv") / ($"an" * $"bn"), 6))
      .select($"va", $"vb", $"sim")
    val directed = scored
      .select($"va".as("src"), $"vb".as("dst"), $"sim")
      .unionByName(scored.select($"vb".as("src"), $"va".as("dst"), $"sim"))
      .groupBy($"src").agg(topk($"dst", $"sim").as("top"))
      .select($"src", posexplode($"top").as(Seq("pos", "s")))
      .select($"src", ($"pos" + 1).as("rnk"), $"s.cid".as("dst"), $"s.sim".as("sim"))
    val d = graft.ops.ScopedCache.untilConsumed(directed)
    d.as("x").join(d.as("y"),
        $"x.src" === $"y.dst" && $"x.dst" === $"y.src" && $"x.src" < $"x.dst")
      .select($"x.src".as("va"), $"x.dst".as("vb"), $"x.sim".as("sim"),
        $"x.rnk".cast("long").as("rnk_ab"), $"y.rnk".cast("long").as("rnk_ba"))
      .orderBy($"va", $"vb")
  }

  val knnGraphSql: String =
    embCte + ",\n" + srpCandSql + """,
      |scored AS (
      |  SELECT va, vb,
      |    round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
      |  FROM cand JOIN ev x ON x.vec_id = va JOIN ev y ON y.vec_id = vb),
      |directed AS (
      |  SELECT va AS src, vb AS dst, sim FROM scored
      |  UNION ALL
      |  SELECT vb AS src, va AS dst, sim FROM scored),
      |ranked AS (
      |  SELECT src, dst, sim,
      |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rnk
      |  FROM directed),
      |d AS (SELECT * FROM ranked WHERE rnk <= 5)
      |SELECT x.src AS va, x.dst AS vb, x.sim AS sim,
      |  CAST(x.rnk AS BIGINT) AS rnk_ab, CAST(y.rnk AS BIGINT) AS rnk_ba
      |FROM d x JOIN d y ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst
      |ORDER BY va, vb""".stripMargin

  // ---------------------------------------------------------------------
  // E18 batched NSW beam search — the graph-ANN family (NSW / HNSW base
  // layer, Malkov et al. 2014) in its set-oriented form. The index is the
  // DIRECTED 5-NN out-edge list (E8's SRP-candidate scoring WITHOUT the
  // mutual filter — search wants every node to keep out-edges; mutuality
  // would strand low-degree nodes), the search is fixed-round batched
  // beam search: seed every query's beam with the same 4 fixed entry
  // points (HNSW's entry-node analogue, smallest corpus ids), then for
  // R=4 rounds expand ALL queries' beams together — ONE equi-join of the
  // (qid, member) frontier against the adjacency list per round, score
  // candidates, keep each query's best B=8 — and emit the final top-3.
  // The per-query sequential walk becomes per-round set algebra: at
  // 100 TB the adjacency is the bucketed artifact (build it once, the
  // E16 MV pattern; refresh = NN-descent), a million-query batch is
  // still three equi-joins, and beam state is (n_queries × B)-bounded —
  // each round's beam frame is localCheckpointed so the loop's plan
  // stays linear (the G8 discipline). Recall is bounded by the LSH
  // candidate graph (the E8 caveat) plus beam width; Round11Spec
  // measures recall@3 against the exact E1 answer and pins beam-subset
  // structure. Determinism: sims round(·, 6) before every comparison,
  // ties by vec_id asc, beam membership therefore total-ordered; the
  // oracle unrolls the 3 rounds as CTEs over the same adjacency.
  /** The NSW corpus/query frames: corpus localCheckpointed once (feeds
    * the index build AND every round's candidate scoring across several
    * consuming actions), query set broadcast.
    */
  private def nswFrames(ck: Ckpt.Scope, spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val e0 = vectors(spark, dir)
    val e = ck(e0.filter($"vec_id" >= 5))
    val q = broadcast(e0.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
    (e, q)
  }

  /** NSW index build over the corpus frame: SRP-banded seed graph, then
    * ONE NN-descent round (Dong et al. 2011: a neighbor's neighbor is a
    * candidate neighbor — adj0 ⋈ adj0 adds ≤ deg² pairs per node, linear
    * in n, exactly how production graph-ANN indexes densify past the LSH
    * recall ceiling). Final adjacency = LSH seed edges ∪ refined close
    * edges (degree ≤ 10): refinement alone LOWERS navigability (measured
    * 6/15 → 4/15 recall@3 here) — a purely-refined graph clusters and
    * the beam stalls locally, the reason HNSW keeps long-range links;
    * the union keeps the seed graph's diversity AND the densified near
    * edges. Returns the directed (src, dst) edge list CHECKPOINTED, with
    * every build intermediate's storage already released.
    *
    * The NN-descent pass scores only the NEW candidate pairs
    * (`non` anti-join the seed candidates): the seed pairs were already
    * scored for `adj0`, and cosine is deterministic per pair. The final
    * top-out ranks adj0's own scored edges plus the fresh ones: a
    * vector's top-5 over all its scored pairs (cand0 ∪ non = cand0 ∪
    * (non \ cand0), both sides distinct) is its top-5 over its seed
    * top-5 and its fresh pairs, since the order is total — the same rows
    * as re-ranking every seed score, from 5 edges per vector instead of
    * every seed candidate.
    */
  /** Exact-cosine scoring of candidate pairs against corpus `e` — the
    * oracle-certified expression (round to 6dp), shared by the build's
    * seed/NN-descent scoring and E23's batch-internal edges.
    */
  private def nswScorePairs(e: DataFrame, cand: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    cand
      .join(e.select($"vec_id".as("va"), $"v".as("av"), $"nrm".as("an")), Seq("va"))
      .join(e.select($"vec_id".as("vb"), $"v".as("bv"), $"nrm".as("bn")), Seq("vb"))
      .withColumn("sim", round(dot($"av", $"bv") / ($"an" * $"bn"), 6))
      .select($"va", $"vb", $"sim")
  }

  /** Both directions of each scored (va, vb, sim) pair as (src, dst,
    * sim), from ONE scan of `scored` (a two-element explode per pair): a
    * union of two projections would plan `scored` twice, and a lazy
    * scoring subtree (the NN-descent candidates) would be joined and
    * scored once per direction.
    */
  private def nswDirected(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(explode(array(
        struct($"va".as("src"), $"vb".as("dst"), $"sim"),
        struct($"vb".as("src"), $"va".as("dst"), $"sim"))).as("d"))
      .select($"d.src".as("src"), $"d.dst".as("dst"), $"d.sim".as("sim"))
  }

  /** Directed 5-NN out-edges: each src's 5 best (src, dst, sim) edges by
    * (sim desc, dst asc) — the oracle-certified tie order, NaN last as in
    * [[graft.functions.TopKAggregator]]. Every vector is a group, so
    * the rank-≤-5 filter is planned as a per-partition group limit ahead
    * of the exchange (codegen'd sorts; the typed top-k aggregate falls
    * back to sort-based aggregation past 128 groups per task).
    */
  private def nswTop5(directed: DataFrame): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    val rank = row_number().over(
      Window.partitionBy($"src").orderBy(isnan($"sim"), $"sim".desc, $"dst"))
    directed.withColumn("rk", rank).filter($"rk" <= 5).drop("rk")
  }

  private[graft] def nswAdjacency(e: DataFrame): DataFrame = Ckpt.scope { ck =>
    val spark = e.sparkSession
    import spark.implicits._
    // cand0 feeds the seed scoring + the anti-join, adj0 feeds three
    // consumers (both sides of the NN-descent self-join + the final
    // top-out) — each must run once, not per consumer. cand0 stays a LAZY
    // leaf, adj0 is EAGER: its one checkpoint job walks the chain cand0 →
    // scores → adj0 and persists cand0 on the way. (Under the round-16
    // all-lazy form the final job requested the shared frames from
    // several subtrees CONCURRENTLY, so partitions were computed
    // repeatedly before their blocks landed: 51 s of task time for a
    // 2000-vector build, OPTIMIZATION_r17.md §emb_nsw_topk.)
    // A one-file corpus checkpoints as ONE partition, and the banded
    // self-join streams that side: spread it so candidate generation
    // runs on every core.
    val cand0 = ck(srpCandidates(e.repartition($"vec_id")), eager = false)
    val adj0 = ck(nswTop5(nswDirected(nswScorePairs(e, cand0))))
    val non = adj0.as("a").join(adj0.as("b"),
        $"a.dst" === $"b.src" && $"a.src" =!= $"b.dst")
      .select(least($"a.src", $"b.dst").as("va"),
        greatest($"a.src", $"b.dst").as("vb"))
      .distinct()
    val fresh = non.join(cand0, Seq("va", "vb"), "left_anti")
    ck(nswTop5(adj0.unionByName(nswDirected(nswScorePairs(e, fresh))))
      .select("src", "dst")
      .unionByName(adj0.select("src", "dst")).distinct())
  }

  def nswTopK(spark: SparkSession, dir: String): DataFrame = Ckpt.scope { ck =>
    graft.GraftExtensions.ensure(spark)
    val (e, q) = nswFrames(ck, spark, dir)
    nswBeamSearch(e, q, nswAdjacency(e))
  }

  /** The fixed-round batched beam search over a materialized adjacency —
    * shared by E18 (fresh build), E20/E22 (artifact read-back), and E23
    * (insert-time neighbor search, which takes the final top-`finalK`
    * from the same width-8 beam instead of the query path's top-3).
    */
  private[graft] def nswBeamSearch(e: DataFrame, q: DataFrame, adj: DataFrame,
                                   finalK: Int = 3): DataFrame = Ckpt.scope { ck =>
    val spark = e.sparkSession
    import spark.implicits._
    val seeds = e.orderBy($"vec_id".asc).limit(4)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn"))
    val wBeam = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    // The seed beam and rounds 1–3 are LAZY checkpoints and the FINAL
    // round is eager ([[graft.ops.Ckpt.Scope.rounds]]): one job
    // materializes the whole chain with identical round trajectories.
    // 4 seeds × n_queries constant nested-loop broadcast (PlanAudit allowlisted)
    val beam0 = ck(seeds.join(q)
      .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
      .select($"qid", $"cid", $"sim"), eager = false)
    val beam = ck.rounds(beam0, 4) { beam =>
      // Round-17 note: an explicit-broadcast variant of this loop
      // (broadcast(beam) probing adj, broadcast(cand) probing e) was
      // A/B-measured and REVERTED — it cut emb_nsw_topk 3.71→2.93 s but
      // regressed the insert-time callers (append/compact/mv each run
      // many beam searches, and each broadcast build is a synchronous
      // driver round-trip), a net −1 s across the NSW family. At
      // production scale the ≥1 GiB Tuning branch runs AQE, which
      // converts these tiny-side SMJs to broadcast joins from runtime
      // stats without the driver sync. Two row-17 tweaks kept from that
      // experiment, both result-identical:
      //  - no distinct on cand: duplicate (qid, cid) expansions score
      //    the same deterministic sim and collapse in the post-union
      //    distinct below — one dedup exchange per round, not two;
      //  - repartition($"qid") before the distinct: qid is a subset of
      //    every later clustering key, so the distinct, the beam window
      //    AND the next round's window all reuse this ONE exchange
      //    (guide §2.4 "two operations keyed the same way share one
      //    exchange").
      val cand = beam.select($"qid", $"cid".as("src"))
        .join(adj, Seq("src"))
        .select($"qid", $"dst".as("cid"))
      val scored = cand
        .join(e.select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn")), Seq("cid"))
        .join(q, Seq("qid"))
        .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
        .select($"qid", $"cid", $"sim")
      beam.unionByName(scored).repartition($"qid").distinct()
        .withColumn("rk", row_number().over(wBeam))
        .filter($"rk" <= 8)
        .select($"qid", $"cid", $"sim")
    }
    beam
      .withColumn("rnk", row_number().over(wBeam))
      .filter($"rnk" <= finalK)
      .select($"qid", $"rnk", $"cid", $"sim")
      .orderBy($"qid", $"rnk")
  }

  // ---------------------------------------------------------------------
  // E20 persisted NSW adjacency: the "bucketed build-once artifact" the
  // E18 scaladoc defers to, made concrete (the E16/G0 MV pattern applied
  // to the graph-ANN index): build the adjacency ONCE, publish it
  // src-clustered (repartition + sortWithinPartitions — row-group
  // locality and min/max skipping on the join key), read it BACK, and
  // answer the standard query batch from the round-tripped artifact —
  // the oracle (nswTopKSql, unchanged) certifies the on-disk copy, the
  // way emb_ivf_mv's unchanged E2 oracle certifies the IVF artifact.
  // This is the production split: the graph build amortizes across
  // every query batch until the next NN-descent refresh, and a batch
  // pays only the 4 beam-search equi-joins against the artifact
  // (SURVEY.md's E20 entry, sf0.1: build+persist 6.4 s ONCE, then 1.4–2.0 s per
  // query batch from the artifact, vs 7.4–12.6 s per batch when each
  // rebuilds — the build cost crosses over on the second batch).
  /** The NSW index's chain layers: `adj` (the src-clustered edge list —
    * row-group locality and min/max skipping on the beam's join key;
    * inserts append edge increments) and `vecs` (the appended-vector
    * archive, absent until the first insert — searches and later inserts
    * score against corpus ∪ vecs). No resident-id sidecar, deliberately:
    * the NSW resident set is pred(LIVE corpus) ∪ vecs, not chain-derived,
    * so a build-time bloom could not soundly prove disjointness;
    * [[appendNswIndex]]'s guard is exact instead.
    */
  private[graft] val Nsw = new ChainIndex.Family("graft_ivf_mv_nsw", "NSW index", Seq(
    ChainIndex.Layer("adj", ChainIndex.AppendShaped, clusterBy = Seq("src"), sortBy = Seq("src", "dst")),
    ChainIndex.Layer("vecs", ChainIndex.AppendShaped, clusterBy = Seq("vec_id"), optional = true)))

  private[graft] def nswRoot(dir: String, tag: String = ""): String = Nsw.root(dir, tag)

  /** Build + publish the NSW adjacency artifact for `dir`, releasing
    * every build-side checkpoint before returning. Returns the root.
    * `tag`/`pred` parameterize a variant index over a corpus subset (the
    * buildIvfIndex convention — E23's registered query builds its
    * resident index on 90% of the corpus and appends the rest). Each
    * NN-descent refresh derives from the BASE corpus table only and
    * starts a new chain — appended vectors not yet merged into the corpus
    * are superseded by it, the same refresh-owns-the-corpus contract as
    * the pair-graph MV.
    */
  private[graft] def buildNswIndex(spark: SparkSession, dir: String, tag: String = "",
                                   pred: DataFrame => DataFrame = identity): String =
    Nsw.build(spark, dir, tag) { v =>
      Ckpt.scope { ck =>
        val (e0, _) = nswFrames(ck, spark, dir)
        v.write("adj", nswAdjacency(pred(e0)))
      }
    }

  /** Answer the standard query batch from a persisted adjacency: the 4
    * beam-search equi-joins against the artifact, nothing corpus-sized
    * rebuilt. Shared by E20 (refresh + read) and E22 (read-only).
    */
  /** Pinned-chain corpus: the (pred-filtered) base table unioned with
    * the chain's appended-vector archive when the pinned dirs carry one,
    * checkpointed in `ck` (the base checkpoint `e0` is then dropped). The
    * pin (`dirs`) comes from ONE ChainIndex.chainDirs resolution shared
    * with the adjacency read, so vecs and adj can never come from
    * different chains.
    */
  private def corpusWithVecs(ck: Ckpt.Scope, spark: SparkSession, dirs: Seq[String],
                             e0: DataFrame, pred: DataFrame => DataFrame): DataFrame =
    Nsw.read(spark, dirs, "vecs") match {
      case Some(vecs) =>
        val u = ck(pred(e0).unionByName(vecs))
        ck.drop(e0)
        u
      case None => pred(e0)
    }

  private[graft] def nswQueryFromIndex(spark: SparkSession, dir: String, root: String,
                                       pred: DataFrame => DataFrame = identity): DataFrame =
    Ckpt.scope { ck =>
      graft.GraftExtensions.ensure(spark)
      val (e0, q) = nswFrames(ck, spark, dir)
      // ONE chain pin for both layers (the ivfQueryFromIndex discipline)
      val dirs = ChainIndex.chainDirs(spark, root)
      val e = corpusWithVecs(ck, spark, dirs, e0, pred)
      nswBeamSearch(e, q, ck(Nsw.read(spark, dirs, "adj").get))
    }

  def nswMvTopK(spark: SparkSession, dir: String): DataFrame =
    nswQueryFromIndex(spark, dir, buildNswIndex(spark, dir))

  /** E22 the PRODUCTION read path — the E21 (emb_ivf_read) convention
    * applied to the graph-ANN index: the adjacency is built at most once
    * per (process, dataset), and the registered query bills only what a
    * batch against an already-maintained index costs. The billing
    * convention now closes the same three ways as IVF's:
    * emb_nsw_topk = inline (no artifact), emb_nsw_mv = refresh + read
    * (bills the NN-descent build every run), emb_nsw_read = read-only.
    * Result-identical to both by construction (same adjacency content —
    * parquet round-trips the long edge list exactly — same beam
    * search), so it shares nswTopKSql; the oracle match certifies the
    * amortized artifact end-to-end.
    */
  def nswReadTopK(spark: SparkSession, dir: String): DataFrame = {
    val root = nswRoot(dir)
    Nsw.ensureBuilt(root) { buildNswIndex(spark, dir); () }
    nswQueryFromIndex(spark, dir, root)
  }

  /** E23 incremental NSW insert — the HNSW insert algorithm (Malkov &
    * Yashunin 2018 §4, base layer) in the same set-oriented form as the
    * E18 search, completing the graph-ANN family's ingest story the way
    * E17 did IVF's and `appendPairGraphMv` did the pair graph's: a NEW
    * batch of vectors (vec_id, v, nrm — ids disjoint from the resident
    * corpus, the CDC ingest contract) is connected into a BUILT index
    * without touching the resident build. Per-batch cost is
    * batch-bounded:
    *  - each batch vector BEAM-SEARCHES its top-5 resident neighbors
    *    over the existing adjacency (the E18 search with the batch as
    *    the query set — 4 equi-joins, beam state batch×8);
    *  - new edges = batch→neighbors ∪ neighbors→batch (the back-edges
    *    are what make inserted nodes REACHABLE by later searches —
    *    HNSW's bidirectional connect) ∪ batch-internal SRP-seeded 5-NN
    *    edges (a batch can carry its own near-dups; batch²-bounded via
    *    the LSH bands, never all-pairs);
    *  - ONE delta version carries the edge increments (`adj` layer) and
    *    the batch's vectors (`vecs` archive — later searches and appends
    *    score against corpus ∪ vecs, the pair-graph batchdocs pattern).
    * Resident out-edge lists are never rewritten (append-shaped chain
    * layers): a resident node's degree can exceed the build's cap by
    * its back-edges, which only ADDS beam candidates — recall never
    * drops, and the periodic NN-descent refresh re-normalizes degrees
    * (insert-then-rebuild is exactly the production HNSW maintenance
    * story). A crash anywhere commits nothing; an empty batch publishes
    * nothing; writers serialize on the index monitor.
    *
    * Ingest-guard cost, honestly: the dup guard semi-joins the batch's
    * ids against corpus ∪ appended vecs EXACTLY — deliberately not the
    * bloom-first [[graft.ops.IdBloom]] probe the IVF and pair-graph
    * appends use, because the NSW resident set references the LIVE
    * corpus table (a build-time sidecar misses corpus rows added since
    * the build, and a missed row means a silently admitted duplicate).
    * The exactness is free in asymptotic terms: the insert beam below
    * materializes the full corpus ∪ vecs frame regardless (an NSW
    * insert must score against resident vectors), so the guard's
    * limit-1 semi-join probes a checkpointed frame the append already
    * paid for. Every checkpoint this body creates belongs to one
    * [[Ckpt.scope]] — the guard's require and a publish-lock failure are
    * retry paths, and retrying a poisoned batch must not leak
    * corpus-sized blocks per attempt.
    */
  private[graft] def appendNswIndex(spark: SparkSession, dir: String,
                                    batch: DataFrame, tag: String = "",
                                    pred: DataFrame => DataFrame = identity,
                                    compactAfterDeltas: Int = 0): Unit = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val root = nswRoot(dir, tag)
    Nsw.requireBuilt(root, "appendNswIndex", dir)
    Nsw.append(spark, root, batch.select($"vec_id", $"v", $"nrm"), "appendNswIndex",
        compactAfterDeltas) { (b, dirs, v) =>
      Ckpt.scope { ck =>
        val (e0, _) = nswFrames(ck, spark, dir)
        val e = corpusWithVecs(ck, spark, dirs, e0, pred)
        // ingest-contract guard, exact (see above): a resident vec_id
        // re-ingested would land duplicate vecs rows and double-score
        // every beam candidate
        val dup = b.select($"vec_id")
          .join(e.select($"vec_id"), Seq("vec_id"), "left_semi")
          .limit(1).count()
        require(dup == 0,
          s"appendNswIndex: batch re-ingests vec_ids already resident in $root — " +
            "vec_ids must be disjoint (CDC ingest contract)")
        val adj = ck(Nsw.read(spark, dirs, "adj").get)
        // neighbor search: batch vectors as the query set, final top-5 of
        // the width-8 beam (the insert's M, matching the build's degree)
        val qb = broadcast(b.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
        val found = ck(nswBeamSearch(e, qb, adj, finalK = 5)
          .select($"qid".as("src"), $"cid".as("dst")))
        // batch-internal 5-NN edges: the build's exact seed-graph recipe
        // (SRP candidates → certified scoring → bounded top-out) over the
        // batch alone
        val bbEdges = nswTop5(nswDirected(nswScorePairs(b, srpCandidates(b)))).select("src", "dst")
        val delta = found
          .unionByName(found.select($"dst".as("src"), $"src".as("dst")))
          .unionByName(bbEdges)
          .distinct()
        graft.ops.Par.all(
          () => v.write("adj", delta),
          () => v.write("vecs", b))
      }
    }
  }

  /** E23 registered form — the emb_ivf_append convention applied to the
    * graph index: the resident index is built on 90% of the corpus
    * (vec_id % 10 <> 7), the held-out 10% arrives as a batch routed in by
    * [[appendNswIndex]], and the standard query batch runs over the
    * UNION index (union corpus, union adjacency — including the batch's
    * back-edges, so inserted vectors are reachable). `is_new` marks hits
    * that exist only because of the insert. The oracle replays the whole
    * pipeline — resident NN-descent adjacency, batch insert beam, edge
    * union, final query beam — so incremental ingest is certified
    * end-to-end, not just protocol-tested.
    */
  def nswAppendTopK(spark: SparkSession, dir: String): DataFrame =
    nswHeldOutTopK(spark, dir, "incr")(_ => ())

  /** E23's pipeline on index variant `tag`; `maintain` runs on the root
    * after the insert, before the query beam. */
  private def nswHeldOutTopK(spark: SparkSession, dir: String, tag: String)(
      maintain: String => Unit): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val pred: DataFrame => DataFrame = _.filter($"vec_id" % 10 =!= 7)
    val root = buildNswIndex(spark, dir, tag, pred)
    appendNswIndex(spark, dir, vectors(spark, dir).filter($"vec_id" >= 5 && $"vec_id" % 10 === 7),
      tag, pred)
    maintain(root)
    nswQueryFromIndex(spark, dir, root, pred)
      .withColumn("is_new", ($"cid" % 10 === 7).cast("int"))
  }

  /** Compact the NSW chain (full build + N insert deltas) into ONE new
    * full version: adj = the chain union, vecs = the appended-vector
    * archive unioned (it must survive — searches and later appends score
    * against corpus ∪ vecs). A pure artifact rewrite, no NN-descent.
    */
  private[graft] def compactNswIndex(spark: SparkSession, root: String): Unit =
    Nsw.compact(spark, root)

  /** E25 NSW compaction as a REGISTERED, oracle-checked query — E24's
    * convention applied to the graph index: the E23 pipeline runs
    * unchanged (resident build on 90%, the held-out batch inserted), then
    * [[compactNswIndex]] collapses the full+delta chain to ONE version
    * before the query beam runs against it; the `require` fails the query
    * rather than silently serving the uncompacted chain. Shares
    * nswAppendTopKSql by construction: compaction rewrites adj/vecs
    * without rescoring, so a hash match certifies the rewrite end-to-end.
    *
    * Deliberate asymmetry with E24 (which splits the batch in two and
    * trips the AUTO-compaction threshold): an NSW insert is ORDER- and
    * BATCHING-dependent — a second sub-batch beam-searches over the first
    * sub-batch's edges and its batch-internal SRP edges are scoped to its
    * own sub-batch — so a two-sub-batch ingest provably cannot share
    * E23's single-insert oracle the way IVF's per-row frozen-quantizer
    * assignment can. The auto-trigger path for NSW is pinned by
    * ChainIndexSpec; what the oracle adds here is the
    * compacted-artifact correctness through the registered read path.
    */
  def nswCompactTopK(spark: SparkSession, dir: String): DataFrame =
    nswHeldOutTopK(spark, dir, "cmp") { root =>
      compactNswIndex(spark, root)
      require(ChainIndex.chainVersions(spark, root).size == 1,
        "emb_nsw_compact: compaction did not collapse the chain")
    }

  /** One beam-search round's CTEs, parameterized by adjacency / corpus /
    * query table names and a CTE-name prefix — E23's oracle runs TWO
    * beam searches in one query (the batch's insert search over the
    * resident graph, then the standard query batch over the union).
    */
  private def nswRoundSqlOn(r: Int, pfx: String, adjT: String, evT: String, qT: String): String = {
    val prev = if (r == 1) s"${pfx}beam0" else s"${pfx}beam${r - 1}"
    s"""${pfx}cand$r AS (
       |  SELECT DISTINCT b.qid, a.dst AS cid FROM $prev b JOIN $adjT a ON a.src = b.cid),
       |${pfx}s$r AS (
       |  SELECT c.qid, c.cid,
       |    round(list_sum(list_transform(list_zip(q.qv, x.v), t -> t[1] * t[2])) / (q.qn * x.nrm), 6) AS sim
       |  FROM ${pfx}cand$r c JOIN $evT x ON x.vec_id = c.cid JOIN $qT q ON q.qid = c.qid),
       |${pfx}beam$r AS MATERIALIZED (
       |  SELECT qid, cid, sim FROM (
       |    SELECT qid, cid, sim,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk
       |    FROM (SELECT * FROM $prev UNION SELECT * FROM ${pfx}s$r))
       |  WHERE rk <= 8)""".stripMargin
  }

  private def nswRoundSql(r: Int): String = nswRoundSqlOn(r, "", "adj", "ev", "q")

  /** The NN-descent-densified adjacency CTE block over source table
    * `src` (the nswTopKSql index block, names prefixed) — emits
    * `${pfx}adj` = directed edge list.
    */
  private def nswAdjCtesOn(src: String, pfx: String): String =
    srpCandCtesOn(src, pfx) + s""",
       |${pfx}spairs0 AS (
       |  SELECT va, vb,
       |    round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
       |  FROM ${pfx}cand JOIN $src x ON x.vec_id = va JOIN $src y ON y.vec_id = vb),
       |${pfx}directed0 AS (
       |  SELECT va AS src, vb AS dst, sim FROM ${pfx}spairs0
       |  UNION ALL
       |  SELECT vb AS src, va AS dst, sim FROM ${pfx}spairs0),
       |${pfx}adj0 AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
       |    FROM ${pfx}directed0) WHERE rk <= 5),
       |${pfx}nondesc AS (
       |  SELECT DISTINCT least(a.src, b.dst) AS va, greatest(a.src, b.dst) AS vb
       |  FROM ${pfx}adj0 a JOIN ${pfx}adj0 b ON a.dst = b.src AND a.src <> b.dst),
       |${pfx}candall AS (SELECT va, vb FROM ${pfx}cand UNION SELECT va, vb FROM ${pfx}nondesc),
       |${pfx}spairs AS (
       |  SELECT va, vb,
       |    round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
       |  FROM ${pfx}candall JOIN $src x ON x.vec_id = va JOIN $src y ON y.vec_id = vb),
       |${pfx}directed AS (
       |  SELECT va AS src, vb AS dst, sim FROM ${pfx}spairs
       |  UNION ALL
       |  SELECT vb AS src, va AS dst, sim FROM ${pfx}spairs),
       |${pfx}adjref AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
       |    FROM ${pfx}directed) WHERE rk <= 5),
       |${pfx}adj AS MATERIALIZED (SELECT src, dst FROM ${pfx}adjref UNION SELECT src, dst FROM ${pfx}adj0)""".stripMargin

  /** E23 oracle: replay the full incremental-insert pipeline — resident
    * adjacency over the 90% corpus, the batch's insert beam search over
    * it, new edges (found ∪ back-edges ∪ batch-internal SRP 5-NN), then
    * the standard query beam over the union corpus and union adjacency.
    */
  val nswAppendTopKSql: String =
    // the base CTEs are MATERIALIZED: this oracle references the corpus
    // ~20× (two beam searches + two SRP bandings + an NN-descent block),
    // and DuckDB's default CTE inlining re-opens the parquet per
    // reference — past the process fd limit on the driver box
    """WITH evall AS MATERIALIZED (
      |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v,
      |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x))) AS nrm
      |  FROM embeddings),
      |ev AS MATERIALIZED (SELECT * FROM evall WHERE vec_id >= 5),
      |res AS MATERIALIZED (SELECT * FROM ev WHERE vec_id % 10 <> 7),
      |bat AS MATERIALIZED (SELECT * FROM ev WHERE vec_id % 10 = 7),
      |""".stripMargin + srpPlanesSql + ",\n" +
      nswAdjCtesOn("res", "r") + """,
      |qb AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM bat),
      |bseeds AS (SELECT vec_id, v, nrm FROM res ORDER BY vec_id ASC LIMIT 4),
      |bbeam0 AS MATERIALIZED (
      |  SELECT q.qid, s.vec_id AS cid,
      |    round(list_sum(list_transform(list_zip(q.qv, s.v), t -> t[1] * t[2])) / (q.qn * s.nrm), 6) AS sim
      |  FROM bseeds s CROSS JOIN qb q),
      |""".stripMargin +
      (1 to 4).map(nswRoundSqlOn(_, "b", "radj", "res", "qb")).mkString(",\n") + """,
      |found AS MATERIALIZED (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rk
      |    FROM bbeam4) WHERE rk <= 5),
      |""".stripMargin + srpCandCtesOn("bat", "i") + """,
      |ispairs AS (
      |  SELECT va, vb,
      |    round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
      |  FROM icand JOIN bat x ON x.vec_id = va JOIN bat y ON y.vec_id = vb),
      |idirected AS (
      |  SELECT va AS src, vb AS dst, sim FROM ispairs
      |  UNION ALL
      |  SELECT vb AS src, va AS dst, sim FROM ispairs),
      |iedges AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
      |    FROM idirected) WHERE rk <= 5),
      |adj AS MATERIALIZED (
      |  SELECT src, dst FROM radj
      |  UNION SELECT qid AS src, cid AS dst FROM found
      |  UNION SELECT cid AS src, qid AS dst FROM found
      |  UNION SELECT src, dst FROM iedges),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM evall WHERE vec_id < 5),
      |seeds AS (SELECT vec_id, v, nrm FROM ev ORDER BY vec_id ASC LIMIT 4),
      |beam0 AS MATERIALIZED (
      |  SELECT q.qid, s.vec_id AS cid,
      |    round(list_sum(list_transform(list_zip(q.qv, s.v), t -> t[1] * t[2])) / (q.qn * s.nrm), 6) AS sim
      |  FROM seeds s CROSS JOIN q),
      |""".stripMargin +
      (1 to 4).map(nswRoundSql).mkString(",\n") + """
      |SELECT qid, rnk, cid, sim, CAST(cid % 10 = 7 AS INT) AS is_new FROM (
      |  SELECT qid, cid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM beam4) WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  val nswTopKSql: String =
    """WITH evall AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v,
      |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x))) AS nrm
      |  FROM embeddings),
      |ev AS (SELECT * FROM evall WHERE vec_id >= 5),
      |""".stripMargin + srpCandSql + """,
      |spairs0 AS (
      |  SELECT va, vb,
      |    round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
      |  FROM cand JOIN ev x ON x.vec_id = va JOIN ev y ON y.vec_id = vb),
      |directed0 AS (
      |  SELECT va AS src, vb AS dst, sim FROM spairs0
      |  UNION ALL
      |  SELECT vb AS src, va AS dst, sim FROM spairs0),
      |adj0 AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
      |    FROM directed0) WHERE rk <= 5),
      |nondesc AS (
      |  SELECT DISTINCT least(a.src, b.dst) AS va, greatest(a.src, b.dst) AS vb
      |  FROM adj0 a JOIN adj0 b ON a.dst = b.src AND a.src <> b.dst),
      |candall AS (SELECT va, vb FROM cand UNION SELECT va, vb FROM nondesc),
      |spairs AS (
      |  SELECT va, vb,
      |    round(list_sum(list_transform(list_zip(x.v, y.v), t -> t[1] * t[2])) / (x.nrm * y.nrm), 6) AS sim
      |  FROM candall JOIN ev x ON x.vec_id = va JOIN ev y ON y.vec_id = vb),
      |directed AS (
      |  SELECT va AS src, vb AS dst, sim FROM spairs
      |  UNION ALL
      |  SELECT vb AS src, va AS dst, sim FROM spairs),
      |adjref AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
      |    FROM directed) WHERE rk <= 5),
      |adj AS MATERIALIZED (SELECT src, dst FROM adjref UNION SELECT src, dst FROM adj0),
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM evall WHERE vec_id < 5),
      |seeds AS (SELECT vec_id, v, nrm FROM ev ORDER BY vec_id ASC LIMIT 4),
      |beam0 AS MATERIALIZED (
      |  SELECT q.qid, s.vec_id AS cid,
      |    round(list_sum(list_transform(list_zip(q.qv, s.v), t -> t[1] * t[2])) / (q.qn * s.nrm), 6) AS sim
      |  FROM seeds s CROSS JOIN q),
      |""".stripMargin +
      (1 to 4).map(nswRoundSql).mkString(",\n") + """
      |SELECT qid, rnk, cid, sim FROM (
      |  SELECT qid, cid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM beam4) WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // E4 int8 scalar quantization: per-vector scale = max|v|/127, q_i =
  // floor(v_i/scale + 0.5) — 4× memory cut for the ANN corpus (the
  // standard int8 embedding-storage trick; FAISS SQ8 shape). The explicit
  // floor(+0.5) rounding is the SAME formula in both engines (builtin
  // round() half-way conventions differ), and the scale guard keeps a
  // zero vector at q=0 instead of dividing by zero. Fidelity is reported
  // as per-vector L2 error and cosine(original, dequantized), averaged
  // per label; all per-vector folds are sequential (aggregate HOF /
  // list_sum) so the doubles match the oracle bit-for-bit before the
  // 6dp rounding. 100 TB: pure map-side until the tiny label roll-up;
  // the quantized corpus (q + scale) is what the IVF inverted file (E2b)
  // would store per cell.
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("scale",
        expr("greatest(array_max(transform(v, x -> abs(x))), 1e-30d) / 127.0d"))
      .withColumn("q", expr("transform(v, x -> CAST(floor(x / scale + 0.5d) AS BIGINT))"))
      .withColumn("dv", expr("transform(q, x -> x * scale)"))
      .withColumn("err",
        expr("sqrt(aggregate(zip_with(v, dv, (a, b) -> (a - b) * (a - b)), 0.0d, (acc, x) -> acc + x))"))
      .withColumn("cosvd",
        expr("aggregate(zip_with(v, dv, (a, b) -> a * b), 0.0d, (acc, x) -> acc + x)")
          / (sqrt(expr("aggregate(v, 0.0d, (acc, x) -> acc + x * x)"))
            * sqrt(expr("aggregate(dv, 0.0d, (acc, x) -> acc + x * x)"))))
      .withColumn("qmax", expr("array_max(transform(q, x -> abs(x)))"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg($"err"), 6).as("avg_l2_err"),
        round(avg($"cosvd"), 6).as("avg_cos_fidelity"),
        max($"qmax").as("max_q"))
      .orderBy($"label")
  }

  val quantizeSql: String =
    """WITH b AS (
      |  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v,
      |    greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-30) / 127.0 AS scale
      |  FROM embeddings),
      |c AS (
      |  SELECT label, v, scale,
      |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
      |  FROM b),
      |d AS (
      |  SELECT label, v, q,
      |    list_transform(q, x -> x * scale) AS dv
      |  FROM c),
      |e AS (
      |  SELECT label,
      |    sqrt(list_sum(list_transform(list_zip(v, dv), t -> (t[1] - t[2]) * (t[1] - t[2])))) AS err,
      |    list_sum(list_transform(list_zip(v, dv), t -> t[1] * t[2]))
      |      / (sqrt(list_sum(list_transform(v, x -> x * x)))
      |         * sqrt(list_sum(list_transform(dv, x -> x * x)))) AS cosvd,
      |    list_max(list_transform(q, x -> abs(x))) AS qmax
      |  FROM d)
      |SELECT label, COUNT(*) AS n_vecs, round(AVG(err), 6) AS avg_l2_err,
      |  round(AVG(cosvd), 6) AS avg_cos_fidelity,
      |  CAST(MAX(qmax) AS BIGINT) AS max_q
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // E6 product quantization with asymmetric distance computation + exact
  // re-rank (the PQ/ADC + IVFADC-R of Jégou, Douze & Schmid 2011 — the
  // memory path of every billion-scale ANN index): the 64-dim vector
  // splits into m=8 subspaces of 8 dims, each trained to its own
  // k=16-code EUCLIDEAN codebook (argmin |v−c|² ⟺ argmax dot(v,c) −
  // |c|²/2, a single dot per candidate — L2, not spherical, is what makes
  // the codeword a *reconstruction* of the subvector, the premise of
  // ADC), and a corpus vector is stored as just its m code ids (m·log2 k
  // = 32 bits — a 64× compression of the float vector). Stage 1 (ADC): a
  // query precomputes a table of subspace dots against every codeword
  // (m × k doubles); each candidate's approximate similarity is m TABLE
  // LOOKUPS — apx_cos = Σ_s d_s[code_s] / (|q| · sqrt(Σ_s cn_s²)) —
  // exploiting dot(q,x) = Σ_s dot(q_s,x_s) with x_s approximated by its
  // code's centroid; a map-side bounded top-25 forms the shortlist (ADC
  // scores tie by construction — cell-mates share scores — so ties pin
  // on cid INSIDE the aggregator). Stage 2 (re-rank): true vectors are
  // fetched for the q×25 shortlist ids only, exact cosine picks the
  // final top-3 — the shortlist-then-refine step that buys back the
  // quantization error.
  // Training is the seeded fixed-round Lloyd of E2 but VECTORIZED across
  // subspaces: one job per round trains ALL m codebooks in a single
  // corpus scan (per-row codes for every subspace, then one partial-agg
  // shuffle of (subspace, cell, dim) means — 100 TB cost independent of
  // m). Determinism: md5-ranked seeds (the same k rows seed every
  // subspace's slices), fixed round count, round-6 centroids and scores,
  // cell-id tie-breaks; the ADC lookup matches on the CELL ID, never on
  // array position (Lloyd cells may drop empty).
  // 100 TB: codebooks are m × k × (dim/m) doubles — a trivial broadcast;
  // encoding is one map-side corpus scan; ADC scoring is
  // broadcast(query-tables) × encoded scan with a map-side bounded top-k
  // — no shuffle of the corpus, no per-candidate vector math; the
  // re-rank touches only q×25 rows (point lookups at scale), and its
  // ranking window sees a BOUNDED ≤25-row partition per query, never
  // corpus-sized data. Composed with the E2b bucketed IVF layout this is
  // the IVFADC of the paper.
  private val PqM = 8; private val PqSub = 8; private val PqK = 16; private val PqIters = 2

  /** Multi-subspace Lloyd: one job per round trains all m Euclidean
    * codebooks in a single scan of the cached vectors. Returns
    * (s, cell, cv, cn) as a LocalRelation (driver-held state, like
    * [[lloydCentroids]] — codebooks are m·k·subDim rounded doubles).
    */
  /** Expects the caller to have cached `e` (pqTopK shares ONE vector
    * cache across training, encode, query tables and re-rank — see the
    * untilResultConsumed note there); this method only runs actions
    * against it.
    */
  private[llm] def pqCodebooks(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    spark.createDataset(pqCodebookSeq(e)).toDF("s", "cell", "cv", "cn")
  }

  /** The driver-held codebook state itself — (s, cell, cv, cn) rows.
    * Callers that ENCODE (pqTopK, ivfadcTopK, the training rounds here)
    * feed this straight into [[codesCol]], which runs the argmin in a
    * native expression with the codebooks plan-serialized — no broadcast
    * join in the encode plan at all.
    */
  private[llm] def pqCodebookSeq(
      e: DataFrame, iters: Int = PqIters): Seq[(Int, Int, Seq[Double], Double)] = {
    val spark = e.sparkSession
    import spark.implicits._
    val ec = e.select($"vec_id", $"v")
    locally {
      // seeds: the k md5-ranked rows seed every subspace with their slices
      val seedRows = ec
        .select(md5($"vec_id".cast("string")).as("sk"), $"vec_id", $"v")
        .orderBy($"sk", $"vec_id").limit(PqK)
        .select(transform($"v", x => x.cast("double")).as("cv"))
        .as[Seq[Double]].collect().toSeq
      var cents: Seq[(Int, Int, Seq[Double], Double)] =
        for { s <- 0 until PqM; (cv, j) <- seedRows.zipWithIndex } yield {
          val sub = cv.slice(s * PqSub, (s + 1) * PqSub)
          (s, j, sub, math.sqrt(sub.map(x => x * x).sum))
        }
      for (_ <- 1 to iters) {
        cents = ec
          .withColumn("codes", codesCol($"v", cents))
          .select($"codes", posexplode($"v").as(Seq("p", "x")))
          .select($"codes", $"x",
            expr(s"CAST(p DIV $PqSub AS INT)").as("s"),
            expr(s"CAST(p % $PqSub AS INT)").as("i"))
          .withColumn("cell", expr("codes[s]"))
          .groupBy($"s", $"cell", $"i").agg(round(avg($"x"), 6).as("cx"))
          .groupBy($"s", $"cell")
          .agg(transform(array_sort(collect_list(struct($"i", $"cx"))),
            t => t.getField("cx")).as("cv"))
          .withColumn("cn", norm($"cv"))
          .select($"s", $"cell", $"cv", $"cn")
          .as[(Int, Int, Seq[Double], Double)].collect().toSeq.sortBy(t => (t._1, t._2))
      }
      cents
    }
  }

  /** [[graft.functions.PqCodes]] over a vector column for driver-held
    * codebook rows — the m per-subspace buckets are cell-sorted so the
    * native argmin's first-wins tie scan reproduces the lowest-cell-id
    * tie-break exactly.
    */
  private[llm] def codesCol(
      v: Column, cents: Seq[(Int, Int, Seq[Double], Double)]): Column = {
    val books = cents.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, ws) =>
      ws.sortBy(_._2)
        .map(w => graft.functions.PqCodeword(w._2, w._3.toArray, (0.5 * w._4) * w._4))
        .toArray
    }.toArray
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(v), books, PqSub))
  }

  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val shortk = udaf(new graft.functions.TopKCodesAggregator(25),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredCode])
    val eRaw = vectors(spark, dir)
    // ONE plain cache of the vectors spans ALL phases — the 2+1 Lloyd
    // training collects, the encode scan, the ADC query tables and the
    // re-rank fetch. untilConsumed would be wrong here: the first
    // training collect would count as consumption and release the cache
    // before encode ever ran (the pre-round-10 behavior — every
    // post-training phase rescanned parquet). Release is instead keyed on
    // the RESULT fragment (untilResultConsumed at the bottom), so the
    // caller's single action still leaves no blocks behind.
    val e = eRaw.cache()
    val centsSeq = pqCodebookSeq(e)
    val books = spark.createDataset(centsSeq).toDF("s", "cell", "cv", "cn")
    val cs = broadcast(books.agg(collect_list(struct($"s", $"cell", $"cv", $"cn")).as("cs")))
    // encode: m argmin-L2 codes per vector — pure map work, one scan,
    // codebooks inside the native expression (no broadcast join)
    val encoded = e.filter($"vec_id" >= 5)
      .withColumn("codes", codesCol($"v", centsSeq))
      .select($"vec_id".as("cid"), $"codes")
    // ADC tables: per query, the subspace dot against EVERY codeword —
    // round-17 form: a DENSE (s, cell)-indexed array (td[s*k + cell]),
    // built once per query row (m·k slots, ≤1 dot each; missing cells —
    // a codebook can shrink — hold null structs no code ever references),
    // so the per-CANDIDATE lookup below is O(1) positional indexing
    // instead of the old filter()-lambda scan of all m·k structs per
    // code (O(m²k) interpreted work per candidate row).
    val q = e.filter($"vec_id" < 5).join(cs)
      .select($"vec_id".as("qid"), $"nrm".as("qn"),
        expr(s"""transform(sequence(0, ${PqM * PqK - 1}), i ->
          transform(filter(cs, c -> c.s = i div $PqK AND c.cell = i % $PqK),
            c -> struct(graft_dot(slice(v, c.s * $PqSub + 1, $PqSub), c.cv) AS d, c.cn AS cn))[0])""").as("td"))
    // stage 1 — ADC shortlist: m POSITIONAL table lookups per candidate
    // (td[s*k + codes[s]] — GetArrayItem/GetStructField, whole-stage
    // codegen, no higher-order lambdas in the candidate loop), map-side
    // bounded top-25 per query. The fold order (and the 0.0 seed) of the
    // old aggregate() is reproduced term by term, so apx is bit-identical.
    val dSum = (lit(0.0d) +: (0 until PqM).map(s =>
      expr(s"td[$s * $PqK + codes[$s]].d"))).reduce(_ + _)
    val cnSum = (lit(0.0d) +: (0 until PqM).map { s =>
      val cn = expr(s"td[$s * $PqK + codes[$s]].cn"); cn * cn
    }).reduce(_ + _)
    val shortlist = encoded.join(broadcast(q))
      .withColumn("apx", round(dSum / ($"qn" * sqrt(cnSum)), 6))
      .groupBy($"qid")
      .agg(shortk($"cid", $"codes", $"apx").as("top"))
      .select($"qid", explode($"top").as("sc"))
      .select($"qid", $"sc.cid".as("cid"), $"sc.codes".as("codes"), $"sc.sim".as("apx_sim"))
    // stage 2 — exact re-rank of the 25-candidate shortlist (IVFADC-R):
    // fetch true vectors for shortlist ids only (broadcast equi-join →
    // q×25 point lookups at scale), exact cosine, top-3. The final window
    // runs over ≤25 rows per query — input is BOUNDED by the shortlist,
    // so this window never sees corpus-sized data.
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    val out = shortlist
      .join(e.select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn")), Seq("cid"))
      .join(broadcast(e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))), Seq("qid"))
      .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= 3)
      // codes emitted as a "-"-joined string: the driver's oracle compare
      // sorts/hashes every output column, and array cells aren't hashable
      // there — the string form is, and is byte-identical across engines.
      .select($"qid", $"rnk", $"cid",
        array_join($"codes".cast("array<string>"), "-").as("codes"),
        $"apx_sim", $"sim")
      .orderBy($"qid", $"rnk")
    graft.ops.ScopedCache.untilResultConsumed(e, out)
  }

  /** The oracle's replay of [[pqCodebooks]]: subv slices every vector into
    * (s, subvector); pc0 = md5-ranked seed slices; each round assigns by
    * the same rounded argmax(dot − |c|²/2) with cell-asc ties and updates
    * with rounded per-(s, cell, dim) means — identical arithmetic, so pcN
    * equals the Spark codebooks exactly.
    */
  private def pqCtes: String = {
    val score = "round(list_sum(list_transform(list_zip(sv.v, c.cv), z -> z[1] * z[2])) - 0.5 * c.cn * c.cn, 6)"
    val c0 =
      s"""subv AS (
         |  SELECT ss.s, e.vec_id, e.v[(ss.s * $PqSub + 1):((ss.s + 1) * $PqSub)] AS v
         |  FROM ev e CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS s) ss),
         |pc0 AS (
         |  SELECT s, CAST(rn - 1 AS INTEGER) AS cell, v AS cv,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
         |  FROM (
         |    SELECT s, v, ROW_NUMBER() OVER (PARTITION BY s ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM subv)
         |  WHERE rn <= $PqK)""".stripMargin
    val rounds = (1 to PqIters).map { t =>
      s""",
         |pa$t AS (
         |  SELECT s, vec_id, v, cell FROM (
         |    SELECT sv.s, sv.vec_id, sv.v, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY sv.s, sv.vec_id ORDER BY
         |        $score DESC,
         |        c.cell ASC) AS rn
         |    FROM subv sv JOIN pc${t - 1} c ON c.s = sv.s) WHERE rn = 1),
         |pc$t AS (
         |  SELECT s, cell, list(cx ORDER BY i) AS cv,
         |    sqrt(list_sum(list_transform(list(cx ORDER BY i), x -> x * x))) AS cn
         |  FROM (
         |    SELECT s, cell, i, round(avg(v[i]), 6) AS cx
         |    FROM pa$t CROSS JOIN (SELECT unnest(generate_series(1, $PqSub)) AS i)
         |    GROUP BY 1, 2, 3)
         |  GROUP BY s, cell)""".stripMargin
    }.mkString
    c0 + rounds
  }

  def pqTopKSql: String = {
    val score = "round(list_sum(list_transform(list_zip(sv.v, c.cv), z -> z[1] * z[2])) - 0.5 * c.cn * c.cn, 6)"
    embCte + ",\n" + pqCtes + s""",
      |enc AS (
      |  SELECT vec_id, list(cell ORDER BY s) AS codes FROM (
      |    SELECT sv.s, sv.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY sv.s, sv.vec_id ORDER BY
      |        $score DESC,
      |        c.cell ASC) AS rn
      |    FROM subv sv JOIN pc$PqIters c ON c.s = sv.s WHERE sv.vec_id >= 5) WHERE rn = 1
      |  GROUP BY vec_id),
      |qd AS (
      |  SELECT sv.vec_id AS qid, c.s, c.cell,
      |    list_sum(list_transform(list_zip(sv.v, c.cv), z -> z[1] * z[2])) AS d, c.cn AS cn
      |  FROM subv sv JOIN pc$PqIters c ON c.s = sv.s WHERE sv.vec_id < 5),
      |qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, e.vec_id AS cid, ANY_VALUE(e.codes) AS codes,
      |    round(SUM(qd.d) / (ANY_VALUE(q.qn) * sqrt(SUM(qd.cn * qd.cn))), 6) AS apx_sim
      |  FROM enc e CROSS JOIN qs q
      |  JOIN qd ON qd.qid = q.qid AND qd.cell = e.codes[qd.s + 1]
      |  GROUP BY q.qid, e.vec_id),
      |short AS (
      |  SELECT qid, cid, codes, apx_sim FROM (
      |    SELECT qid, cid, codes, apx_sim,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY apx_sim DESC, cid ASC) AS srn
      |    FROM scored)
      |  WHERE srn <= 25),
      |rr AS (
      |  SELECT s.qid, s.cid, s.codes, s.apx_sim,
      |    round(list_sum(list_transform(list_zip(q.qv, c.v), z -> z[1] * z[2])) / (q.qn * c.nrm), 6) AS sim
      |  FROM short s
      |  JOIN ev c ON c.vec_id = s.cid
      |  JOIN qs q ON q.qid = s.qid),
      |ranked AS (
      |  SELECT qid, cid, codes, apx_sim, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM rr)
      |SELECT qid, rnk, cid, array_to_string(codes, '-') AS codes, apx_sim, sim
      |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E15 IVFADC — the COMPOSED memory path of Jégou, Douze & Schmid 2011
  // and the layout every billion-scale ANN service actually deploys:
  // E2's coarse quantizer (10-cell Lloyd) restricts each query to its 3
  // probed cells, E6's PQ codes + ADC tables score ONLY those cells'
  // members (m table lookups per candidate, no vector math), and the
  // exact re-rank refines the 25-candidate shortlist. The inverted file
  // carries (cell, m codes) per vector — ~36 bits of index payload at
  // this config — built in ONE corpus scan (cell assignment and PQ
  // encoding are both map-side against broadcast codebooks).
  // Per-query work drops from corpus-wide ADC (E6) to
  // (corpus/cells)·probes candidates; training (coarse + subspace Lloyd)
  // shares ONE vector cache with encode and re-rank via
  // untilResultConsumed (the E6 fusion). At 100 TB the probed-cell
  // restriction is a partition-pruned read of the E2b bucketBy layout —
  // the scan never touches unprobed cells' files.
  // Determinism: every piece reuses its parent's contract (rounded
  // centroid trajectories, cell-asc ties, ADC shortlist ties on cid,
  // exact re-rank total order) — the oracle replays the full composition.
  def ivfadcTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val shortk = udaf(new graft.functions.TopKCodesAggregator(25),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredCode])
    val eRaw = vectors(spark, dir)
    val e = eRaw.cache()
    val cents = lloydCentroids(e, k = 10, iters = 5)
    val centsSeq = pqCodebookSeq(e)
    val books = spark.createDataset(centsSeq).toDF("s", "cell", "cv", "cn")
    val cs = broadcast(books.agg(collect_list(struct($"s", $"cell", $"cv", $"cn")).as("cs")))
    val bc = broadcast(cents)
    // inverted file WITH codes: one scan, both quantizers map-side (PQ
    // codebooks ride inside the native expression, not a join)
    val inverted = assignCells(e.filter($"vec_id" >= 5), cents)
      .withColumn("codes", codesCol($"v", centsSeq))
      .select($"vec_id".as("cid"), $"cell", $"codes")
    val q = e.filter($"vec_id" < 5)
    val wProbe = Window.partitionBy($"qid").orderBy($"csim".desc, $"cell".asc)
    val probes = q.join(bc)
      .withColumn("csim", round(dot($"v", $"cv") / ($"nrm" * $"cn"), 6))
      .select($"vec_id".as("qid"), $"cell", $"csim")
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= 3)
      .select($"qid", $"cell")
    // the pqTopK round-17 ADC shape: dense (s, cell)-indexed query table,
    // O(1) positional lookups in the candidate loop (codegen — no
    // higher-order lambdas per candidate), fold order preserved term by
    // term so apx is bit-identical
    val qt = q.join(cs)
      .select($"vec_id".as("qid"), $"nrm".as("qn"),
        expr(s"""transform(sequence(0, ${PqM * PqK - 1}), i ->
          transform(filter(cs, c -> c.s = i div $PqK AND c.cell = i % $PqK),
            c -> struct(graft_dot(slice(v, c.s * $PqSub + 1, $PqSub), c.cv) AS d, c.cn AS cn))[0])""").as("td"))
    val dSum = (lit(0.0d) +: (0 until PqM).map(s =>
      expr(s"td[$s * $PqK + codes[$s]].d"))).reduce(_ + _)
    val cnSum = (lit(0.0d) +: (0 until PqM).map { s =>
      val cn = expr(s"td[$s * $PqK + codes[$s]].cn"); cn * cn
    }).reduce(_ + _)
    // probes is (n_queries × nprobe) rows — broadcast it so the inverted
    // file (corpus-sized at scale) is never exchanged for the cell
    // restriction (guide §3.1)
    val shortlist = inverted.join(broadcast(probes), Seq("cell"))
      .join(broadcast(qt), Seq("qid"))
      .withColumn("apx", round(dSum / ($"qn" * sqrt(cnSum)), 6))
      .groupBy($"qid")
      .agg(shortk($"cid", $"codes", $"apx").as("top"))
      .select($"qid", explode($"top").as("sc"))
      .select($"qid", $"sc.cid".as("cid"), $"sc.sim".as("apx_sim"))
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    val out = shortlist
      .join(e.select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn")), Seq("cid"))
      .join(broadcast(e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))), Seq("qid"))
      .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= 3)
      .select($"qid", $"rnk", $"cid", $"apx_sim", $"sim")
      .orderBy($"qid", $"rnk")
    graft.ops.ScopedCache.untilResultConsumed(e, out)
  }

  /** Oracle: the full IVFADC composition — coarse Lloyd (c5), subspace
    * Lloyd (pc2 via pqCtes), inverted file + probes, ADC restricted to
    * probed cells, exact re-rank. CTE namespaces don't collide (lloyd
    * defines c0..c5 and a1..a5; pq defines subv, pcN, paN).
    */
  def ivfadcTopKSql: String = {
    val score = "round(list_sum(list_transform(list_zip(sv.v, c.cv), z -> z[1] * z[2])) - 0.5 * c.cn * c.cn, 6)"
    val coarse = "round(list_sum(list_transform(list_zip(ev.v, c.cv), t -> t[1] * t[2])) / (ev.nrm * c.cn), 6)"
    embCte + ",\n" + lloydCtes(10, 5) + ",\n" + pqCtes + s""",
      |iva AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT ev.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
      |        $coarse DESC,
      |        c.cell ASC) AS arn
      |    FROM ev CROSS JOIN c5 c WHERE ev.vec_id >= 5)
      |  WHERE arn = 1),
      |qprobes AS (
      |  SELECT qid, cell FROM (
      |    SELECT ev.vec_id AS qid, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
      |        $coarse DESC,
      |        c.cell ASC) AS prn
      |    FROM ev CROSS JOIN c5 c WHERE ev.vec_id < 5)
      |  WHERE prn <= 3),
      |enc AS (
      |  SELECT vec_id, list(cell ORDER BY s) AS codes FROM (
      |    SELECT sv.s, sv.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY sv.s, sv.vec_id ORDER BY
      |        $score DESC,
      |        c.cell ASC) AS rn
      |    FROM subv sv JOIN pc$PqIters c ON c.s = sv.s WHERE sv.vec_id >= 5) WHERE rn = 1
      |  GROUP BY vec_id),
      |qd AS (
      |  SELECT sv.vec_id AS qid, c.s, c.cell,
      |    list_sum(list_transform(list_zip(sv.v, c.cv), z -> z[1] * z[2])) AS d, c.cn AS cn
      |  FROM subv sv JOIN pc$PqIters c ON c.s = sv.s WHERE sv.vec_id < 5),
      |qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |scored AS (
      |  SELECT p.qid, e.vec_id AS cid,
      |    round(SUM(qd.d) / (ANY_VALUE(q.qn) * sqrt(SUM(qd.cn * qd.cn))), 6) AS apx_sim
      |  FROM enc e
      |  JOIN iva ON iva.vec_id = e.vec_id
      |  JOIN qprobes p ON p.cell = iva.cell
      |  JOIN qs q ON q.qid = p.qid
      |  JOIN qd ON qd.qid = p.qid AND qd.cell = e.codes[qd.s + 1]
      |  GROUP BY p.qid, e.vec_id),
      |short AS (
      |  SELECT qid, cid, apx_sim FROM (
      |    SELECT qid, cid, apx_sim,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY apx_sim DESC, cid ASC) AS srn
      |    FROM scored)
      |  WHERE srn <= 25),
      |rr AS (
      |  SELECT s.qid, s.cid, s.apx_sim,
      |    round(list_sum(list_transform(list_zip(q.qv, c.v), z -> z[1] * z[2])) / (q.qn * c.nrm), 6) AS sim
      |  FROM short s
      |  JOIN ev c ON c.vec_id = s.cid
      |  JOIN qs q ON q.qid = s.qid),
      |ranked AS (
      |  SELECT qid, cid, apx_sim, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |  FROM rr)
      |SELECT qid, rnk, cid, apx_sim, sim
      |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E7 MMR-diversified top-k (maximal marginal relevance, Carbonell &
  // Goldstein 1998 — the diversity rerank RAG retrieval ships): from each
  // query's top-25 cosine candidates, greedily pick 3 results maximizing
  // λ·sim(q,c) − (1−λ)·max_{p∈picked} sim(c,p) with λ=0.7 — relevance
  // minus redundancy, so near-duplicate hits don't crowd the result
  // list. The greedy loop is SEQUENTIAL by nature, but k=3 unrolls into
  // three window-argmax stages over a BOUNDED 25-candidate set per
  // query, so every per-query computation (including the ≤25×2 pairwise
  // penalty sims) is constant-size regardless of corpus scale.
  // Determinism: all sims and scores round(·,6), every argmax breaks
  // ties on cid — same contract as E1.
  // 100 TB: the candidate stage is E1's broadcast-query × corpus scan
  // with a map-side bounded top-k; everything after operates on q×25
  // rows. The rerank never touches the corpus again.
  def mmrTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(25),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val e = graft.ops.ScopedCache.untilConsumed(vectors(spark, dir))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val c = e.filter($"vec_id" >= 5)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cn"))
    val cands = c.join(broadcast(q))
      .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
      .groupBy($"qid").agg(topk($"cid", $"sim").as("top"))
      .select($"qid", explode($"top").as("s"))
      .select($"qid", $"s.cid".as("cid"), $"s.sim".as("sim"))
      .join(c, Seq("cid"))
    def pick(df: DataFrame, score: String) = {
      val w = Window.partitionBy($"qid").orderBy(col(score).desc, $"cid".asc)
      df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    }
    val p1 = pick(cands, "sim")
      .select($"qid", $"cid".as("p1id"), $"cv".as("p1v"), $"cn".as("p1n"), $"sim".as("s1"))
    val p2 = pick(
      cands.join(broadcast(p1), Seq("qid")).filter($"cid" =!= $"p1id")
        .withColumn("mmr", round(lit(0.7) * $"sim"
          - lit(0.3) * round(dot($"cv", $"p1v") / ($"cn" * $"p1n"), 6), 6)),
      "mmr")
      .select($"qid", $"cid".as("p2id"), $"cv".as("p2v"), $"cn".as("p2n"), $"mmr".as("s2"))
    val p3 = pick(
      cands.join(broadcast(p1), Seq("qid")).join(broadcast(p2), Seq("qid"))
        .filter($"cid" =!= $"p1id" && $"cid" =!= $"p2id")
        .withColumn("pen", greatest(
          round(dot($"cv", $"p1v") / ($"cn" * $"p1n"), 6),
          round(dot($"cv", $"p2v") / ($"cn" * $"p2n"), 6)))
        .withColumn("mmr", round(lit(0.7) * $"sim" - lit(0.3) * $"pen", 6)),
      "mmr")
      .select($"qid", $"cid".as("p3id"), $"mmr".as("s3"))
    p1.select($"qid", lit(1).as("step"), $"p1id".as("cid"), $"s1".as("score"))
      .unionByName(p2.select($"qid", lit(2).as("step"), $"p2id".as("cid"), $"s2".as("score")))
      .unionByName(p3.select($"qid", lit(3).as("step"), $"p3id".as("cid"), $"s3".as("score")))
      .orderBy($"qid", $"step")
  }

  val mmrTopKSql: String =
    embCte + """,
      |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ev WHERE vec_id < 5),
      |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev WHERE vec_id >= 5),
      |scored AS (
      |  SELECT qid, cid,
      |    round(list_sum(list_transform(list_zip(qv, cv), t -> t[1] * t[2])) / (qn * cn), 6) AS sim
      |  FROM c CROSS JOIN q),
      |cands AS (
      |  SELECT s.qid, s.cid, s.sim, c.cv, c.cn FROM (
      |    SELECT qid, cid, sim,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      |    FROM scored) s JOIN c ON c.cid = s.cid
      |  WHERE s.rnk <= 25),
      |p1 AS (
      |  SELECT qid, cid AS p1id, cv AS p1v, cn AS p1n, sim AS s1 FROM (
      |    SELECT qid, cid, sim, cv, cn,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
      |    FROM cands) WHERE rn = 1),
      |s2 AS (
      |  SELECT x.qid, x.cid, x.cv, x.cn,
      |    round(0.7 * x.sim
      |      - 0.3 * round(list_sum(list_transform(list_zip(x.cv, p.p1v), t -> t[1] * t[2])) / (x.cn * p.p1n), 6), 6) AS mmr
      |  FROM cands x JOIN p1 p USING (qid) WHERE x.cid <> p.p1id),
      |p2 AS (
      |  SELECT qid, cid AS p2id, cv AS p2v, cn AS p2n, mmr AS s2 FROM (
      |    SELECT qid, cid, cv, cn, mmr,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mmr DESC, cid ASC) AS rn
      |    FROM s2) WHERE rn = 1),
      |s3 AS (
      |  SELECT x.qid, x.cid,
      |    round(0.7 * x.sim - 0.3 * greatest(
      |      round(list_sum(list_transform(list_zip(x.cv, a.p1v), t -> t[1] * t[2])) / (x.cn * a.p1n), 6),
      |      round(list_sum(list_transform(list_zip(x.cv, b.p2v), t -> t[1] * t[2])) / (x.cn * b.p2n), 6)), 6) AS mmr
      |  FROM cands x JOIN p1 a USING (qid) JOIN p2 b USING (qid)
      |  WHERE x.cid <> a.p1id AND x.cid <> b.p2id),
      |p3 AS (
      |  SELECT qid, cid AS p3id, mmr AS s3 FROM (
      |    SELECT qid, cid, mmr,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mmr DESC, cid ASC) AS rn
      |    FROM s3) WHERE rn = 1)
      |SELECT qid, 1 AS step, p1id AS cid, s1 AS score FROM p1
      |UNION ALL SELECT qid, 2 AS step, p2id AS cid, s2 AS score FROM p2
      |UNION ALL SELECT qid, 3 AS step, p3id AS cid, s3 AS score FROM p3
      |ORDER BY qid, step""".stripMargin

  // ---------------------------------------------------------------------
  // E11 Johnson–Lindenstrauss random projection: compress 64-dim vectors
  // to 16 dims with a sparse {-1,0,1} projection (Achlioptas 2001 —
  // database-friendly random projections) and run the brute-force top-k
  // in the COMPRESSED space. The projection matrix is a pure integer
  // formula w(i,j) = ((i*73 + j*179) % 997) % 3 - 1, so both engines
  // materialize the identical matrix with no RNG and no shipped state.
  // This is the third compression path next to int8 (E4) and PQ (emb_pq):
  // 4× fewer dims ⇒ 4× less scan math and memory bandwidth per candidate.
  // 100 TB: the projection is one map-side pass (the matrix is 64×16
  // ints — codegen'd literal arithmetic, nothing broadcast); the top-k
  // is the same broadcast(query) × corpus scan with the map-side bounded
  // TopKAggregator as E1 — no shuffle of the corpus, no window. Recall
  // vs the exact space is pinned in Round9Spec.
  /** Embedding dimensionality of the driver's `embeddings` table — the
    * one source of truth for every operator that iterates dims (E11 JL
    * input width, E12 PCA direction length).
    */
  private val EmbDim = 64
  private val RpIn = EmbDim; private val RpOut = 16

  /** Projected vector: p[j] = round(Σ_i v[i]·w(i,j), 6). Oracle parity
    * rests on the 6-dp ROUND BARRIER (the established oracle-determinism
    * contract), not on matching summation order: DuckDB's hash-aggregate
    * SUM and Spark's shuffle accumulation both reorder float adds, and
    * the barrier absorbs that reorder error. (A value within an ulp of a
    * .5e-6 boundary could in principle flip; none do on this data, and
    * any new operator should lean on the same barrier, not on sum order.)
    */
  private def rprojExpr: String =
    s"""transform(sequence(0, ${RpOut - 1}), j ->
       |  round(aggregate(sequence(0, ${RpIn - 1}), CAST(0.0 AS DOUBLE),
       |    (acc, i) -> acc + CAST(element_at(v, i + 1) AS DOUBLE)
       |      * CAST(((i * 73 + j * 179) % 997) % 3 - 1 AS DOUBLE)), 6))""".stripMargin

  def rprojTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(10),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("p", expr(rprojExpr))
      .withColumn("pn", sqrt(expr("aggregate(p, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)")))
      .select($"vec_id", $"p", $"pn")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"p".as("qp"), $"pn".as("qn"))
    val c = e.filter($"vec_id" >= 5)
      .select($"vec_id".as("cid"), $"p".as("cp"), $"pn".as("cn"))
    c.join(broadcast(q))
      .withColumn("psim", round(
        expr("aggregate(zip_with(qp, cp, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
          / ($"qn" * $"cn"), 6))
      .groupBy($"qid")
      .agg(topk($"cid", $"psim").as("top"))
      .select($"qid", posexplode($"top").as(Seq("pos", "s")))
      .select($"qid", ($"pos" + 1).as("rnk"), $"s.cid".as("cid"), $"s.sim".as("psim"))
      .orderBy($"qid", $"rnk")
  }

  val rprojTopKSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |ij AS (
       |  SELECT i.i, j.j, CAST(((i.i * 73 + j.j * 179) % 997) % 3 - 1 AS DOUBLE) AS w
       |  FROM (SELECT unnest(range(0, $RpIn)) AS i) i, (SELECT unnest(range(0, $RpOut)) AS j) j),
       |px AS (
       |  SELECT vec_id, j, round(SUM(v[i + 1] * w), 6) AS p
       |  FROM ev, ij GROUP BY vec_id, j),
       |pn AS (SELECT vec_id, sqrt(SUM(p * p)) AS nrm FROM px GROUP BY vec_id),
       |sims AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    round(SUM(a.p * b.p) / (qn.nrm * cn.nrm), 6) AS psim
       |  FROM px a JOIN px b ON a.j = b.j
       |  JOIN pn qn ON qn.vec_id = a.vec_id
       |  JOIN pn cn ON cn.vec_id = b.vec_id
       |  WHERE a.vec_id < 5 AND b.vec_id >= 5
       |  GROUP BY a.vec_id, b.vec_id, qn.nrm, cn.nrm),
       |ranked AS (
       |  SELECT qid, cid, psim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, cid ASC) AS rnk
       |  FROM sims)
       |SELECT qid, rnk, cid, psim FROM ranked WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // E12 top principal component, matrix-free: 3 fixed power-iteration
  // rounds computing C·v as (1/n)·Σ_r (x_r−μ)((x_r−μ)·v) — ONE map-side
  // corpus scan per round plus a 64-group partial-agg shuffle; the 64×64
  // covariance is NEVER materialized, and all cross-round state (μ, v_t)
  // is 64 rounded doubles of driver-held broadcast-scale state. Each
  // round re-normalizes and rounds to 6dp — the determinism barrier that
  // lets DuckDB replay the identical trajectory. Output: the per-vector
  // principal score for the first 20 vectors + the Rayleigh eigenvalue
  // estimate (the ||C·v|| of the final round).
  // 100 TB: this is how PCA actually runs at scale — partial-agg
  // sufficient statistics per pass, O(dim) driver state, no shuffle of
  // the corpus; extending to top-k components is k repeats with
  // deflation, same shape.
  private val PcaIters = 3

  def pcaTop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.embeddings(spark, dir).count()
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".as("v"))
    // per-dim mean, rounded — the first determinism barrier
    val mu: Seq[Double] = e
      .select(posexplode($"v").as(Seq("i", "x")))
      .groupBy($"i").agg(round(avg($"x"), 6).as("m"))
      .orderBy($"i").select($"m").as[Double].collect().toSeq
    var vt: Seq[Double] = Seq.fill(EmbDim)(0.125)  // deterministic uniform init
    var lam = 0.0
    for (_ <- 1 to PcaIters) {
      val cw = e
        .withColumn("mu", typedlit(mu))
        .withColumn("vt", typedlit(vt))
        .withColumn("c", expr("zip_with(v, mu, (a, b) -> CAST(a AS DOUBLE) - b)"))
        .withColumn("s", expr(
          "aggregate(zip_with(c, vt, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
        .select(posexplode(expr("transform(c, x -> x * s)")).as(Seq("i", "cx")))
        .groupBy($"i").agg(sum($"cx").as("w"))
        .orderBy($"i").select($"w").as[Double].collect()
      val w = cw.map(x => BigDecimal(x / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      lam = BigDecimal(nrm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      vt = w.map(x => BigDecimal(x / nrm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq
    }
    e.filter($"vec_id" < 20)
      .withColumn("mu", typedlit(mu))
      .withColumn("vt", typedlit(vt))
      .withColumn("proj", round(expr(
        """aggregate(zip_with(zip_with(v, mu, (a, b) -> CAST(a AS DOUBLE) - b), vt,
          |  (c, w) -> c * w), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin), 6))
      .select($"vec_id", $"proj", lit(lam).as("eigenvalue"))
      .orderBy($"vec_id")
  }

  /** Oracle replay: identical μ barrier, then 3 chained power-iteration
    * CTE rounds — each joins the corpus against the 64-row (i, mu, v)
    * dim table, re-normalizes, and re-rounds exactly as the engine does.
    */
  val pcaTopSql: String = {
    def iterCte(t: Int, prev: String) =
      s"""s$t AS (
         |  SELECT r.vec_id, SUM((r.v[d.i + 1] - d.mu) * d.vv) AS s
         |  FROM ev r, (SELECT m.i, m.mu, p.vv FROM mu m JOIN $prev p ON p.i = m.i) d
         |  GROUP BY r.vec_id),
         |w$t AS (
         |  SELECT m.i, round(SUM(s.s * (r.v[m.i + 1] - m.mu)) / (SELECT n FROM nn), 6) AS w
         |  FROM ev r JOIN s$t s ON s.vec_id = r.vec_id, mu m
         |  GROUP BY m.i),
         |n$t AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w$t),
         |v$t AS (SELECT i, round(w / (SELECT nrm FROM n$t), 6) AS vv FROM w$t)""".stripMargin
    val iters = (1 to PcaIters)
      .map(t => iterCte(t, if (t == 1) "v0" else s"v${t - 1}")).mkString(",\n")
    s"""WITH ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |nn AS (SELECT COUNT(*) AS n FROM ev),
       |mu AS (
       |  SELECT i, round(AVG(v[i + 1]), 6) AS mu
       |  FROM ev, (SELECT unnest(range(0, $EmbDim)) AS i) GROUP BY i),
       |v0 AS (SELECT i, 0.125 AS vv FROM (SELECT unnest(range(0, $EmbDim)) AS i)),
       |$iters
       |SELECT r.vec_id,
       |  round(SUM((r.v[d.i + 1] - d.mu) * d.vv), 6) AS proj,
       |  (SELECT round(nrm, 6) FROM n$PcaIters) AS eigenvalue
       |FROM ev r, (SELECT m.i, m.mu, p.vv FROM mu m JOIN v$PcaIters p ON p.i = m.i) d
       |WHERE r.vec_id < 20
       |GROUP BY r.vec_id
       |ORDER BY r.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E13 Matryoshka truncation eval: recall of PREFIX-truncated cosine
  // top-5 (16/32/64 dims) against the full-width ranking — the decision
  // table for tiered vector storage (matryoshka-style "coarse search in
  // the prefix, refine in full width"). Each width is the same
  // broadcast-query × corpus scan + bounded top-k as E1, so the eval
  // costs one extra scan per width and NOTHING corpus-squared; the
  // 64-dim row is recall 1.0 by construction (a built-in sanity check).
  // 100 TB: composes with E11/E2 — the prefix IS the compressed tier, so
  // this query prices the recall/bandwidth trade before reshaping data.
  private val MrlWidths = Seq(16, 32, 64)

  def mrlEval(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val full = cosineTopK(spark, dir).select($"qid", $"cid")
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding".as("v"))
    val perWidth = MrlWidths.map { k =>
      val topk = udaf(new graft.functions.TopKAggregator(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      val p = e
        .withColumn("pv", expr(s"slice(v, 1, $k)"))
        .withColumn("pn", sqrt(dot($"pv", $"pv")))
        .select($"vec_id", $"pv", $"pn")
      val q = p.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"pv".as("qv"), $"pn".as("qn"))
      p.filter($"vec_id" >= 5)
        .select($"vec_id".as("cid"), $"pv".as("cv"), $"pn".as("cn"))
        .join(broadcast(q))
        .withColumn("sim", round(dot($"qv", $"cv") / ($"qn" * $"cn"), 6))
        .groupBy($"qid")
        .agg(topk($"cid", $"sim").as("top"))
        .select($"qid", explode($"top").as("s"))
        .select(lit(k).as("width"), $"qid", $"s.cid".as("cid"))
    }
    perWidth.reduce(_ union _)
      .join(full.withColumn("hit", lit(1)), Seq("qid", "cid"), "left")
      .groupBy($"width", $"qid")
      .agg(sum(coalesce($"hit", lit(0))).cast("long").as("hits"))
      .withColumn("recall", round($"hits".cast("double") / 5.0, 6))
      .orderBy($"width", $"qid")
  }

  val mrlEvalSql: String = {
    def widthCte(k: Int) =
      s"""p$k AS (
         |  SELECT vec_id, v[1:$k] AS pv,
         |    sqrt(list_sum(list_transform(v[1:$k], x -> x * x))) AS pn
         |  FROM ev),
         |s$k AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    round(list_sum(list_transform(list_zip(q.pv, c.pv), t -> t[1] * t[2]))
         |      / (q.pn * c.pn), 6) AS sim
         |  FROM p$k q, p$k c WHERE q.vec_id < 5 AND c.vec_id >= 5),
         |t$k AS (
         |  SELECT $k AS width, qid, cid FROM (
         |    SELECT qid, cid,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
         |    FROM s$k) WHERE rnk <= 5)""".stripMargin
    val widths = MrlWidths.map(widthCte).mkString(",\n")
    val unions = MrlWidths.map(k => s"SELECT * FROM t$k").mkString(" UNION ALL ")
    s"""WITH ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |$widths,
       |allw AS ($unions),
       |full5 AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(list_zip(q.v, c.v), t -> t[1] * t[2]))
       |          / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
       |             * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 6) DESC,
       |        c.vec_id ASC) AS rnk
       |    FROM ev q, ev c WHERE q.vec_id < 5 AND c.vec_id >= 5) WHERE rnk <= 5)
       |SELECT a.width, a.qid,
       |  CAST(SUM(CASE WHEN f.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  round(SUM(CASE WHEN f.cid IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
       |FROM allw a LEFT JOIN full5 f ON f.qid = a.qid AND f.cid = a.cid
       |GROUP BY a.width, a.qid
       |ORDER BY a.width, a.qid""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_mrl_eval"    -> (mrlEval _),
    "emb_pca_top"     -> (pcaTop _),
    "emb_rproj_topk"  -> (rprojTopK _),
    "emb_mmr_topk"    -> (mmrTopK _),
    "emb_pq_topk"     -> (pqTopK _),
    "emb_cosine_topk" -> (cosineTopK _),
    "emb_ivf_topk"    -> (ivfTopK _),
    "emb_ivf_mv"      -> (ivfMvTopK _),
    "emb_ivf_read"    -> (ivfReadTopK _),
    "emb_ivf_append"  -> (ivfAppendTopK _),
    "emb_ivf_compact" -> (ivfCompactTopK _),
    "emb_lsh_neardup" -> (lshNearDup _),
    "emb_multiprobe_neardup" -> (multiProbeNearDup _),
    "emb_ivfadc_topk" -> (ivfadcTopK _),
    "emb_knn_graph"   -> (knnGraph _),
    "emb_nsw_topk"    -> (nswTopK _),
    "emb_nsw_mv"      -> (nswMvTopK _),
    "emb_nsw_read"    -> (nswReadTopK _),
    "emb_nsw_append"  -> (nswAppendTopK _),
    "emb_nsw_compact" -> (nswCompactTopK _),
    "emb_semdedup"    -> (semDedup _),
    "emb_quantize"    -> (quantize _),
    "emb_recall_eval" -> (recallEval _),
    "emb_ndcg_eval" -> (ndcgEval _),
    "emb_hard_negatives" -> (hardNegatives _))

  val oracles: Map[String, String] = Map(
    "emb_mrl_eval"    -> mrlEvalSql,
    "emb_pca_top"     -> pcaTopSql,
    "emb_rproj_topk"  -> rprojTopKSql,
    "emb_mmr_topk"    -> mmrTopKSql,
    "emb_pq_topk"     -> pqTopKSql,
    "emb_cosine_topk" -> cosineTopKSql,
    "emb_ivf_topk"    -> ivfTopKSql,
    "emb_ivf_mv"      -> ivfMvTopKSql,
    "emb_ivf_read"    -> ivfReadTopKSql,
    "emb_ivf_append"  -> ivfAppendTopKSql,
    "emb_ivf_compact" -> ivfCompactTopKSql,
    "emb_lsh_neardup" -> lshNearDupSql,
    "emb_multiprobe_neardup" -> multiProbeNearDupSql,
    "emb_ivfadc_topk" -> ivfadcTopKSql,
    "emb_knn_graph"   -> knnGraphSql,
    "emb_nsw_topk"    -> nswTopKSql,
    "emb_nsw_mv"      -> nswTopKSql,
    "emb_nsw_read"    -> nswTopKSql,
    "emb_nsw_append"  -> nswAppendTopKSql,
    "emb_nsw_compact" -> nswAppendTopKSql,
    "emb_semdedup"    -> semDedupSql,
    "emb_quantize"    -> quantizeSql,
    "emb_recall_eval" -> recallEvalSql,
    "emb_ndcg_eval" -> ndcgEvalSql,
    "emb_hard_negatives" -> hardNegativesSql)
}
