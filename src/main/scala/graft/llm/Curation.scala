package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators: the decisions a training-data pipeline makes
  * AFTER analysis/dedup — splitting, winner selection, duplicate-cluster
  * resolution, and sequence packing.
  *
  * Determinism contract: md5-derived bucketing (identical in DuckDB),
  * integer window arithmetic, and the same 6-dp rounding discipline as the
  * sibling modules.
  */
object Curation {

  /** The C1 hash-mod bucket — canonical definitions live in the neutral
    * ops layer ([[graft.ops.ScalarFuncs.splitBucketExpr]]) so both the
    * curation family here and V8's PSI (ops/Metrics.scala) consume ONE
    * formula per engine; these aliases keep call sites readable.
    */
  val splitBucketExpr: String = graft.ops.ScalarFuncs.splitBucketExpr
  val splitBucketSql: String = graft.ops.ScalarFuncs.splitBucketSql

  // ---------------------------------------------------------------------
  // C1 deterministic train/val/test split: hash-mod bucketing on doc_id
  // (md5 → int64 → mod 100; 80/10/10). Content-independent and stable
  // across runs/engines — the property a reproducible pipeline needs.
  // 100 TB: pure map-side; the split column also serves as a partition key
  // for the output layout.
  def splitCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("bucket",
        expr(splitBucketExpr))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"split", $"lang")
  }

  val splitSql: String =
    s"""WITH b AS (
      |  SELECT lang, n_chars,
      |    $splitBucketSql AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------------
  // C2 quality-aware dedup winner: within each exact-duplicate group keep
  // the HIGHEST-quality copy (not the lowest id) — composition of the
  // exact-dedup shape (L1) with the quality signal (T2). Ties break on
  // doc_id, so the winner is total-order deterministic.
  /** T2 quality signal per document (shared by dedupBest and
    * nearDedupBest): stopword/alpha/length mix rounded to 6dp. */
  private def qualityFrame(spark: SparkSession, dir: String): DataFrame =
    qualityFrameFrom(Tables.documents(spark, dir))

  private def qualityFrameFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tok", size($"toks"))
      .withColumn("n_stop", size(filter($"toks", t => t === "the" || t === "a")))
      .withColumn("n_alpha", length(regexp_replace($"text", "[^a-z]", "")))
      .withColumn("quality",
        TextAnalysis.qualityFormula($"n_stop", $"n_tok", $"n_alpha", $"n_chars"))
  }

  def dedupBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = qualityFrame(spark, dir)
    val w = Window.partitionBy(md5($"text")).orderBy($"quality".desc, $"doc_id".asc)
    q.withColumn("rn", row_number().over(w))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_survivors"),
        round(avg(when($"rn" === 1, $"quality")), 6).as("avg_survivor_quality"))
      .orderBy($"source")
  }

  val dedupBestSql: String =
    """WITH q AS (
      |  SELECT doc_id, source, text,
      |    round(0.4 * (1.0 - len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))::DOUBLE
      |                        / len(string_split(text, ' ')))
      |        + 0.3 * (len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / n_chars)
      |        + 0.3 * least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0), 6) AS quality
      |  FROM documents),
      |r AS (
      |  SELECT source, quality,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY quality DESC, doc_id ASC) AS rn
      |  FROM q)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
      |  round(AVG(CASE WHEN rn = 1 THEN quality END), 6) AS avg_survivor_quality
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C3 duplicate-cluster connected components: the near-dup PAIRS from the
  // MinHash/LSH pass form a graph whose components are the real "document
  // families"; resolution = iterative min-label propagation (the Pregel/
  // GraphX connected-components algorithm expressed relationally). The
  // driver loop only coordinates ROUNDS and checks a converged COUNT — no
  // data is collected; rounds needed = graph diameter (tiny for dup
  // cliques). The DuckDB oracle computes the same components with a
  // recursive CTE.
  // 100 TB: each round is one shuffle join on doc_id; label frames stay
  // node-sized (not edge-sized).
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The iteration core (min-label + pointer jumping, monotone label-sum
    // convergence, per-round localCheckpoint) lives in
    // graft.ops.Graph.connectedComponents; since round 12 the LSH pairs
    // AND the labels come from the build-once pair-graph MV
    // (TextDedup.componentLabels) shared with C12/C18 — this operator
    // owns only the cluster report.
    TextDedup.componentLabels(spark, dir)
      .select($"doc_id", $"component".as("lbl"))
      .groupBy($"lbl".as("cluster_root"))
      .agg(count(lit(1)).as("n_members"), max($"doc_id").as("max_doc"))
      .filter($"n_members" >= 2)
      .orderBy($"cluster_root")
  }

  val dupClustersSql: String =
    "WITH RECURSIVE pairs AS (\n" +
      // the minhash query keeps its own inner WITH — a parenthesized
      // subquery may carry one; only its final ORDER BY must go
      TextDedup.minhashLshSql.replace("ORDER BY doc_a, doc_b", "") +
    """
      |),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |lbl AS (
      |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS root
      |  FROM reach GROUP BY src)
      |SELECT root AS cluster_root, COUNT(*) AS n_members, MAX(doc_id) AS max_doc
      |FROM lbl GROUP BY root HAVING COUNT(*) >= 2
      |ORDER BY cluster_root""".stripMargin

  // ---------------------------------------------------------------------
  // C18 leakage-safe split: C1's hash-mod split keyed on the DOC id lets
  // two near-duplicate documents land in train and test — the classic
  // silent-leakage path that inflates eval numbers (the reason Dodge et
  // al. 2021 / Lee et al. 2022 dedup BEFORE splitting). This operator
  // splits on the near-dup CLUSTER id instead: resolve the LSH pair graph
  // to components (C3's shared core), key every member — and every
  // untouched singleton, via its own doc_id — by the component root, and
  // bucket THAT. A document family moves as one unit, so no near-dup pair
  // can ever straddle a split boundary (LlmSpec pins one split per
  // component).
  // 100 TB: the component map covers only docs that appear in a near-dup
  // pair (pair-graph-sized, typically ≪ corpus) — the corpus-side join is
  // a LEFT join against that small map (broadcastable under AQE), then
  // the bucket is map-side; identical cost shape to C1 plus one dedup
  // pass the pipeline already runs.

  /** Per-doc assignment (doc_id, source, n_chars, cluster_id, split) —
    * exposed for the no-straddling property pin; the registered query
    * aggregates it.
    */
  private[graft] def leakSafeAssignments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val comp = TextDedup.componentLabels(spark, dir)
      .select($"doc_id", $"component".as("root"))
    Tables.documents(spark, dir)
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce($"root", $"doc_id"))
      .withColumn("bucket", expr(graft.ops.ScalarFuncs.bucketExpr("cluster_id")))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .select($"doc_id", $"source", $"n_chars", $"cluster_id", $"split")
  }

  def leakSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    leakSafeAssignments(spark, dir)
      .groupBy($"split", $"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"split", $"source")
  }

  val leakSafeSplitSql: String = {
    val inner = TextDedup.minhashLshSql.replace("ORDER BY doc_a, doc_b", "")
    require(inner != TextDedup.minhashLshSql,
      "minhashLshSql tail drifted; leakSafeSplitSql would inline its ORDER BY")
    "WITH RECURSIVE pairs AS (\n" + inner + """
      |),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |lbl AS (
      |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS root
      |  FROM reach GROUP BY src),
      |a AS (
      |  SELECT d.source, d.n_chars, COALESCE(l.root, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id),
      |b AS (
      |  SELECT source, n_chars, cluster_id,
      |    """.stripMargin + graft.ops.ScalarFuncs.bucketSql("cluster_id") + """ AS bucket
      |  FROM a)
      |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  source, COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM b GROUP BY split, source ORDER BY split, source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // C4 sequence packing: fill fixed token-budget bins (context windows) in
  // doc_id order within each source — bin = floor(start_offset / budget)
  // over a running token count, the relational form of greedy sequential
  // packing. Per-source windows keep it parallel (one global window would
  // single-thread the cumsum at scale).
  def pack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 2048L
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("bin", (($"cum" - $"n_tok") / budget).cast("long"))
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      .orderBy($"source", $"bin")
  }

  val packSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT source, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
      |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin

  // ---------------------------------------------------------------------
  // C5 stratified deterministic downsampling: high-resource languages are
  // kept at a reduced rate (en → 30%), everything else passes — the
  // standard language-rebalancing step before pre-training. The keep
  // decision is the same content-independent md5-mod bucket as C1, so the
  // sample is reproducible across runs AND engines, and pure map-side
  // (no shuffle until the audit aggregate).
  def sampleCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("bucket",
        expr(splitBucketExpr))
      .withColumn("kept",
        ($"bucket" < when($"lang" === "en", 30).otherwise(100)).cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"kept").as("n_kept"),
        sum(when($"kept" === 1L, $"n_chars").otherwise(0L)).as("kept_chars"))
      .orderBy($"lang")
  }

  val sampleSql: String =
    s"""WITH b AS (
      |  SELECT lang, n_chars,
      |    $splitBucketSql AS bucket
      |  FROM documents),
      |k AS (
      |  SELECT lang, n_chars,
      |    CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 30 ELSE 100 END) THEN 1 ELSE 0 END AS kept
      |  FROM b)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // C6 benchmark decontamination: a corpus document is contaminated if it
  // shares any word-8-gram with the probe/benchmark set (here: source
  // 'src0' stands in for the eval benchmark). Implementation is an
  // inverted-index LEFT SEMI join on the md5 of the 8-gram — the same
  // bucketed shape as LSH, never an all-pairs comparison.
  // 100 TB: probe grams are benchmark-sized (small) → Spark broadcasts the
  // build side of the semi join; corpus grams stream map-side through it.
  /** md5'd word-8-gram SET over a `text` column — the contamination
    * fingerprint shared by C6 and the C19 funnel's decontam stage.
    * Computed with the native shingler (`graft_shingles(text, 8)` =
    * DISTINCT 8-grams in one pass) + an md5 map; the previous
    * transform-over-`sequence` formulation re-evaluated `split(text, ' ')`
    * per lambda element — O(tokens²) per document (same hazard and fix as
    * [[TextAnalysis.dupFracCol]], measured round 11, SURVEY.md §6.1).
    * DISTINCT is safe for every consumer: contamination is a set-
    * membership probe — the probe side is explicitly `.distinct()`ed and
    * the corpus side feeds a left-semi join, so duplicate gram positions
    * never influence any result.
    */
  private[graft] val grams8Col =
    expr("transform(graft_shingles(text, 8), g -> md5(g))")

  /** DuckDB replay of [[grams8Col]] (list expression over `text`). */
  private[graft] val grams8Sql =
    "list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 7, 0)), " +
      "i -> md5(array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')))"

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val grams8 = grams8Col
    val probeGrams = docs.filter($"source" === "src0")
      .select(explode(grams8).as("g")).distinct()
    val contaminated = docs.filter($"source" =!= "src0")
      .select($"doc_id", explode(grams8).as("g"))
      .join(broadcast(probeGrams), Seq("g"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("hit", lit(1L))
    docs.filter($"source" =!= "src0")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
      .orderBy($"source")
  }

  val decontaminateSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, $grams8Sql AS grams
      |  FROM documents),
      |probe AS (SELECT DISTINCT unnest(grams) AS g FROM t WHERE source = 'src0'),
      |corp AS (SELECT doc_id, source, unnest(grams) AS g FROM t WHERE source <> 'src0'),
      |contam AS (SELECT DISTINCT doc_id FROM corp WHERE g IN (SELECT g FROM probe))
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM contam) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM documents WHERE source <> 'src0'
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  /** C19 end-to-end curation funnel: the production data-recipe DAG as ONE
    * registered query — raw corpus → C7 quality filter → C2 exact-dedup
    * keep-best → C6 decontamination against the benchmark source → C1
    * train/val/test split — emitting the per-stage retention row every
    * pretraining data card publishes: `(step, n_docs, n_tokens)`. Stage
    * semantics are EXACTLY the standalone operators' (same rule constants,
    * same 6-dp quality formula, same bucket hash, same 8-gram
    * fingerprint), so the funnel certifies the COMPOSITION — the g9
    * discipline applied to the curation family.
    *
    * Composition/scale design (the part a 100 TB run cares about):
    * - ONE full scan computes every per-doc signal (n_tok, dup_frac,
    *   stop_ratio, quality, split bucket, dedup key = md5(text)) into a
    *   NARROW ScopedCached frame — the text payload is deliberately NOT
    *   cached; stage aggregates and the dedup window all read the cached
    *   signals.
    * - dedup = one window shuffle on the 16-byte key, over filter
    *   survivors only.
    * - decontamination runs LAST-but-split, over the smallest surviving
    *   set: only dedup survivors are re-shingled (a column-pruned
    *   doc_id+text re-scan gated by a survivor-id semi-join — cheaper at
    *   scale than caching payload text through the whole funnel), probed
    *   against the broadcast benchmark-gram set.
    * - every stage row is a conditional aggregate over a cached/derived
    *   frame; reused exchanges cover the window across its consumers.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    curationPipelineFrom(Tables.documents(spark, dir))

  /** Funnel over an explicit documents frame — Round11Spec injects a
    * hand-built corpus where EVERY stage binds (the test-SF corpus has no
    * exact duplicates, so c_dedup would be vacuous there).
    */
  private[graft] def curationPipelineFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val per = graft.ops.ScopedCache.untilConsumed(
      qualityFrameFrom(docs)
        .filter($"source" =!= "src0")
        .withColumn("dup_frac", TextAnalysis.dupFracCol)
        .withColumn("stop_ratio", $"n_stop".cast("double") / $"n_tok")
        .withColumn("keep_f",
          TextAnalysis.keepRule($"n_tok", $"dup_frac", $"stop_ratio"))
        .withColumn("bucket", expr(splitBucketExpr))
        .withColumn("dkey", md5($"text"))
        .select($"doc_id", $"n_tok", $"quality", $"keep_f", $"bucket", $"dkey"))
    val w = Window.partitionBy($"dkey").orderBy($"quality".desc, $"doc_id".asc)
    val survivors = graft.ops.ScopedCache.untilConsumed(
      per.filter($"keep_f")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"n_tok", $"bucket"))
    val probeGrams = docs.filter($"source" === "src0")
      .select(explode(grams8Col).as("g")).distinct()
    val contamIds = docs
      .join(survivors.select($"doc_id"), Seq("doc_id"), "left_semi")
      .select($"doc_id", explode(grams8Col).as("g"))
      .join(broadcast(probeGrams), Seq("g"), "left_semi")
      .select($"doc_id").distinct()
    val clean = graft.ops.ScopedCache.untilConsumed(
      survivors.join(contamIds, Seq("doc_id"), "left_anti"))
    def stageRow(step: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"n_tok"), lit(0L)).as("n_tokens"))
        .select(lit(step).as("step"), $"n_docs", $"n_tokens")
    stageRow("a_raw", per)
      .unionByName(stageRow("b_filter", per.filter($"keep_f")))
      .unionByName(stageRow("c_dedup", survivors))
      .unionByName(stageRow("d_decontam", clean))
      .unionByName(stageRow("e_train", clean.filter($"bucket" < 80)))
      .unionByName(stageRow("f_val", clean.filter($"bucket" >= 80 && $"bucket" < 90)))
      .unionByName(stageRow("g_test", clean.filter($"bucket" >= 90)))
      .orderBy($"step")
  }

  val curationPipelineSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, source, text, n_chars FROM documents WHERE source <> 'src0'),
      |per AS (
      |  SELECT doc_id, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    round(0.4 * (1.0 - len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))::DOUBLE
      |                        / len(string_split(text, ' ')))
      |        + 0.3 * (len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / n_chars)
      |        + 0.3 * least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0), 6) AS quality,
      |    ${TextAnalysis.dupFracSqlExpr} AS dup_frac,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    $splitBucketSql AS bucket
      |  FROM corpus),
      |flt AS (
      |  SELECT * FROM per
      |  WHERE n_tok >= 15 AND dup_frac <= ${TextAnalysis.repetitiousThreshold}
      |    AND stop_ratio <= 0.3),
      |ded AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY quality DESC, doc_id ASC) AS rn
      |  FROM flt),
      |sur AS (SELECT doc_id, text, n_tok, bucket FROM ded WHERE rn = 1),
      |probe AS (
      |  SELECT DISTINCT unnest($grams8Sql) AS g
      |  FROM documents WHERE source = 'src0'),
      |surg AS (SELECT doc_id, unnest($grams8Sql) AS g FROM sur),
      |contam AS (SELECT DISTINCT doc_id FROM surg WHERE g IN (SELECT g FROM probe)),
      |clean AS (SELECT * FROM sur WHERE doc_id NOT IN (SELECT doc_id FROM contam))
      |SELECT * FROM (
      |  SELECT 'a_raw' AS step, COUNT(*) AS n_docs,
      |    COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) AS n_tokens FROM per
      |  UNION ALL SELECT 'b_filter', COUNT(*), COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM flt
      |  UNION ALL SELECT 'c_dedup', COUNT(*), COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM sur
      |  UNION ALL SELECT 'd_decontam', COUNT(*), COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM clean
      |  UNION ALL SELECT 'e_train', COUNT(*), COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM clean WHERE bucket < 80
      |  UNION ALL SELECT 'f_val', COUNT(*), COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM clean WHERE bucket >= 80 AND bucket < 90
      |  UNION ALL SELECT 'g_test', COUNT(*), COALESCE(CAST(SUM(n_tok) AS BIGINT), 0) FROM clean WHERE bucket >= 90)
      |ORDER BY step""".stripMargin

  // ---------------------------------------------------------------------
  // C7 end-to-end quality filter: the C4/Gopher-style keep/drop decision
  // with REASONS, composed from the per-doc signals (token count, duplicate
  // bigram fraction, stopword ratio). First matching rule wins, so the
  // reason counts partition n_docs exactly — an auditable filter, which is
  // what a production curation pass must emit. Entirely map-side until the
  // per-source audit aggregate.
  def filterCorpus(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("dup_frac", TextAnalysis.dupFracCol)
      .withColumn("stop_ratio",
        size(filter($"toks", t => t === "the" || t === "a")).cast("double") / $"n_tok")
      .withColumn("verdict",
        when($"n_tok" < TextAnalysis.minKeepTokens, "drop_too_short")
          .when($"dup_frac" > TextAnalysis.repetitiousThreshold, "drop_repetitious")
          .when($"stop_ratio" > TextAnalysis.maxStopRatio, "drop_stopword_heavy")
          .otherwise("keep"))
    per.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"verdict" === "drop_too_short", 1L).otherwise(0L)).as("n_too_short"),
        sum(when($"verdict" === "drop_repetitious", 1L).otherwise(0L)).as("n_repetitious"),
        sum(when($"verdict" === "drop_stopword_heavy", 1L).otherwise(0L)).as("n_stopword_heavy"),
        sum(when($"verdict" === "keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"verdict" === "keep", $"n_tok").otherwise(0L)).as("kept_tokens"))
      .orderBy($"source")
  }

  val filterSql: String =
    s"""WITH per AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    ${TextAnalysis.dupFracSqlExpr} AS dup_frac,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio
      |  FROM documents),
      |v AS (
      |  SELECT source, n_tok,
      |    CASE WHEN n_tok < 15 THEN 'drop_too_short'
      |         WHEN dup_frac > ${TextAnalysis.repetitiousThreshold} THEN 'drop_repetitious'
      |         WHEN stop_ratio > 0.3 THEN 'drop_stopword_heavy'
      |         ELSE 'keep' END AS verdict
      |  FROM per)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN verdict = 'drop_too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
      |  CAST(SUM(CASE WHEN verdict = 'drop_repetitious' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitious,
      |  CAST(SUM(CASE WHEN verdict = 'drop_stopword_heavy' THEN 1 ELSE 0 END) AS BIGINT) AS n_stopword_heavy,
      |  CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN verdict = 'keep' THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM v GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C8 redaction pass: the PII-scrub shape — pattern occurrences replaced
  // by a sentinel token, with an audit of how much text was touched (a
  // production scrub must report what it removed). Digit runs stand in
  // for the sensitive patterns (the corpus has no real PII); swapping in
  // email/phone/ID regexes changes only the pattern constant. Entirely
  // map-side until the per-source audit aggregate; the RE2-portable
  // subset only (DuckDB has no backreferences).
  def redact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pat = "[0-9]+"
    val per = Tables.documents(spark, dir)
      .withColumn("n_hits", size(regexp_extract_all($"text", lit(pat), lit(0))))
      .withColumn("redacted", regexp_replace($"text", pat, "<NUM>"))
      .withColumn("chars_removed",
        length($"text") - length(regexp_replace($"text", pat, "")))
    per.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"n_hits" > 0, 1L).otherwise(0L)).as("n_docs_touched"),
        sum($"n_hits".cast("long")).as("n_redactions"),
        sum($"chars_removed".cast("long")).as("chars_removed"),
        sum(length($"redacted").cast("long")).as("redacted_chars"))
      .orderBy($"source")
  }

  val redactSql: String =
    """WITH per AS (
      |  SELECT source,
      |    len(regexp_extract_all(text, '[0-9]+')) AS n_hits,
      |    len(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_len,
      |    len(text) - len(regexp_replace(text, '[0-9]+', '', 'g')) AS chars_removed
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
      |  CAST(SUM(n_hits) AS BIGINT) AS n_redactions,
      |  CAST(SUM(chars_removed) AS BIGINT) AS chars_removed,
      |  CAST(SUM(redacted_len) AS BIGINT) AS redacted_chars
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C9 overlapping token-window chunking: the document→training-sequence
  // step (context-window packing input). chunk = 50 tokens, stride = 40
  // (10-token overlap), starts generated per row with sequence() + explode
  // — pure map-side, no shuffle until the output sort. The chunk CONTENT
  // is pinned by md5 of the joined tokens so the result stays narrow while
  // the oracle still proves byte-exact chunking.
  // 100 TB: chunks inherit the input partitioning; (doc_id, chunk_idx) is
  // the natural key for the packed-sequence writer (C4).
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", split($"text", " "))
      .withColumn("start", explode(sequence(lit(0), size($"toks") - 1, lit(40))))
      .select($"doc_id",
        ($"start".cast("long") / 40).cast("long").as("chunk_idx"),
        size(slice($"toks", $"start" + 1, lit(50))).cast("long").as("n_chunk_tok"),
        md5(array_join(slice($"toks", $"start" + 1, lit(50)), " ")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val chunkSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, toks, unnest(range(0, n, 40)) AS start FROM t)
      |SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_idx,
      |  CAST(len(toks[start + 1 : start + 50]) AS BIGINT) AS n_chunk_tok,
      |  md5(array_to_string(toks[start + 1 : start + 50], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------
  // C10 corpus mixing: per-source sampling weight in percent (derived here
  // from the source id; in production a broadcast weights dim). copies =
  // w/100 whole epochs, plus one more iff the C1 md5-mod bucket falls
  // under the fractional part — deterministic up/down-sampling with no
  // RNG, reproducible across engines and runs. Aggregation is a map-side
  // partial over 20 groups; the materialization path for downstream
  // consumers is explode(sequence(1, copies)) which stays map-side too.
  def mix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("w_pct", lit(50) + (substring($"source", 4, 10).cast("int") % 4) * 60)
      .withColumn("bucket",
        expr(splitBucketExpr))
      .withColumn("copies",
        expr("CAST(w_pct DIV 100 AS BIGINT)")
          + when($"bucket" < $"w_pct" % 100, 1L).otherwise(0L))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs_in"),
        sum($"copies").as("n_docs_out"),
        sum($"n_chars" * $"copies").as("sum_chars_out"))
      .orderBy($"source")
  }

  val mixSql: String =
    s"""WITH b AS (
      |  SELECT source, n_chars,
      |    50 + (CAST(substr(source, 4, 10) AS INT) % 4) * 60 AS w_pct,
      |    $splitBucketSql AS bucket
      |  FROM documents),
      |c AS (
      |  SELECT source, n_chars,
      |    CAST(w_pct // 100 AS BIGINT)
      |      + CASE WHEN bucket < w_pct % 100 THEN 1 ELSE 0 END AS copies
      |  FROM b)
      |SELECT source, COUNT(*) AS n_docs_in,
      |  CAST(SUM(copies) AS BIGINT) AS n_docs_out,
      |  CAST(SUM(n_chars * copies) AS BIGINT) AS sum_chars_out
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C21 temperature-smoothed corpus mix (the mT5/XLM-R multinomial move):
  // source s with share p_s is resampled toward p_s^alpha / sum(p^alpha),
  // boosting rare sources and shrinking dominant ones. alpha = 0.5 here —
  // deliberately, because p^0.5 is ONE IEEE-correctly-rounded sqrt in both
  // engines (DuckDB libm and JVM Math.sqrt agree bit-for-bit, which
  // pow(x, 0.3) does not guarantee), so the whole weight pipeline stays
  // engine-exact: w_s = floor(sqrt(n_s)*1e6), weight_ppm = w_s*1e6 div W,
  // target t_s = weight_ppm * N div 1e6 — all int64 after the one sqrt.
  // (Rescaling through ppm first also keeps every product under 2^63 at
  // trillion-doc scale; w_s * N directly would overflow.) Materialization
  // is C10's deterministic scheme: t_s div n_s whole epochs, plus one more
  // iff the doc's seeded md5 residue mod n_s falls under the remainder —
  // no RNG, no per-source window sort (a row_number would be exact-count
  // but costs a per-source sort of up to the whole corpus; the residue
  // form is shuffle-free and lands within rounding of t_s).
  // 100 TB: the source table is a ~20-row broadcast; everything else is
  // one map-side pass + a 20-group partial aggregate.
  def tempMix(spark: SparkSession, dir: String): DataFrame =
    tempMixOf(Tables.documents(spark, dir))

  private[graft] def tempMixOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
      .withColumn("w_s", floor(sqrt($"n_s".cast("double")) * 1e6).cast("long"))
    val tot = w.agg(sum($"n_s").as("n_total"), sum($"w_s").as("w_total"))
    val t = w.crossJoin(broadcast(tot))
      .withColumn("weight_ppm", expr("w_s * 1000000 DIV w_total"))
      .withColumn("t_s", expr("weight_ppm * n_total DIV 1000000"))
      .select($"source", $"n_s", $"weight_ppm", $"t_s")
    docs
      .withColumn("h", expr(
        "CAST(conv(substr(md5('t42:' || CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .join(broadcast(t), "source")
      .withColumn("copies",
        expr("t_s DIV n_s") + when($"h" % $"n_s" < $"t_s" % $"n_s", 1L).otherwise(0L))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs_in"),
        min($"weight_ppm").as("weight_ppm"),
        sum($"copies").as("n_docs_out"),
        sum($"n_chars" * $"copies").as("sum_chars_out"))
      .orderBy($"source")
  }

  val tempMixSql: String =
    """WITH src AS (
      |  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_s,
      |    CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e6) AS BIGINT) AS w_s
      |  FROM src),
      |tot AS (SELECT SUM(n_s) AS n_total, SUM(w_s) AS w_total FROM w),
      |t AS (
      |  SELECT source, n_s,
      |    CAST(w_s * 1000000 // w_total AS BIGINT) AS weight_ppm,
      |    CAST((w_s * 1000000 // w_total) * n_total // 1000000 AS BIGINT) AS t_s
      |  FROM w CROSS JOIN tot),
      |d AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(list_sum(list_transform([1,2,3,4,5,6,7,8], i ->
      |      CAST(strpos('0123456789abcdef',
      |             substr(md5('t42:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
      |        * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) AS h
      |  FROM documents),
      |c AS (
      |  SELECT d.source, n_chars, weight_ppm,
      |    (t_s // n_s) + CASE WHEN (h % n_s) < (t_s % n_s) THEN 1 ELSE 0 END AS copies
      |  FROM d JOIN t ON d.source = t.source)
      |SELECT source, COUNT(*) AS n_docs_in, MIN(weight_ppm) AS weight_ppm,
      |  CAST(SUM(copies) AS BIGINT) AS n_docs_out,
      |  CAST(SUM(n_chars * copies) AS BIGINT) AS sum_chars_out
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C11 deterministic training-order shuffle + sharding: order key =
  // md5("s42:" || doc_id) (seeded, content-independent, unique), shard =
  // key's leading 32 bits mod 8, position = row_number within the shard
  // ordered by key. Readers consuming shards in (shard, pos) order see a
  // fixed pseudo-random permutation of the corpus.
  // 100 TB: the shard is a hash bucket, so the window partitions are
  // uniform and bounded (corpus/8 each) — no global single-partition sort;
  // a full global permutation would instead be orderBy(skey).write with
  // range partitioning doing the distribution.
  def shuffleShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.documents(spark, dir)
      .withColumn("skey", md5(concat(lit("s42:"), $"doc_id".cast("string"))))
      .withColumn("shard",
        expr("CAST(conv(substr(skey, 1, 8), 16, 10) AS BIGINT) % 8"))
    keyed
      .withColumn("pos",
        row_number().over(Window.partitionBy($"shard").orderBy($"skey")).cast("long"))
      .select($"shard", $"pos", $"doc_id")
      .orderBy($"shard", $"pos")
  }

  val shuffleShardsSql: String =
    """WITH k AS (
      |  SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, skey,
      |    CAST(list_sum(list_transform([1,2,3,4,5,6,7,8], i ->
      |      CAST(strpos('0123456789abcdef', substr(skey, i, 1)) - 1 AS BIGINT)
      |        * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) % 8 AS shard
      |  FROM k)
      |SELECT shard, CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey) AS BIGINT) AS pos,
      |  doc_id
      |FROM s ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------------
  // C12 weighted sampling without replacement (Efraimidis–Spirakis A-ES):
  // exactly k=25 docs drawn with probability ∝ n_chars, in ONE pass with
  // NO global sort. Each doc gets key = ln(u)/w for a deterministic
  // md5-derived uniform u ∈ (0,1] (12 hex digits / 16^12 — an exact
  // dyadic rational, so the division is FP-exact in both engines); the k
  // LARGEST keys are the sample (ln(u)/w is a monotone transform of the
  // classic u^(1/w) — same order, one libm call instead of pow).
  // C5's hash-mod sampling draws a Bernoulli FRACTION per stratum; this
  // is its fixed-SIZE weighted sibling — both deterministic, no RNG state.
  // 100 TB: selection is a TakeOrderedAndProject — map-side partial
  // top-k per partition, only k rows per partition cross to the driver's
  // final merge; the weights never need normalizing, so no second pass.
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("u",
        (expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)") + 1)
          / lit(281474976710656.0)) // 16^12 = 2^48: exact dyadic division
      .withColumn("r", log($"u") / $"n_chars")
      .select($"doc_id", $"source", $"n_chars", round($"r" * 1000.0, 6).as("r_scaled"))
      .orderBy($"r_scaled".desc, $"doc_id")
      .limit(25)
  }

  // -------------------------------------------------------------------
  // C16 corpus snapshot diff — the CDC report every dataset release
  // needs ("what changed between v1 and v2"): full-outer join of two
  // snapshots on doc_id, content equality via md5, per-source counts of
  // added / removed / modified / unchanged docs. The two snapshots are
  // derived DETERMINISTICALLY from the driver table with the shared C1
  // bucket formula (v1 lacks buckets 80–84 → those read as ADDED in v2;
  // v2 lacks 85–89 → REMOVED; buckets 0–9 get a text revision in v2 →
  // MODIFIED), so the report exercises all four classes on real data
  // with no RNG. The generic core is [[snapshotDiff]](old, new) — point
  // it at two real snapshot scans in production.
  // 100 TB: ONE shuffle on doc_id for the full-outer join (both sides
  // hash the same key; with both snapshots bucketBy'd on doc_id — the
  // S7b layout — even that shuffle disappears); content hashes are
  // map-side, and only 128-bit hashes + flags reach the join, never the
  // payload text.
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), col("source"),
      md5(col("text")).as("oh"))
    val n = newSnap.select(col("doc_id"), col("source").as("nsource"),
      md5(col("text")).as("nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source"), col("nsource")).as("source"),
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") =!= col("nh"), "modified")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "modified", 1L).otherwise(0L)).as("n_modified"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy(col("source"))
  }

  def snapshotDiffReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", expr(splitBucketExpr))
    val v1 = docs.filter(!$"bucket".between(80, 84))
      .select($"doc_id", $"source", $"text")
    val v2 = docs.filter(!$"bucket".between(85, 89))
      .withColumn("text",
        when($"bucket" < 10, concat($"text", lit(" v2"))).otherwise($"text"))
      .select($"doc_id", $"source", $"text")
    snapshotDiff(v1, v2)
  }

  val snapshotDiffSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, source, text, $splitBucketSql AS bucket FROM documents),
      |v1 AS (
      |  SELECT doc_id, source, md5(text) AS oh FROM b
      |  WHERE bucket NOT BETWEEN 80 AND 84),
      |v2 AS (
      |  SELECT doc_id, source AS nsource,
      |    md5(CASE WHEN bucket < 10 THEN text || ' v2' ELSE text END) AS nh
      |  FROM b WHERE bucket NOT BETWEEN 85 AND 89),
      |j AS (
      |  SELECT COALESCE(v1.source, v2.nsource) AS source,
      |    CASE WHEN v1.oh IS NULL THEN 'added'
      |         WHEN v2.nh IS NULL THEN 'removed'
      |         WHEN v1.oh <> v2.nh THEN 'modified'
      |         ELSE 'unchanged' END AS status
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT source,
      |  CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |  CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(SUM(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS BIGINT) AS n_modified,
      |  CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  val weightedSampleSql: String =
    """WITH b AS (
      |  SELECT doc_id, source, n_chars,
      |    (CAST(list_sum(list_transform([1,2,3,4,5,6,7,8,9,10,11,12], i ->
      |      CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
      |        * CAST(power(16, 12 - i) AS BIGINT))) AS BIGINT) + 1)
      |      / 281474976710656.0 AS u
      |  FROM documents)
      |SELECT doc_id, source, n_chars, round(ln(u) / n_chars * 1000.0, 6) AS r_scaled
      |FROM b
      |ORDER BY r_scaled DESC, doc_id
      |LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // C12 NEAR-dup keep-best — the production dedup semantic: resolve the
  // MinHash-LSH near-duplicate graph into components (the shared
  // Graph.connectedComponents core, as C3) and keep the highest-quality
  // member of each component (ties on doc_id — total order); docs in no
  // near-dup pair are their own singleton cluster and survive. Composes
  // L3 candidates × G4 components × T2 quality — the exact-hash C2
  // winner generalized to fuzzy families.
  // 100 TB: candidates stay banded (no all-pairs), components are one
  // union-find pass (rounds only on a cross-partition frontier), and the
  // winner pick is one ranking window over cluster-sized groups.
  def nearDedupBest(spark: SparkSession, dir: String): DataFrame =
    nearDedupReport(qualityFrame(spark, dir),
      TextDedup.componentLabels(spark, dir))

  /** The C12 aggregate over an explicit (doc_id, component) label frame —
    * shared by the memoized-read form (cur_neardedup_best) and the
    * refresh-billing form (cur_neardedup_mv).
    */
  private def nearDedupReport(q: DataFrame, labels: DataFrame): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val cc = labels.select($"doc_id", $"component")
    val clustered = q.join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"component", $"doc_id"))
    val w = Window.partitionBy($"cluster").orderBy($"quality".desc, $"doc_id".asc)
    clustered.withColumn("rn", row_number().over(w))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_survivors"),
        round(avg(when($"rn" === 1, $"quality")), 6).as("avg_survivor_quality"))
      .orderBy($"source")
  }

  /** C22 the pair-graph refresh as a registered query (the emb_ivf_mv
    * convention): REFRESH the near-dup pair-graph MV unconditionally —
    * this query bills the corpus-sized LSH + CC build the memoized
    * consumers amortize — then compute the C12 report from the read-back
    * labels artifact. Result-identical to cur_neardedup_best BY
    * CONSTRUCTION (same derivation, and parquet round-trips int64 ids
    * exactly), so it shares nearDedupBestSql — the oracle match certifies
    * the artifact end-to-end.
    */
  def nearDedupMv(spark: SparkSession, dir: String): DataFrame = {
    val root = TextDedup.refreshPairGraphMv(spark, dir)
    nearDedupReport(qualityFrame(spark, dir),
      TextDedup.PairGraph.read(spark, graft.weather.Staging.chainDirs(spark, root), "labels").get)
  }

  /** C23 pair-graph compaction as a REGISTERED, oracle-checked query —
    * the E24 convention applied to the near-dup MV: the pair graph is
    * refreshed over a 90% scratch corpus (the MV is keyed by dataset dir,
    * so the resident subset gets its own dir — the PairGraphMvSpec
    * recipe), the held-out 10% arrives as TWO sub-batches appended with
    * `compactAfterDeltas = 1`, so the second append TRIPS auto-compaction
    * and the chain collapses to ONE full version; the `require` fails the
    * query rather than silently serving the uncompacted chain. The C12
    * report then reads the COMPACTED labels. Splitting the batch is sound
    * here (unlike NSW — see nswCompactTopK's scaladoc): append №2 probes
    * the stored sigs chain, which already carries append №1's signatures,
    * and verifies partners against corpus ∪ batchdocs, so the final pair
    * set and labels equal a full-corpus rebuild (PairGraphMvSpec pins
    * append ≡ rebuild) — the query shares nearDedupBestSql, and the hash
    * match certifies incremental ingest + auto-compaction end-to-end.
    * Honest billing: scratch-corpus write + 90% refresh + two appends +
    * compaction + report, every run.
    */
  def nearDedupCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val scratch = graft.ops.ArtifactRoots.register("graft_pg_cmp_corpus", Some(dir))
    docs.filter($"doc_id" % 10 =!= 7)
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val root = TextDedup.refreshPairGraphMv(spark, scratch)
    def batch(m: Int) = docs.filter($"doc_id" % 20 === m).select($"doc_id", $"text")
    TextDedup.appendPairGraphMv(spark, scratch, batch(7), compactAfterDeltas = 1)
    TextDedup.appendPairGraphMv(spark, scratch, batch(17), compactAfterDeltas = 1)
    require(graft.weather.Staging.chainVersions(spark, root).size == 1,
      "cur_neardedup_compact: auto-compaction did not collapse the chain")
    nearDedupReport(qualityFrame(spark, dir),
      TextDedup.PairGraph.read(spark, graft.weather.Staging.chainDirs(spark, root), "labels").get)
  }

  lazy val nearDedupCompactSql: String = nearDedupBestSql

  // lazy: nearDedupBestSql is declared further down the object body — an
  // eager val here would read null during object init (the graphPipelineSql
  // lesson)
  lazy val nearDedupMvSql: String = nearDedupBestSql

  val nearDedupBestSql: String =
    "WITH RECURSIVE pairs AS (\n" +
      TextDedup.minhashLshSql.replace("ORDER BY doc_a, doc_b", "") +
    """
      |),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |lbl AS (
      |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS root
      |  FROM reach GROUP BY src),
      |q AS (
      |  SELECT doc_id, source,
      |    round(0.4 * (1.0 - len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))::DOUBLE
      |                        / len(string_split(text, ' ')))
      |        + 0.3 * (len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / n_chars)
      |        + 0.3 * least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0), 6) AS quality
      |  FROM documents),
      |cl AS (
      |  SELECT q.doc_id, q.source, q.quality, COALESCE(l.root, q.doc_id) AS cluster
      |  FROM q LEFT JOIN lbl l ON l.doc_id = q.doc_id),
      |r AS (
      |  SELECT source, quality,
      |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id ASC) AS rn
      |  FROM cl)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
      |  round(AVG(CASE WHEN rn = 1 THEN quality END), 6) AS avg_survivor_quality
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C13 Gopher-style rule battery (Rae et al. 2021, "Scaling Language
  // Models: ... Gopher", §A1.1 heuristics re-thresholded for this
  // corpus): word-count bounds, mean-word-length band, minimum stop-word
  // evidence, and a duplicate-word-fraction cap — the standard pre-filter
  // a training-data pipeline runs before any model-based scoring. Reports
  // per-source pass counts per rule plus the all-rules survivor count.
  // Mean word length uses (n_chars - wc + 1)/wc — exact, because text is
  // single-space joined and n_chars = len(text) (verified in FIXTURES).
  // 100 TB: pure map-side per-doc math + one partial-agg shuffle on
  // source; no UDFs, all codegen'd collection expressions.
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", split($"text", " "))
      .withColumn("wc", size($"toks"))
      .withColumn("mwl", round(($"n_chars" - $"wc" + 1).cast("double") / $"wc", 6))
      .withColumn("dupf", round(lit(1.0) - size(array_distinct($"toks")).cast("double") / $"wc", 6))
      .withColumn("nstop", size(filter($"toks",
        w => w === "the" || w === "a" || w === "of" || w === "to" || w === "and")))
      .withColumn("r_wc", $"wc" >= 20 && $"wc" <= 90)
      .withColumn("r_mwl", $"mwl" >= 4.0 && $"mwl" <= 5.0)
      .withColumn("r_stop", $"nstop" >= 2)
      .withColumn("r_dup", $"dupf" <= 0.5)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"r_wc".cast("long")).as("n_wc"),
        sum($"r_mwl".cast("long")).as("n_mwl"),
        sum($"r_stop".cast("long")).as("n_stop"),
        sum($"r_dup".cast("long")).as("n_dup"),
        sum(($"r_wc" && $"r_mwl" && $"r_stop" && $"r_dup").cast("long")).as("n_pass"))
      .orderBy($"source")
  }

  val gopherSql: String =
    """WITH t AS (
      |  SELECT source,
      |    len(string_split(text, ' ')) AS wc,
      |    round((n_chars - len(string_split(text, ' ')) + 1.0) / len(string_split(text, ' ')), 6) AS mwl,
      |    round(1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')), 6) AS dupf,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','to','and'))) AS nstop
      |  FROM documents),
      |r AS (
      |  SELECT source,
      |    CASE WHEN wc BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS r_wc,
      |    CASE WHEN mwl BETWEEN 4.0 AND 5.0 THEN 1 ELSE 0 END AS r_mwl,
      |    CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS r_stop,
      |    CASE WHEN dupf <= 0.5 THEN 1 ELSE 0 END AS r_dup
      |  FROM t)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(r_wc) AS BIGINT) AS n_wc,
      |  CAST(SUM(r_mwl) AS BIGINT) AS n_mwl,
      |  CAST(SUM(r_stop) AS BIGINT) AS n_stop,
      |  CAST(SUM(r_dup) AS BIGINT) AS n_dup,
      |  CAST(SUM(r_wc * r_mwl * r_stop * r_dup) AS BIGINT) AS n_pass
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // C14 DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): score every document
  // by the average unigram log-likelihood ratio between a target domain
  // (here lang = 'en') and the raw pool, with add-one smoothing — the
  // relational form of hashed-ngram importance weights. Top-25 docs by
  // score are the ones DSIR would resample first.
  // 100 TB: one explode + partial-agg shuffle builds the vocabulary;
  // token weights are a vocabulary-sized broadcast (bounded, not
  // corpus-sized), so the per-doc scoring join is map-side; final top-k
  // is a TakeOrdered, never a full sort.
  /** Full per-doc DSIR score frame (no top-k) — Round9Spec pins the
    * population contract on it: in-domain docs must average a higher
    * importance weight than out-of-domain docs.
    */
  private[graft] def dsirScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the exploded token relation feeds the vocabulary counts, the totals,
    // AND the final scoring join — cache for the one consuming action
    // instead of re-exploding the corpus three times (the L2 discipline)
    val toks = graft.ops.ScopedCache.untilConsumed(Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source", explode(split($"text", " ")).as("tok")))
    val counts = toks.groupBy($"tok").agg(
      count(lit(1)).as("c_pool"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("c_tgt"))
    val totals = counts.agg(
      sum($"c_pool").as("tp"), sum($"c_tgt").as("tt"), count(lit(1)).as("v"))
    val weights = counts.crossJoin(broadcast(totals))
      .select($"tok",
        (log(($"c_tgt" + lit(1.0)) / ($"tt" + $"v"))
          - log(($"c_pool" + lit(1.0)) / ($"tp" + $"v"))).as("w"))
    toks.join(broadcast(weights), Seq("tok"))
      .groupBy($"doc_id", $"lang", $"source")
      .agg(count(lit(1)).as("n_tok"), round(avg($"w"), 6).as("score"))
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dsirScored(spark, dir)
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(25)
  }

  val dsirSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (
      |  SELECT tok, COUNT(*) AS c_pool,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
      |  FROM toks GROUP BY tok),
      |tot AS (SELECT SUM(c_pool) AS tp, SUM(c_tgt) AS tt, COUNT(*) AS v FROM cnt),
      |w AS (
      |  SELECT tok, ln((c_tgt + 1.0) / (tt + v)) - ln((c_pool + 1.0) / (tp + v)) AS w
      |  FROM cnt, tot)
      |SELECT t.doc_id, t.lang, t.source, COUNT(*) AS n_tok, round(AVG(w.w), 6) AS score
      |FROM toks t JOIN w ON w.tok = t.tok
      |GROUP BY t.doc_id, t.lang, t.source
      |ORDER BY score DESC, t.doc_id ASC LIMIT 25""".stripMargin


  // ---------------------------------------------------------------------
  // C20 token-budget selection: keep the highest-quality documents whose
  // token counts fit a total budget (half the corpus here) — the "we can
  // afford N tokens, which documents?" cut every data recipe ends with.
  // Computed WITHOUT a corpus-wide sort/window, the T18 trick applied to
  // selection: quality is 6dp-rounded, so per-QUALITY-LEVEL token sums
  // aggregate first (bounded <= 10^6 rows); a cumulative pass over those
  // level rows finds which levels fit wholly and how many tokens remain
  // for the single BOUNDARY level, whose docs are then admitted in
  // doc_id order until the remainder is spent. Only the boundary level
  // ever needs a per-doc window, partitioned by its quality value — at
  // 100 TB that group can be salted/re-bucketed if one quality value is
  // hot; every other document is admitted or rejected map-side against
  // the broadcast level table. All token arithmetic is exact int64.
  def budgetCut(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    val per = qualityFrame(spark, dir)
      .select($"doc_id", $"source", $"n_tok".cast("long").as("n_tok"), $"quality")
    val byq = per.groupBy($"quality").agg(sum($"n_tok").as("qt"))
    val wAbove = Window.orderBy($"quality".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val levels = byq
      .withColumn("above", coalesce(sum($"qt").over(wAbove), lit(0L)))
      .crossJoin(broadcast(per.agg(expr("sum(n_tok) div 2").as("budget"))))
      .select($"quality", $"qt", $"above", $"budget")
    val wDoc = Window.partitionBy($"quality").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val kept = per.join(broadcast(levels), Seq("quality"))
      .withColumn("cum_doc", sum($"n_tok").over(wDoc))
      .filter(($"above" + $"qt" <= $"budget") ||
        ($"above" < $"budget" && $"above" + $"cum_doc" <= $"budget"))
    kept.groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_tok").as("kept_tokens"))
      .orderBy($"source")
  }

  val budgetCutSql: String =
    """WITH per AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    round(0.4 * (1.0 - len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a'))::DOUBLE
      |                        / len(string_split(text, ' ')))
      |        + 0.3 * (len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / n_chars)
      |        + 0.3 * least(len(string_split(text, ' '))::DOUBLE / 100.0, 1.0), 6) AS quality
      |  FROM documents),
      |levels AS (
      |  SELECT quality, SUM(n_tok) AS qt,
      |    COALESCE(SUM(SUM(n_tok)) OVER (ORDER BY quality DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above,
      |    (SELECT SUM(n_tok) // 2 FROM per) AS budget
      |  FROM per GROUP BY quality),
      |kcand AS (
      |  SELECT p.doc_id, p.source, p.n_tok, l.qt, l.above, l.budget,
      |    SUM(p.n_tok) OVER (PARTITION BY p.quality ORDER BY p.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_doc
      |  FROM per p JOIN levels l ON l.quality = p.quality),
      |kept AS (
      |  SELECT doc_id, source, n_tok FROM kcand
      |  WHERE (above + qt <= budget)
      |     OR (above < budget AND above + cum_doc <= budget))
      |SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
      |FROM kept GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_gopher"       -> (gopherRules _),
    "cur_dsir"         -> (dsirWeights _),
    "cur_neardedup_best" -> (nearDedupBest _),
    "cur_neardedup_mv" -> (nearDedupMv _),
    "cur_neardedup_compact" -> (nearDedupCompact _),
    "cur_weighted_sample" -> (weightedSample _),
    "cur_snapshot_diff" -> (snapshotDiffReport _),
    "cur_chunk"        -> (chunk _),
    "cur_mix"          -> (mix _),
    "cur_temp_mix"     -> (tempMix _),
    "cur_shuffle"      -> (shuffleShards _),
    "cur_redact"       -> (redact _),
    "cur_filter"       -> (filterCorpus _),
    "cur_split"        -> (splitCorpus _),
    "cur_leak_safe_split" -> (leakSafeSplit _),
    "cur_dedup_best"   -> (dedupBest _),
    "cur_dup_clusters" -> (dupClusters _),
    "cur_pack"         -> (pack _),
    "cur_sample"       -> (sampleCorpus _),
    "cur_pipeline"     -> (curationPipeline _),
    "cur_budget_cut"   -> (budgetCut _),
    "cur_decontam"     -> (decontaminate _))

  val oracles: Map[String, String] = Map(
    "cur_gopher"       -> gopherSql,
    "cur_dsir"         -> dsirSql,
    "cur_neardedup_best" -> nearDedupBestSql,
    "cur_neardedup_mv" -> nearDedupMvSql,
    "cur_neardedup_compact" -> nearDedupCompactSql,
    "cur_weighted_sample" -> weightedSampleSql,
    "cur_snapshot_diff" -> snapshotDiffSql,
    "cur_chunk"        -> chunkSql,
    "cur_mix"          -> mixSql,
    "cur_temp_mix"     -> tempMixSql,
    "cur_shuffle"      -> shuffleShardsSql,
    "cur_redact"       -> redactSql,
    "cur_filter"       -> filterSql,
    "cur_split"        -> splitSql,
    "cur_leak_safe_split" -> leakSafeSplitSql,
    "cur_dedup_best"   -> dedupBestSql,
    "cur_dup_clusters" -> dupClustersSql,
    "cur_pack"         -> packSql,
    "cur_sample"       -> sampleSql,
    "cur_pipeline"     -> curationPipelineSql,
    "cur_budget_cut"   -> budgetCutSql,
    "cur_decontam"     -> decontaminateSql)
}
