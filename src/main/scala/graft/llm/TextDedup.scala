package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{ChainIndex, Ckpt}

/** Deduplication operators for LLM training-data pipelines, over the driver
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Four variants, smallest to largest hammer:
  *  - exact:   content-hash groupBy + keep-first (the classic first pass)
  *  - n-gram:  exact Jaccard on word-3-gram shingle sets via inverted index
  *  - minhash: MinHash sketch + LSH band join (sub-quadratic candidate gen)
  *  - simhash: 32-bit SimHash + band-exact candidate gen + Hamming verify
  *
  * Determinism contract with the DuckDB oracle (the driver hash-compares
  * values): all hashing is md5 hex strings (identical lowercase hex in both
  * engines; MIN over them is plain lexicographic byte order), all thresholds
  * are integer comparisons, and every emitted DOUBLE is a ratio of exact
  * int64s (IEEE division is bit-identical given identical operands).
  *
  * 100 TB notes (per operator, see scaladoc below): candidate generation is
  * always bucketed (band join / inverted index), never an all-pairs cross
  * join; verification joins are restricted to the candidate set.
  */
object TextDedup {

  /** Word 3-gram shingle set, one row per (doc_id, distinct shingle),
    * built by the native one-pass sh ingler (functions/WordShingles.scala —
    * the built-in transform+concat_ws+array_distinct form allocated one
    * string per token position and dominated this family's map side).
    * Dedup-by-set happens inside the expression, so the Generate node
    * emits each shingle once.
    */
  private def shingles(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.ensure(docs.sparkSession)
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(3))).as("s"))
  }

  /** Shared oracle CTE prefix producing the same (doc_id, s) shingle rows. */
  private val shingleCte: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |  FROM tok)""".stripMargin

  // ---------------------------------------------------------------------
  // L1 exact dedup: md5 content hash, keep lowest doc_id per hash.
  // 100 TB: one shuffle on the 128-bit hash; group sizes are tiny (true
  // duplicates), so no skew. This is the shape exact dedup keeps at any SF.
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"h").orderBy($"doc_id".asc)
    Tables.documents(spark, dir)
      .withColumn("h", md5($"text"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"h").as("n_unique"),
        sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_dupes"),
        sum(when($"rn" === 1, $"n_chars")).as("survivor_chars"))
      .orderBy($"source")
  }

  val exactDedupSql: String =
    """WITH ranked AS (
      |  SELECT source, n_chars, md5(text) AS h,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
      |  FROM documents)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT h) AS n_unique,
      |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
      |  CAST(SUM(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS survivor_chars
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // Probe-side df-cap candidate generation, shared by L2 (Jaccard ≥ 0.8)
  // and L2c (containment ≥ 0.9). The inverted-index self-join's worst
  // case is a hot shingle (boilerplate header in every doc): its posting
  // list of length d contributes d²/2 join rows, turning the shuffle
  // quadratic in df. The fix is ASYMMETRIC: the probe side of the join
  // keeps only each doc's RAREST ⌈n/2⌉ shingles (rank by global df asc,
  // shingle asc — a total order), the build side stays the full index,
  // and candidates are unordered pairs meeting on any (probe, full)
  // shingle match. A hot shingle is by definition in nobody's rare half,
  // so its contribution drops from d²/2 to ~0 while the join still
  // shuffles linearly in index size.
  //
  // LOSSLESSNESS (why capping only the probe side misses no pair):
  // take a qualifying pair (A, B) and let A be either side, nₐ = |A|.
  //  - L2: J(A,B) ≥ 0.8 ⇒ i = |A∩B| ≥ 0.8·|A∪B| ≥ 0.8·nₐ. A's probe
  //    drops ≤ ⌊nₐ/2⌋ shingles, so ≥ 0.8nₐ − 0.5nₐ > 0 shared shingles
  //    survive in A's probe half; each matches B's UNCAPPED build entry,
  //    so (A,B) is generated. (Any cap fraction c < t works; c = 0.5
  //    leaves a wide margin at t = 0.8.)
  //  - L2c: containment ≥ 0.9 ⇒ i ≥ 0.9·min(nₐ,n_b); probing from the
  //    SMALLER doc, ≥ 0.9n − 0.5n > 0 shared shingles survive its probe
  //    half. Capping BOTH sides would break this (the larger doc's cap
  //    can swallow the whole intersection when sizes are skewed), which
  //    is exactly why the build side stays full.
  // The oracle stays the UNCAPPED SQL — the sf0.01 hash match is a
  // machine-checked instance of this proof, like L2b's.
  private[graft] def cappedCandidates(sh: DataFrame): DataFrame =
    cappedCandidates(sh, sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))

  /** As above with the per-doc size relation supplied by the caller —
    * L2/L2c also need it for the threshold test, so passing it in keeps
    * the pipeline at ONE size aggregation instead of two identical ones.
    */
  private[graft] def cappedCandidates(sh: DataFrame, szs: DataFrame): DataFrame = {
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("s").asc)
    val probe = sh.join(dfreq, Seq("s"))
      .join(szs, Seq("doc_id"))
      .withColumn("rk", row_number().over(wOrd))
      .filter(col("rk") <= expr("(n + 1) div 2"))
      .select(col("doc_id"), col("s"))
    probe.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("da"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("db"))
      .distinct()
  }

  /** Full-set intersection counts for a candidate pair set, with both
    * set sizes riding along: (da, db, i, na, nb). Verifies against
    * per-doc shingle ARRAYS (`docsets`: doc_id, set) instead of
    * re-joining the shingle table twice — the old form shuffled
    * shingle-level rows through two joins (on doc_id, then on
    * (doc_id, s)); this form joins the candidate list against DOC-level
    * rows twice and computes each pair's exact intersection with one
    * hash-set array_intersect inside the row (shingles are distinct per
    * doc by construction, so |array_intersect| IS |A∩B|). Cost tracks
    * candidate count × doc size — linear in output, and the heavy
    * shingle relation never re-shuffles. (The round-10 verdict's
    * verify-join tightening: isolated two-JVM A/B at sf0.1 measures
    * L2 at 3.8 s and L2c at 2.8 s with this form, vs 5.8 / 4.1 s in
    * the r10 suite with the double shingle re-join — hashes unchanged.)
    */
  private def verifiedIntersections(docsets: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(docsets.select(col("doc_id").as("da"), col("set").as("sa")), Seq("da"))
      .join(docsets.select(col("doc_id").as("db"), col("set").as("sb")), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))

  // ---------------------------------------------------------------------
  // L2 n-gram Jaccard dedup via inverted index: candidate pairs from the
  // df-capped probe join above (lossless — see cappedCandidates), exact
  // intersections re-counted over the full sets, then exact Jaccard
  // >= 0.8 as the integer test 5*|A∩B| >= 4*|A∪B|.
  // 100 TB: the candidate join shuffles on the shingle with hot shingles
  // capped out of the probe side, the verify join shuffles on candidate
  // doc ids — both linear in index + output size, never quadratic in df.
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFrom(spark, Tables.documents(spark, dir))

  private[graft] def ngramJaccardFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // the shingle relation feeds the candidate join's index/probe sides —
    // cache instead of recomputing the explode per consumer
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(docs))
    // per-doc shingle sets: ONE aggregation feeding the cap's size
    // column, the verify arrays AND the output sizes (replaces the old
    // separate size agg + two post-verify size joins)
    val ds = graft.ops.ScopedCache.untilConsumed(
      sh.groupBy($"doc_id").agg(collect_list($"s").as("set")))
    val szs = ds.select($"doc_id", size($"set").cast("long").as("n"))
    verifiedIntersections(ds, cappedCandidates(sh, szs))
      .filter($"i" * 5 >= ($"na" + $"nb" - $"i") * 4)
      .select(
        $"da".as("doc_a"), $"db".as("doc_b"),
        $"i".as("n_common"), $"na".as("n_a"), $"nb".as("n_b"),
        ($"i".cast("double") / ($"na" + $"nb" - $"i")).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val ngramJaccardSql: String =
    shingleCte + """,
      |pairs AS (
      |  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
      |SELECT da AS doc_a, db AS doc_b, i AS n_common, sa.n AS n_a, sb.n AS n_b,
      |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM pairs JOIN szs sa ON sa.doc_id = da JOIN szs sb ON sb.doc_id = db
      |WHERE i * 5 >= (sa.n + sb.n - i) * 4
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // L2c containment join (asymmetric set similarity): flags pairs where
  // the SMALLER shingle set is nearly a subset of the other —
  // |A∩B| / min(|A|,|B|) >= 0.9 — the quote/excerpt/truncation detector
  // symmetric Jaccard misses (a 50-shingle quote inside a 5000-shingle
  // page has Jaccard ~0.01 but containment ~1.0). Candidate generation
  // is the shared df-capped probe join (see cappedCandidates — the
  // asymmetric probe/build split is exactly what keeps the cap lossless
  // for min-side containment); the threshold is the exact integer test
  // 10*i >= 9*min(na, nb), and the reported score is one IEEE division.
  // 100 TB: same linear-in-index-and-output cost shape as L2; a hot
  // boilerplate shingle generates no candidates because it is in no
  // doc's rare probe half.
  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentFrom(spark, Tables.documents(spark, dir))

  private[graft] def containmentFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(docs))
    val ds = graft.ops.ScopedCache.untilConsumed(
      sh.groupBy($"doc_id").agg(collect_list($"s").as("set")))
    val szs = ds.select($"doc_id", size($"set").cast("long").as("n"))
    verifiedIntersections(ds, cappedCandidates(sh, szs))
      .filter($"i" * 10 >= least($"na", $"nb") * 9)
      .select(
        $"da".as("doc_a"), $"db".as("doc_b"),
        $"i".as("n_common"), $"na".as("n_a"), $"nb".as("n_b"),
        ($"i".cast("double") / least($"na", $"nb")).as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  val containmentSql: String =
    shingleCte + """,
      |pairs AS (
      |  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
      |SELECT da AS doc_a, db AS doc_b, i AS n_common, sa.n AS n_a, sb.n AS n_b,
      |  CAST(i AS DOUBLE) / least(sa.n, sb.n) AS containment
      |FROM pairs JOIN szs sa ON sa.doc_id = da JOIN szs sb ON sb.doc_id = db
      |WHERE i * 10 >= least(sa.n, sb.n) * 9
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // L2b prefix-filtered exact Jaccard (the PPJoin/All-Pairs family): same
  // answer as L2, sub-linear candidate generation. Under any one total
  // order of the vocabulary, two docs with Jaccard >= t MUST share a
  // shingle among each doc's first (n - ceil(t*n) + 1) shingles: a valid
  // partner overlaps >= ceil(t*n) shingles, which cannot fit in the
  // remaining suffix. Ordering by (df asc, shingle asc) puts the RAREST
  // shingles in the prefix, so the inverted index only holds ~(1-t) of
  // each doc and high-df shingles generate no candidates. The verify join
  // still counts intersections over the FULL sets — results are identical
  // to L2 (the oracle IS L2's SQL; the hash match proves losslessness).
  // 100 TB: this is how exact-threshold set-similarity self-join stays
  // feasible — index size and candidate count shrink with (1-t) while L2's
  // full inverted index grows with corpus df².
  def ppjoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(Tables.documents(spark, dir)))
    val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy($"doc_id").orderBy($"df".asc, $"s".asc)
    val prefix = sh.join(dfreq, Seq("s"))
      .join(szs, Seq("doc_id"))
      .withColumn("rk", row_number().over(wOrd))
      .filter($"rk" <= expr("n - CAST(ceil(0.8 * n) AS BIGINT) + 1"))
      .select($"doc_id", $"s")
    val cand = prefix.as("x").join(prefix.as("y"),
        $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("da"), $"y.doc_id".as("db")).distinct()
    val inter = cand
      .join(sh.as("xx"), $"xx.doc_id" === $"da")
      .join(sh.as("yy"), $"yy.doc_id" === $"db" && $"yy.s" === $"xx.s")
      .groupBy($"da", $"db").agg(count(lit(1)).as("i"))
    inter
      .join(szs.as("sa"), $"sa.doc_id" === $"da")
      .join(szs.as("sb"), $"sb.doc_id" === $"db")
      .filter($"i" * 5 >= ($"sa.n" + $"sb.n" - $"i") * 4)
      .select(
        $"da".as("doc_a"), $"db".as("doc_b"),
        $"i".as("n_common"), $"sa.n".as("n_a"), $"sb.n".as("n_b"),
        ($"i".cast("double") / ($"sa.n" + $"sb.n" - $"i")).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------------
  // L3 MinHash + LSH: 12 permutations, 6 bands x 2 rows. Each shingle is
  // md5-hashed ONCE (base value h mod p); the 12 permutations are the
  // linear family h_i = (a_i*h + b_i) mod p with a_i = 2i+3, b_i = 5i+7 —
  // the standard universal-hashing minhash construction, 12x less hashing
  // than an md5-per-seed scheme (operands stay < 1e18, no int64 overflow;
  // identical integer arithmetic in DuckDB). A pair collides in a band
  // with prob jaccard^2; across 6 bands recall at j=0.8 is ~0.99.
  // Candidates = docs sharing any full band signature (groupable
  // equi-join, NOT all-pairs); verified with exact Jaccard >= 0.5
  // (integer test 2*i >= union).
  // 100 TB: the band join shuffles on (band, signature) — bucket sizes stay
  // bounded because identical signatures imply near-identical docs; the
  // minhash itself is a map-side groupBy(doc, seed) aggregation.
  /** (doc_id, band, sig) MinHash LSH entries — 12 md5-seeded permutation
    * minima in ONE aggregation pass, 6 bands of 2 — shared by L3 and the
    * L8 incremental form. (All 12 minima in one groupBy: each
    * permutation's value is an expression over the same base hash, so the
    * groupBy(doc) carries 12 min() columns instead of exploding every
    * (doc, shingle) row 12× and shuffling on (doc, seed) — the same
    * one-pass-votes lesson as simhash, SURVEY §7.3. The mod makes each
    * permutation non-monotone in h, so the 12 mins are genuinely
    * independent aggregates.)
    */
  private def minhashBandSigs(sh: DataFrame): DataFrame = bandSigs(minhashPerDoc(sh))

  /** Per document, in ONE groupBy(doc_id): the shingle-set size `n` and
    * the 12 permutation minima `m0`..`m11`. A consumer that selects only
    * the minima gets the count pruned from the aggregate.
    */
  private def minhashPerDoc(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val minCols = (0 until 12).map(sd =>
      min(expr(s"((${2 * sd + 3}) * h + ${5 * sd + 7}) % 1000000007")).as(s"m$sd"))
    sh.withColumn("h", expr("CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT) % 1000000007"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), minCols: _*)
  }

  /** (doc_id, band, sig, `carry`...) from [[minhashPerDoc]]'s minima, 6
    * bands of 2; `carry` names per-doc columns kept on every band row.
    */
  private def bandSigs(perDoc: DataFrame, carry: String*): DataFrame =
    perDoc.select(col("doc_id") +:
      posexplode(array((0 until 6).map(b =>
        concat_ws("|", col(s"m${2 * b}"), col(s"m${2 * b + 1}"))): _*)).as(Seq("band", "sig")) +:
      carry.map(col): _*)

  /** The L3 pair derivation WITHOUT the presentation sort — the refresh
    * body of the pair-graph MV (which re-clusters on doc_a itself) and
    * the internal form [[minhashLsh]] orders for its registered output.
    */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // consumed by the minhash, the size agg and the 2-scan verify join
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(Tables.documents(spark, dir)))
    val sig = minhashBandSigs(sh)
    val cand = sig.as("a").join(sig.as("b"),
        $"a.band" === $"b.band" && $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db")).distinct()
    val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    verifiedPairs(cand, sh, sh, szs, szs)
  }

  /** Exact-Jaccard verification of a candidate (da, db) list where da rows
    * come from side A and db rows from side B: intersect the two shingle
    * frames, join the two size frames, keep 2i ≥ union (Jaccard ≥ 0.5),
    * and emit in the canonical doc_a < doc_b orientation with n_a/n_b
    * following the swap. With A = B this is the L3 tail; with A = an
    * incoming batch and B = the resident corpus it is the append probe's
    * verify — candidates may arrive in either id order there.
    */
  private def verifiedPairs(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                            szA: DataFrame, szB: DataFrame): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    intersections(cand, Seq($"da", $"db"), shA, shB)
      .join(szA.as("sa"), $"sa.doc_id" === $"da")
      .join(szB.as("sb"), $"sb.doc_id" === $"db")
      .select($"da", $"db", $"i", $"sa.n".as("na"), $"sb.n".as("nb"))
      .transform(jaccardPairs)
  }

  /** (`keys`, i): per candidate, the number of shingles its da side (in
    * `shA`) shares with its db side (in `shB`).
    */
  private def intersections(cand: DataFrame, keys: Seq[Column],
                            shA: DataFrame, shB: DataFrame): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    cand
      .join(shA.as("x"), $"x.doc_id" === $"da")
      .join(shB.as("y"), $"y.doc_id" === $"db" && $"y.s" === $"x.s")
      .groupBy(keys: _*).agg(count(lit(1)).as("i"))
  }

  /** The Jaccard ≥ 0.5 test and output shape over (da, db, i, na, nb). */
  private def jaccardPairs(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter($"i" * 2 >= $"na" + $"nb" - $"i")
      .select(
        least($"da", $"db").as("doc_a"), greatest($"da", $"db").as("doc_b"),
        $"i".as("n_common"),
        when($"da" < $"db", $"na").otherwise($"nb").as("n_a"),
        when($"da" < $"db", $"nb").otherwise($"na").as("n_b"),
        ($"i".cast("double") / ($"na" + $"nb" - $"i")).as("jaccard"))
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashPairs(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------------
  // Near-dup pair-graph MV — the G0/E16 derive-once-read-many pattern
  // applied to the MinHash-LSH pair graph. THREE suite consumers need the
  // same expensive artifact (C3 dup clusters, C12 near-dup keep-best, C18
  // leakage-safe split: each re-derived LSH pairs + connected components
  // from raw text per invocation — the suite's top fixed cost, 22 s/query
  // driver-side at sf0.1), so the pairs AND the component labels are
  // published once per (process, dataset) and every consumer reads the
  // doc_id-clustered parquet.
  //
  // Path discipline = the backbone MV's: keyed by a hash of the CANONICAL
  // dataset path plus a per-process nonce (concurrent runs never clobber
  // each other), deleted by a shutdown hook. Readers in THIS process are
  // memoized rather than switch-gated (the backboneEdges indirection):
  // the backbone's switch models an opt-in production-DAG mode for
  // kernels that are ALSO meaningful standalone, while the pair graph has
  // no standalone consumer — every query that touches it wants the same
  // shared artifact, exactly like E20's NSW adjacency. The honest build
  // cost stays bench-visible through cur_neardedup_mv, which REFRESHES
  // unconditionally before reading (the emb_ivf_mv convention).
  //
  // 100 TB: the refresh is the one corpus-sized job (banded LSH + one
  // union-find CC pass); each consumer then pays a labels-sized
  // (pair-graph-sized, ≪ corpus) scan + one join. A daily-crawl deployment APPENDS instead
  // of refreshing: route the new batch through the L8 asymmetric probe
  // (incrDedup's incoming-probes-existing band join) to get batch×corpus
  // pairs, union them into /pairs, and re-run CC seeded from the stored
  // labels — per-day cost is batch-sized, the full refresh becomes a
  // periodic compaction (the S12 story).
  /** The pair-graph MV's chain layers. `sigs` ((band, sig)-clustered —
    * the append probe's join key) and `sizes` are the signature index and
    * set sizes appendPairGraphMv probes, so an append never re-shingles
    * the resident corpus (the L8 asymmetric-index discipline); `pairs`
    * (doc_a-clustered) is the verified pair layer; `batchdocs` archives
    * appended batch text (absent until the first append — later appends
    * re-shingle resident candidate PARTNERS from corpus ∪ batchdocs, and
    * a prior batch's docs are not in the corpus table); `labels` (doc_id,
    * component) is rewritten in full by every mutation. Resident ids =
    * sizes ∪ batchdocs: a <3-word appended doc never shingles and so has
    * NO sizes row — sizes alone would let a replay of such a doc through.
    * Edge left open deliberately: a BASE-corpus <3-word doc re-ingested
    * as a "new" batch doc is not caught (the corpus table is not
    * scanned), but it is harmless — a shingle-less doc has no sigs, is
    * never a candidate partner, and its duplicate batchdocs row can never
    * reach the verify join.
    */
  private[graft] val PairGraph = new ChainIndex.Family("graft_pairgraph_mv", "pair-graph MV",
    Seq(
      ChainIndex.Layer("sigs", ChainIndex.AppendShaped, clusterBy = Seq("band", "sig")),
      ChainIndex.Layer("sizes", ChainIndex.AppendShaped, clusterBy = Seq("doc_id")),
      ChainIndex.Layer("pairs", ChainIndex.AppendShaped,
        clusterBy = Seq("doc_a"), sortBy = Seq("doc_a", "doc_b")),
      ChainIndex.Layer("batchdocs", ChainIndex.AppendShaped, clusterBy = Seq("doc_id"), optional = true),
      ChainIndex.Layer("labels", ChainIndex.RewriteShaped, clusterBy = Seq("doc_id"))),
    Some(ChainIndex.ResidentIds("doc_id", Seq("sizes", "batchdocs"))))

  private[graft] def pairGraphRoot(dir: String): String = PairGraph.root(dir)

  /** Derive the pair graph FRESH (never reading the MV's own previous
    * output) and publish every layer as one full version: component =
    * min doc_id reachable, the algorithm-independent labeling the C3
    * oracle certifies. Returns the root. Every mutation (refresh, append,
    * compaction, the build-on-first-read) serializes on the family's
    * writer monitor and publishes through the S6v chain protocol, so
    * readers only ever observe complete committed versions, and a crash
    * anywhere inside a mutation leaves the MV at its previous committed
    * version.
    */
  private[graft] def refreshPairGraphMv(spark: SparkSession, dir: String): String =
    PairGraph.build(spark, dir) { v =>
      import spark.implicits._
      // The corpus is shingled once, on every core: a one-file corpus
      // scans as one task, so the doc_id exchange the per-doc aggregation
      // needs anyway moves ahead of the shingle explode. The shingle frame
      // is cached for the verify join's two sides; being doc_id-partitioned,
      // the aggregation and the join's first side read it with no further
      // exchange.
      val sh = shingles(Tables.documents(spark, dir).select($"doc_id", $"text")
        .repartition($"doc_id")).cache()
      try Ckpt.scope { ck =>
        // set sizes and the 12 minima in ONE groupBy, materialized by ONE
        // job (lazy checkpoint + count) that also fills the shingle cache:
        // sigs, sizes, the bloom and the candidates all read its blocks, and
        // the verify's broadcast builds no longer each shingle the corpus
        val perDoc = ck(minhashPerDoc(sh), eager = false)
        val nDocs = perDoc.count()
        val szs = perDoc.select($"doc_id", $"n")
        // sig stays a lazy projection of the checkpoint: the candidate
        // self-join's two sides then share one ReusedExchange (caching
        // the shingle-derived sig frame instead doubled the refresh,
        // 4.4 s → 8.8 s at sf0.1, by severing that reuse). Its band rows
        // carry the set size, so candidates arrive with both sizes and
        // the verify needs no size join (two broadcast jobs fewer).
        val sig = bandSigs(perDoc, "n")
        val cand = sig.as("a").join(sig.as("b"),
            $"a.band" === $"b.band" && $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("da"), $"b.doc_id".as("db"), $"a.n".as("na"), $"b.n".as("nb"))
          .distinct()
        // The verified pair set is the critical path (it feeds CC, the
        // refresh's longest chain), so it is materialized next, alone on
        // the cores, as an eager checkpoint: CC plans against a
        // LogicalRDD leaf, never the shingle pipeline.
        // Then CC→labels (its pair checkpoint, then one union-find
        // pass inside the labels write), the pairs write and the three
        // per-doc layers run in parallel on the driver pool (guide §2.6).
        // The writes fill the cores the CC's single task leaves idle.
        val vp = ck(intersections(cand, Seq($"da", $"db", $"na", $"nb"), sh, sh)
          .transform(jaccardPairs))
        graft.ops.Par.all(
          () => v.write("labels", graft.ops.Graph.connectedComponents(vp.select($"doc_a", $"doc_b"))
            .select($"node".as("doc_id"), $"component")),
          () => v.write("pairs", vp),
          () => v.write("sigs", sig.drop("n")),
          () => v.write("sizes", szs),
          // a fresh refresh starts a new chain, so its resident ids are
          // exactly the shingled ones (no batchdocs layer yet); the
          // count sizes the bloom
          () => v.bloom(szs, Some(nDocs)))
      } finally { sh.unpersist(false); () }
    }

  /** The verified near-dup pair layer across the current chain (full
    * refresh + every committed append batch) — the artifact C12's oracle
    * certifies; layer-level reader for consumers and specs.
    */
  private[graft] def pairGraphPairs(spark: SparkSession, dir: String): DataFrame =
    PairGraph.read(spark, ChainIndex.chainDirs(spark, pairGraphRoot(dir)), "pairs").get

  /** Incremental batch ingest into a pair-graph MV BUILT in this process
    * — the per-day path of the 100 TB daily-crawl shape (the full refresh
    * becomes a periodic compaction, the S12 story). Per-batch cost is
    * batch-bounded everywhere:
    *  - the batch is shingled and signed once (batch-sized);
    *  - candidates = batch probes the STORED (band, sig) index (the L8
    *    asymmetric join — never resident×resident) plus the batch's own
    *    band self-join (batch²-bounded, and batches are small);
    *  - exact-Jaccard verify re-shingles only the CANDIDATE PARTNERS of
    *    the resident side (a semi-join-pruned corpus scan; batch side
    *    reuses its cached shingles), with resident set sizes read from
    *    the stored /sizes — no corpus-wide recompute;
    *  - relabeling runs CC over the ROOT graph of the batch's new pairs,
    *    so its union-find pass is merge-frontier-sized. Labels stay
    *    exactly "min doc_id reachable" — identical to a full rebuild
    *    (PairGraphMvSpec pins append == rebuild on a split corpus).
    * The batch frame must carry (doc_id, text) with doc_ids disjoint from
    * the resident corpus (CDC-style ingest contract). The dup guard,
    * idempotent (streaming-sink) mode, empty-batch and auto-compaction
    * contract is [[graft.ops.ChainIndex.Family.append]]'s; a resident
    * doc_id re-ingested would land duplicate sizes and sigs rows,
    * multiplying rows through the verify size-join. Auto-compaction
    * operationalizes the trigger the chain-append measurements in
    * SURVEY.md price (each retained delta adds one small scan to every
    * chain read).
    */
  private[graft] def appendPairGraphMv(spark: SparkSession, dir: String,
                                       batch: DataFrame,
                                       compactAfterDeltas: Int = 0,
                                       idempotent: Boolean = false): String = {
    val root = pairGraphRoot(dir)
    PairGraph.requireBuilt(root, "appendPairGraphMv", dir)
    PairGraph.append(spark, root, batch.select(col("doc_id"), col("text")), "appendPairGraphMv",
      compactAfterDeltas, idempotent)(pairGraphDelta(spark, dir))
    root
  }

  /** One append's delta version: the batch's sigs/sizes/pairs/batchdocs
    * increments, its bloom, and the full relabel. */
  private def pairGraphDelta(spark: SparkSession, dir: String)(
      batch: DataFrame, dirs: Seq[String], v: ChainIndex.Version): Unit = {
    import spark.implicits._
    val bsh = shingles(batch).cache()
    try Ckpt.scope { ck =>
      val bsig = minhashBandSigs(bsh)
      val bszs = bsh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val esig = PairGraph.read(spark, dirs, "sigs").get
      val eszs = PairGraph.read(spark, dirs, "sizes").get
      // asymmetric probe: batch → resident index (da = batch, db = resident)
      val candBE = bsig.as("a").join(esig.as("b"),
          $"a.band" === $"b.band" && $"a.sig" === $"b.sig")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db")).distinct()
      // batch-internal near-dups (a crawl batch can carry its own dups)
      val candBB = bsig.as("a").join(bsig.as("b"),
          $"a.band" === $"b.band" && $"a.sig" === $"b.sig" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db")).distinct()
      // resident shingles only for candidate partners (semi-join prune).
      // The resident side is corpus ∪ PREVIOUSLY APPENDED batches — the
      // corpus table alone would silently drop any cross-batch pair on
      // the second and later appends (partner shingles would be absent,
      // the verify intersection empty, the component merge lost)
      val corpus = Tables.documents(spark, dir).select($"doc_id", $"text")
      val residentDocs =
        PairGraph.read(spark, dirs, "batchdocs").fold(corpus)(corpus.unionByName(_))
      val partners = candBE.select($"db".as("doc_id")).distinct()
      val esh = shingles(
        residentDocs.join(partners, Seq("doc_id"), "left_semi"))
      // consumed by the pairs write AND the relabel CC
      val newPairs = ck(verifiedPairs(candBE, bsh, esh, bszs, eszs)
        .unionByName(verifiedPairs(candBB, bsh, bsh, bszs, bszs)))
      // relabel input (round-17, guide §2.3 shuffle-fewer-bytes applied
      // to the CC input): run CC over the ROOT graph only — each new
      // pair mapped to its endpoints' old component roots (self, when
      // unlabeled) — then re-point members with ONE join. Equivalence:
      // a member's only connectivity is through its root, so root-level
      // reachability IS full reachability; an old root is its
      // component's min doc_id, so min-over-roots = min doc of the
      // merged component, and an unmerged root's label is itself (the
      // left-join coalesce). CC's input shrinks from (all labeled
      // docs + pairs) to (touched roots + batch docs); root self-loops
      // (a pair internal to one old component) add no connectivity and
      // are dropped before the loop.
      val oldLbl = PairGraph.read(spark, dirs, "labels").get
      // six INDEPENDENT write chains (labels' CC reads the newPairs
      // checkpoint, not the written pairs file) — overlapped on the
      // driver pool, wall = max(layer) not Σ(layer) (guide §2.6)
      graft.ops.Par.all(
        () => v.write("pairs", newPairs),
        () => v.write("sigs", bsig),
        () => v.write("sizes", bszs),
        () => v.write("batchdocs", batch),
        () => {
          val np = newPairs.select($"doc_a", $"doc_b")
          val rp = np
            .join(oldLbl.select($"doc_id".as("doc_a"), $"component".as("ra")),
              Seq("doc_a"), "left")
            .join(oldLbl.select($"doc_id".as("doc_b"), $"component".as("rb")),
              Seq("doc_b"), "left")
            .select(coalesce($"ra", $"doc_a").as("u"), coalesce($"rb", $"doc_b").as("v"))
            .filter($"u" =!= $"v")
          val merged = graft.ops.Graph.connectedComponents(rp)
            .select($"node".as("root"), $"component".as("mc"))
          // re-point: old members via their root (left join — unmerged
          // components keep their label); docs NEW to the label set are
          // exactly merged's nodes absent from the old labels (every
          // new-pair doc reaches CC as its own root, and old roots all
          // have a labels row), so one anti-join recovers them
          val relabeled = oldLbl.select($"doc_id", $"component".as("root"))
            .join(merged, Seq("root"), "left")
            .select($"doc_id", coalesce($"mc", $"root").as("component"))
          val newDocLbl = merged.select($"root".as("doc_id"), $"mc".as("component"))
            .join(oldLbl.select($"doc_id"), Seq("doc_id"), "left_anti")
          v.write("labels", relabeled.unionByName(newDocLbl))
        },
        // bloom over ALL batch ids (matching the batchdocs layer, so a
        // replayed <3-word doc is flagged too — the short-doc hole)
        () => v.bloom(batch))
    } finally { bsh.unpersist(false); () }
  }

  /** Compact the MV's chain into ONE full version — a pure artifact
    * rewrite, NO re-derivation: read-equivalent to the chain it replaces,
    * including cross-batch pair verification (batchdocs rides along).
    * Unlike a [[refreshPairGraphMv]] (which re-shingles and re-verifies
    * the whole corpus), compaction costs one artifact read+write. Needs a
    * build in this process.
    */
  private[graft] def compactPairGraphMv(spark: SparkSession, dir: String): String = {
    val root = pairGraphRoot(dir)
    PairGraph.requireBuilt(root, "compactPairGraphMv", dir)
    PairGraph.compact(spark, root)
    root
  }

  /** Component labels (doc_id, component) of the near-dup pair graph,
    * build-once per (process, dataset): the first consumer pays the
    * refresh, every later call reads the clustered artifact. Contract:
    * the dataset under `dir` is immutable for the process lifetime (true
    * for the driver's testdata and every suite path); a pipeline that
    * mutates its corpus calls [[refreshPairGraphMv]] at the batch
    * boundary instead.
    */
  private[graft] def componentLabels(spark: SparkSession, dir: String): DataFrame = {
    val root = pairGraphRoot(dir)
    PairGraph.ensureBuilt(root) { refreshPairGraphMv(spark, dir); () }
    // labels are rewrite-shaped: read from the newest committed version
    PairGraph.read(spark, ChainIndex.chainDirs(spark, root), "labels").get
  }

  val minhashLshSql: String =
    shingleCte + """,
      |hb AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform([1,2,3,4,5,6,7,8], i ->
      |      CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1 AS BIGINT)
      |        * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) % 1000000007 AS h
      |  FROM sh),
      |hv AS (
      |  SELECT doc_id, seed, ((2 * seed + 3) * h + 5 * seed + 7) % 1000000007 AS hvv
      |  FROM hb CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed)),
      |mh AS (SELECT doc_id, seed, MIN(hvv) AS mh FROM hv GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id, seed // 2 AS band,
      |    CAST(MIN(CASE WHEN seed % 2 = 0 THEN mh END) AS VARCHAR) || '|' ||
      |    CAST(MIN(CASE WHEN seed % 2 = 1 THEN mh END) AS VARCHAR) AS sig
      |  FROM mh GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM sig a JOIN sig b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT c.da, c.db, COUNT(*) AS i
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.da
      |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
      |  GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b, i AS n_common, sa.n AS n_a, sb.n AS n_b,
      |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter JOIN szs sa ON sa.doc_id = da JOIN szs sb ON sb.doc_id = db
      |WHERE i * 2 >= sa.n + sb.n - i
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // L8 incremental dedup: dedup an INCOMING batch against the EXISTING
  // corpus — the daily-crawl shape, where re-pairing existing×existing
  // every day would be quadratic waste. The band join is ASYMMETRIC:
  // incoming signatures probe the existing-side index only (no
  // incoming×incoming, no existing×existing pairs), verify is exact
  // Jaccard ≥ 0.5 over full shingle sets, and the report is the ingest
  // decision per source: how many incoming docs are near-dups of the
  // corpus vs genuinely new (with the chars the new ones contribute).
  // The registered query derives the split deterministically from the C1
  // bucket formula (existing = buckets 0–79, incoming = 80–99).
  // 100 TB: the existing index (doc_id, band, sig) is a stored table
  // maintained incrementally (append the batch's signatures after each
  // run — minima are stable per doc); per-day cost is |batch| signature
  // scans + a band-bucketed join against the index, NEVER corpus².
  def incrDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket", expr(graft.ops.ScalarFuncs.splitBucketExpr))
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(docs))
    val side = docs.select($"doc_id", $"source", $"n_chars", ($"bucket" >= 80).as("incoming"))
    val sig = minhashBandSigs(sh).join(side.select($"doc_id", $"incoming"), Seq("doc_id"))
    val cand = sig.filter($"incoming").as("i")
      .join(sig.filter(!$"incoming").as("e"),
        $"i.band" === $"e.band" && $"i.sig" === $"e.sig")
      .select($"i.doc_id".as("di"), $"e.doc_id".as("de")).distinct()
    val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val dupIncoming = cand
      .join(sh.as("x"), $"x.doc_id" === $"di")
      .join(sh.as("y"), $"y.doc_id" === $"de" && $"y.s" === $"x.s")
      .groupBy($"di", $"de").agg(count(lit(1)).as("i"))
      .join(szs.as("sa"), $"sa.doc_id" === $"di")
      .join(szs.as("sb"), $"sb.doc_id" === $"de")
      .filter($"i" * 2 >= $"sa.n" + $"sb.n" - $"i")
      .select($"di").distinct()
    side.filter($"incoming")
      .join(dupIncoming.withColumn("dup", lit(true)), $"doc_id" === $"di", "left")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_incoming"),
        sum(when($"dup", 1L).otherwise(0L)).as("n_dup"),
        sum(when($"dup".isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when($"dup".isNull, $"n_chars")).as("new_chars"))
      .orderBy($"source")
  }

  val incrDedupSql: String =
    shingleCte + s""",
      |side AS (
      |  SELECT doc_id, source, n_chars,
      |    (${graft.ops.ScalarFuncs.splitBucketSql}) >= 80 AS incoming
      |  FROM documents),
      |hb AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform([1,2,3,4,5,6,7,8], i ->
      |      CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1 AS BIGINT)
      |        * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT) % 1000000007 AS h
      |  FROM sh),
      |hv AS (
      |  SELECT doc_id, seed, ((2 * seed + 3) * h + 5 * seed + 7) % 1000000007 AS hvv
      |  FROM hb CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed)),
      |mh AS (SELECT doc_id, seed, MIN(hvv) AS mh FROM hv GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id, seed // 2 AS band,
      |    CAST(MIN(CASE WHEN seed % 2 = 0 THEN mh END) AS VARCHAR) || '|' ||
      |    CAST(MIN(CASE WHEN seed % 2 = 1 THEN mh END) AS VARCHAR) AS sig
      |  FROM mh GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT i.doc_id AS di, e.doc_id AS de
      |  FROM sig i JOIN side si ON si.doc_id = i.doc_id AND si.incoming
      |  JOIN sig e ON e.band = i.band AND e.sig = i.sig
      |  JOIN side se ON se.doc_id = e.doc_id AND NOT se.incoming),
      |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |dup AS (
      |  SELECT DISTINCT p.di FROM (
      |    SELECT c.di, c.de, COUNT(*) AS i
      |    FROM cand c
      |    JOIN sh x ON x.doc_id = c.di
      |    JOIN sh y ON y.doc_id = c.de AND y.s = x.s
      |    GROUP BY 1, 2) p
      |  JOIN szs sa ON sa.doc_id = p.di
      |  JOIN szs sb ON sb.doc_id = p.de
      |  WHERE p.i * 2 >= sa.n + sb.n - p.i)
      |SELECT s.source,
      |  COUNT(*) AS n_incoming,
      |  CAST(SUM(CASE WHEN d.di IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN d.di IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN d.di IS NULL THEN s.n_chars END) AS BIGINT) AS new_chars
      |FROM side s LEFT JOIN dup d ON d.di = s.doc_id
      |WHERE s.incoming
      |GROUP BY s.source ORDER BY s.source""".stripMargin

  // ---------------------------------------------------------------------
  // L4 SimHash: 32-bit signature over distinct unigrams. Each token
  // contributes ±1 per bit position (bit = that position of md5(token));
  // signature bit = sign of the sum. The signature lives in ONE int64, so
  // banding is a bit-shift and the Hamming verify is a single codegen'd
  // bit_count(xor) per candidate pair (the original 32-rows-per-pair
  // explode was a 68 s hotspot at sf0.1: this corpus's shared vocabulary
  // makes signatures cluster, so the candidate set is large by nature).
  // Candidates: exact match on any of 4 8-bit bands (pigeonhole: catches
  // ALL pairs with Hamming distance <= 3 regardless of chunking split);
  // verified with true Hamming <= 3.
  // 100 TB: the signature is two map-side aggregations per doc; candidate
  // gen is an equi-join on (band, chunk) — same bucketed shape as LSH.
  // Known skew hazard: a near-duplicate-heavy corpus concentrates chunk
  // buckets; AQE skew-join splitting (or a df cap per bucket) is the
  // mitigation at scale.
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the registered L4 REPORT totally orders the pair listing for the
    // oracle hash; the pair STREAM itself (simhashPairs) carries no sort
    // so the fused clustering form below never pays it
    simhashPairs(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  /** (doc_id, sig) 32-bit simhash signatures, shared by the pair listing
    * and the signature-compressed cluster form. Bit b of the signature
    * input = bit (b%4) of hex digit (b/4) of md5(tok) — exactly the
    * integer formed by reading the first 8 hex digits LITTLE-endian, so
    * the whole 32-bit token hash is one conv(). The ±1-per-bit vote sum
    * sc_b = 2*ones_b − n_tok, so the sign test `sc_b >= 0` is
    * `2*ones_b >= n_tok`: 32 conditional sums in ONE aggregation replace
    * the old 32×-explode (a 13M-row intermediate and two shuffles at
    * sf0.1).
    */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tu = Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
      .withColumn("hv",
        expr("CAST(conv(reverse(substr(md5(tok), 1, 8)), 16, 10) AS BIGINT)"))
    val oneCounts: Seq[org.apache.spark.sql.Column] =
      (0 until 32).map(b => sum(expr(s"shiftright(hv, $b) & 1")).as(s"o$b"))
    val ones = tu.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), oneCounts: _*)
    ones.select($"doc_id",
      (0 until 32).map(b =>
        when(col(s"o$b") * 2 >= $"n", lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
  }

  /** 4×8-bit band rows of a (doc_id, sig) frame. */
  private def simhashBands(sig: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    sig.select(
      $"doc_id", $"sig",
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("chunk", expr("shiftright(sig, band * 8) & CAST(255 AS BIGINT)"))
  }

  /** The banded Hamming-≤3 self-join over band rows. Pair dedup WITHOUT a
    * distinct: a pair matching in k bands would be emitted k times, so
    * each match row also checks that NO EARLIER band matched (one
    * shift+mask per earlier band on the signatures already in the row) —
    * every surviving pair is emitted exactly once and the near-quadratic
    * candidate set never hits a shuffle. The Hamming test runs in the
    * same join conjunct, before the first-band guards (both are O(1);
    * the guards only matter for true near-dups).
    */
  private def simhashBandJoin(bands: DataFrame): DataFrame = {
    import bands.sparkSession.implicits._
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.chunk" === $"b.chunk" && $"a.doc_id" < $"b.doc_id"
          && expr("bit_count(a.sig ^ b.sig) <= 3")
          && expr("(a.band < 1 OR (shiftright(a.sig, 0)  & 255L) != (shiftright(b.sig, 0)  & 255L))")
          && expr("(a.band < 2 OR (shiftright(a.sig, 8)  & 255L) != (shiftright(b.sig, 8)  & 255L))")
          && expr("(a.band < 3 OR (shiftright(a.sig, 16) & 255L) != (shiftright(b.sig, 16) & 255L))"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        expr("CAST(bit_count(a.sig ^ b.sig) AS BIGINT)").as("hamming"))
  }

  private[graft] def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashBandJoin(simhashBands(simhashSigs(spark, dir)))

  /** L4f fused simhash→clusters: signatures feed the shared union-find
    * CC core (graft.ops.Graph.connectedComponents) through a
    * signature-compressed star graph — no global sort, no materialized
    * pairwise listing, and no quadratic-in-dup-density edge volume (see
    * the in-body comment). Output is the same cluster report shape as
    * cur_dup_clusters; the oracle certifies equivalence against the full
    * pairwise reachability.
    */
  def simhashClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // SIGNATURE compression (round 12): Hamming distance is a function of
    // the two signatures alone, so doc-level connectivity is entirely
    // determined by the DISTINCT signatures — same-sig docs are pairwise
    // hamming-0 near-dups of each other (and collide in every band). The
    // pairwise doc listing is therefore quadratic in duplicate density
    // (14.5M pairs on the 4×-replicated probe corpus, SURVEY §6.1) while
    // carrying no extra connectivity. Feed CC the EQUIVALENT linear graph
    // instead: one star edge per doc to its signature's min-doc rep, plus
    // the band join run over one rep per distinct signature. Components
    // (and min-doc labels) are identical — same-sig docs connect through
    // the rep star; cross-sig connectivity needs a shared band chunk and
    // hamming ≤ 3, the exact pairwise condition — and the certifying
    // oracle still derives them from the full pairwise listing.
    // Round-17 (guide §2.3 "shuffle fewer bytes" applied to the CC
    // input): run CC over the REP graph only and attach members
    // by ONE join afterwards, instead of feeding CC the rep pairs ∪ one
    // star edge per member. Equivalence: a member's only edge is the star
    // to its rep, so rep-level reachability IS full-graph reachability,
    // and a component's min doc_id is always a rep (each rep is its
    // group's min), hence member label = coalesce(ccLabel(rep), rep) —
    // identical to CC over the full edge set. Node-set bookkeeping: the
    // old CC emitted exactly the docs appearing in ≥1 edge = members of
    // size-≥2 sig groups (via stars) ∪ reps with a rep pair; the filter
    // below reproduces that set. CC's input shrinks from (docs) to
    // (distinct signatures) — at dup-heavy corpora the whole point of the
    // signature compression. sig is cached through BOTH its consumers
    // (grp feeds CC's pair-checkpoint job; the member join runs in the
    // final action) via untilResultConsumed — untilConsumed would release
    // after that checkpoint job and the final join would recompute the
    // signature aggregation from scratch.
    val sig = simhashSigs(spark, dir).cache()
    // the release watcher registers only once `out` exists: if CC throws
    // first, release the cache here or it lives for the whole session
    val out = try {
      val grp = sig.groupBy($"sig").agg(min($"doc_id").as("rep"), count(lit(1)).as("n"))
      val repPairs = simhashBandJoin(
        simhashBands(grp.select($"rep".as("doc_id"), $"sig")))
        .select($"doc_a", $"doc_b")
      val ccRep = graft.ops.Graph.connectedComponents(repPairs)
        .select($"node".as("rep"), $"component")
      sig.join(grp, Seq("sig"))
        .join(ccRep, Seq("rep"), "left")
        .filter($"n" >= 2 || $"component".isNotNull)
        .select($"doc_id", coalesce($"component", $"rep").as("lbl"))
        .groupBy($"lbl".as("cluster_root"))
        .agg(count(lit(1)).as("n_members"), max($"doc_id").as("max_doc"))
        .filter($"n_members" >= 2)
        .orderBy($"cluster_root")
    } catch { case t: Throwable => sig.unpersist(false); throw t }
    graft.ops.ScopedCache.untilResultConsumed(sig, out)
  }

  val simhashSql: String =
    """WITH tu AS (
      |  SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, b,
      |    2 * (((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
      |          // ([1, 2, 4, 8][b % 4 + 1])) % 2) - 1 AS contrib
      |  FROM tu CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)),
      |sig AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN sc >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sig
      |  FROM (SELECT doc_id, b, SUM(contrib) AS sc FROM bits GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, sig, band, (sig >> (band * 8)) & 255 AS chunk
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
      |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)
      |SELECT da AS doc_a, db AS doc_b, hamming
      |FROM cand
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for the fused form: the L4 pair query (inner WITH intact,
    * final ORDER BY dropped) wrapped as the edge source of the same
    * recursive-reachability clustering the cur_dup_clusters oracle uses.
    */
  val simhashClustersSql: String =
    "WITH RECURSIVE pairs AS (\n" +
      simhashSql.replace("ORDER BY doc_a, doc_b", "") +
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
  // L5 edit-distance near-dup verify. Candidate generation is BLOCKED on
  // the md5 of the first-3-token prefix (an equi-join, same inverted-index
  // shape as the other dedup passes) so the quadratic Levenshtein DP only
  // runs on prefix-colliding pairs — never all-pairs. Both engines use the
  // textbook unit-cost insert/delete/substitute distance.
  // 100 TB: block key cardinality grows with the corpus, so the equi-join
  // shuffles cleanly; pathological blocks (boilerplate prefixes) are the
  // AQE-skew-split case.
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id", $"text",
        md5(expr("array_join(slice(split(text, ' '), 1, 3), ' ')")).as("blk"))
    // |len(a)−len(b)| > t implies distance > t — a free prune before the
    // DP; the DP itself runs BANDED (threshold arg → O(t·n), not O(n²),
    // returns −1 above t). The threshold test sits INSIDE the join
    // condition as the LAST conjunct: left as a post-join filter, Catalyst
    // pushes it into the join and reorders it FIRST, running the DP on
    // every block-colliding pair before the cheap prunes (measured 6×
    // slower). Survivors are few, so re-evaluating the DP in the
    // projection costs nothing.
    keyed.as("a").join(keyed.as("b"),
        $"a.blk" === $"b.blk" && $"a.doc_id" < $"b.doc_id"
          && abs(length($"a.text") - length($"b.text")) <= 40
          && levenshtein($"a.text", $"b.text", 40) >= 0)
      .select(
        $"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        levenshtein($"a.text", $"b.text", 40).cast("long").as("edit_dist"))
      .orderBy($"doc_a", $"doc_b")
  }

  val editDistanceSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, text,
      |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')) AS blk
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
      |FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |  AND abs(len(a.text) - len(b.text)) <= 40
      |WHERE levenshtein(a.text, b.text) <= 40
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // L6 cross-doc duplication measurement: per source, what fraction of its
  // word-3-gram shingles also occur in at least one OTHER document of the
  // corpus. This is the measurement step that precedes any dedup-threshold
  // choice (the corpus-overlap statistic of Lee et al., "Deduplicating
  // Training Data Makes Language Models Better", arXiv:2107.06499) — run
  // it first, pick L2/L3/L4 thresholds from it.
  // Determinism: the per-source rate is sum(dup)/sum(total) over exact
  // int64s (ONE division), and min/max of per-doc exact-ratio doubles —
  // no cross-engine float-summation-order exposure (an avg() of doubles
  // would have it).
  // 100 TB: shingle df is one shuffle on the shingle (map-side partial
  // counts); the df flag joins back on the same key (no new partitioning);
  // the per-doc roll-up is one shuffle on doc_id; the doc→source join runs
  // at document granularity, not shingle granularity. No all-pairs
  // anywhere — this is strictly cheaper than any of the pairwise dedups.
  def crossdocDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(docs))
    // df flag: shingles are distinct per doc, so count(*) per shingle = df
    val dfreq = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(dfreq, Seq("s"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_sh"),
        sum(when($"df" > 1, 1L).otherwise(0L)).as("n_dup"))
    perDoc
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_sh").as("n_shingles"),
        sum($"n_dup").as("n_dup_shingles"),
        (sum($"n_dup").cast("double") / sum($"n_sh")).as("dup_rate"),
        min($"n_dup".cast("double") / $"n_sh").as("min_doc_dup_frac"),
        max($"n_dup".cast("double") / $"n_sh").as("max_doc_dup_frac"))
      .orderBy($"source")
  }

  val crossdocDupSql: String =
    shingleCte + """,
      |dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
      |per_doc AS (
      |  SELECT sh.doc_id, COUNT(*) AS n_sh,
      |    CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM sh JOIN dfreq ON sh.s = dfreq.s GROUP BY 1)
      |SELECT d.source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
      |  CAST(SUM(n_dup) AS BIGINT) AS n_dup_shingles,
      |  CAST(SUM(n_dup) AS DOUBLE) / SUM(n_sh) AS dup_rate,
      |  MIN(CAST(n_dup AS DOUBLE) / n_sh) AS min_doc_dup_frac,
      |  MAX(CAST(n_dup AS DOUBLE) / n_sh) AS max_doc_dup_frac
      |FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------------
  // L7 substring-span dedup accounting (the suffix-array dedup of Lee et
  // al., "Deduplicating Training Data Makes Language Models Better",
  // arXiv:2107.06499 §4.1, approximated with positional rolling windows):
  // every w=8-token window is hashed; a window whose hash occurs in >= 2
  // DISTINCT docs marks its 8 positions as duplicated; per doc the marked
  // intervals are unioned (sort-by-start + running-max-end sweep) so
  // overlapping windows are not double-counted. The per-source output is
  // exactly what the ExactSubstr cut would remove: how many TOKENS of
  // each source are covered by some cross-document repeated span.
  // Differs from L6 (crossdocDup): L6 counts duplicated set-shingles (a
  // measurement of doc-level similarity mass); L7 measures contiguous
  // POSITIONAL coverage — the tokens an actual substring-dedup pass cuts.
  //
  // Determinism: window hashes are md5 hex; coverage arithmetic is exact
  // int64 (interval sweep over integers); the one emitted double is a
  // single division of two int64 sums.
  //
  // 100 TB: windows explode to ~n_tokens rows/doc (same order as the
  // shingle family); doc-counting is one partial-agg shuffle on the hash;
  // flagging joins back on the same key (at scale: broadcast a Bloom
  // filter of dup hashes instead of the equi-join — noted, not needed at
  // this SF); the interval sweep is a per-doc window over only the
  // FLAGGED positions (≪ corpus), partitioned by doc_id. A true
  // distributed suffix array is strictly stronger (catches unseen-length
  // repeats) but needs sort-of-all-suffixes; fixed-w rolling windows are
  // the standard scale-out approximation and detect every repeat of
  // length >= w.
  def substringDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = 8
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"source", split($"text", " ").as("t"))
      .withColumn("n", size($"t"))
    val wins = toks.filter($"n" >= w)
      .select($"doc_id", posexplode(transform(sequence(lit(0), $"n" - w),
        i => md5(concat_ws(" ", slice($"t", i + 1, lit(w)))))).as(Seq("pos", "h")))
    val winsC = graft.ops.ScopedCache.untilConsumed(wins)
    val dupHashes = winsC.select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2).select($"h")
    val wPrev = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = winsC.join(dupHashes, Seq("h"))
      .withColumn("prev_end", max($"pos" + lit(w - 1)).over(wPrev))
      .withColumn("new_cov", greatest(lit(0),
        ($"pos" + lit(w - 1)) - greatest(coalesce($"prev_end", $"pos" - 1), $"pos" - 1)))
      .groupBy($"doc_id").agg(sum($"new_cov".cast("long")).as("dup_toks"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .withColumn("dt", coalesce($"dup_toks", lit(0L)))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"dt" > 0, 1L).otherwise(0L)).as("n_docs_spanned"),
        sum($"dt").as("dup_tokens"),
        sum($"n".cast("long")).as("total_tokens"),
        (sum($"dt").cast("double") / sum($"n".cast("long"))).as("dup_token_rate"))
      .orderBy($"source")
  }

  val substringDupSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |win0 AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, n - 7),
      |    i -> {'pos': i - 1, 'h': md5(array_to_string(t[i:i+7], ' '))})) AS wn
      |  FROM tok WHERE n >= 8),
      |win AS (SELECT doc_id, wn.pos AS pos, wn.h AS h FROM win0),
      |dups AS (
      |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM win)
      |  GROUP BY h HAVING COUNT(*) >= 2),
      |dwin AS (SELECT w.doc_id, w.pos FROM win w JOIN dups USING (h)),
      |cov AS (
      |  SELECT doc_id,
      |    GREATEST(0, (pos + 7) - GREATEST(COALESCE(MAX(pos + 7) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos - 1), pos - 1)) AS new_cov
      |  FROM dwin),
      |per_doc AS (SELECT doc_id, CAST(SUM(new_cov) AS BIGINT) AS dup_toks FROM cov GROUP BY 1)
      |SELECT tok.source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN COALESCE(dup_toks, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_spanned,
      |  CAST(SUM(COALESCE(dup_toks, 0)) AS BIGINT) AS dup_tokens,
      |  CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  CAST(SUM(COALESCE(dup_toks, 0)) AS DOUBLE) / SUM(n) AS dup_token_rate
      |FROM tok LEFT JOIN per_doc USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // C-series substring CUT (the transformation L7 only accounts for):
  // apply the Lee et al. 2022 ExactSubstr pass — every token position
  // covered by a cross-document duplicated 8-token window is REMOVED,
  // and the cleaned document is emitted (pinned by md5, not shipped as
  // text). Coverage intervals are merged per doc (island detection over
  // flagged window starts), collected as a per-doc interval ARRAY (few
  // after merging), and the cut is one higher-order filter over the
  // token array — no per-token join. Emits only AFFECTED docs (a doc
  // with no flagged window is byte-identical to its input).
  // Determinism: window hashes are md5; interval arithmetic is exact
  // int64; the emitted md5 is over the space-joined kept tokens, ''
  // when a doc is fully covered.
  // 100 TB: same window-hash shapes as L7 (one partial-agg shuffle on
  // the hash, flag join back on the same key); the interval sweep and
  // the cut are per-doc windows/maps over FLAGGED docs only. The
  // PROPERTY tying this to L7 — per-doc cut_tokens equals L7's covered
  // token count — is pinned in Round11Spec, and the cleaned text itself
  // is pinned against the oracle's independent reconstruction.
  def substringCut(spark: SparkSession, dir: String): DataFrame =
    substringCutFrom(spark, Tables.documents(spark, dir))

  private[graft] def substringCutFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val w = 8
    val toks = docs
      .select($"doc_id", split($"text", " ").as("t"))
      .withColumn("n", size($"t"))
    val wins = toks.filter($"n" >= w)
      .select($"doc_id", posexplode(transform(sequence(lit(0), $"n" - w),
        i => md5(concat_ws(" ", slice($"t", i + 1, lit(w)))))).as(Seq("pos", "h")))
    val winsC = graft.ops.ScopedCache.untilConsumed(wins)
    val dupHashes = winsC.select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2).select($"h")
    val wOrd = Window.partitionBy($"doc_id").orderBy($"pos")
    val flagged = winsC.join(dupHashes, Seq("h")).select($"doc_id", $"pos")
    val iv = flagged
      .withColumn("prev_end",
        max($"pos" + lit(w - 1)).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        when($"prev_end".isNull || $"pos" > $"prev_end", 1L).otherwise(0L))
      .withColumn("grp",
        sum($"new_grp").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("lo"), max($"pos" + lit(w - 1)).as("hi"))
    val ivs = iv.groupBy($"doc_id").agg(collect_list(struct($"lo", $"hi")).as("ivs"))
    toks.join(ivs, Seq("doc_id"))
      .withColumn("kept",
        expr("filter(t, (x, i) -> NOT exists(ivs, v -> i >= v.lo AND i <= v.hi))"))
      .select(
        $"doc_id",
        $"n".cast("long").as("n_tokens"),
        ($"n" - size($"kept")).cast("long").as("cut_tokens"),
        size($"kept").cast("long").as("kept_tokens"),
        md5(concat_ws(" ", $"kept")).as("clean_md5"))
      .orderBy($"doc_id")
  }

  val substringCutSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |win0 AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, n - 7),
      |    i -> {'pos': i - 1, 'h': md5(array_to_string(t[i:i+7], ' '))})) AS wn
      |  FROM tok WHERE n >= 8),
      |win AS (SELECT doc_id, wn.pos AS pos, wn.h AS h FROM win0),
      |dups AS (
      |  SELECT h FROM (SELECT DISTINCT h, doc_id FROM win)
      |  GROUP BY h HAVING COUNT(*) >= 2),
      |dwin AS (SELECT w.doc_id, w.pos FROM win w JOIN dups USING (h)),
      |iv0 AS (
      |  SELECT doc_id, pos,
      |    MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM dwin),
      |iv1 AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS new_grp
      |  FROM iv0),
      |iv2 AS (
      |  SELECT doc_id, pos, SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM iv1),
      |iv AS (SELECT doc_id, grp, MIN(pos) AS lo, MAX(pos + 7) AS hi FROM iv2 GROUP BY 1, 2),
      |aff AS (SELECT DISTINCT t.doc_id, t.n FROM tok t JOIN iv ON iv.doc_id = t.doc_id),
      |keep0 AS (
      |  SELECT t.doc_id, unnest(list_transform(generate_series(1, t.n),
      |    i -> {'pos': i - 1, 'tokv': t.t[i]})) AS kp
      |  FROM tok t JOIN aff a ON a.doc_id = t.doc_id),
      |keep AS (SELECT doc_id, kp.pos AS pos, kp.tokv AS tokv FROM keep0),
      |kept AS (
      |  SELECT k.doc_id, k.pos, k.tokv FROM keep k
      |  WHERE NOT EXISTS (SELECT 1 FROM iv
      |    WHERE iv.doc_id = k.doc_id AND k.pos BETWEEN iv.lo AND iv.hi))
      |SELECT a.doc_id,
      |  CAST(a.n AS BIGINT) AS n_tokens,
      |  CAST(a.n - COUNT(k.pos) AS BIGINT) AS cut_tokens,
      |  COUNT(k.pos) AS kept_tokens,
      |  md5(COALESCE(string_agg(k.tokv, ' ' ORDER BY k.pos), '')) AS clean_md5
      |FROM aff a LEFT JOIN kept k ON k.doc_id = a.doc_id
      |GROUP BY a.doc_id, a.n
      |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // L6 document novelty: per-doc fraction of its distinct word-3-gram
  // shingles whose corpus-wide FIRST OCCURRENCE (min doc_id) is the doc
  // itself — the dedupe-aware sampling signal ("how much of this doc is
  // new material?") that ranks derivative documents for down-weighting
  // without needing any pairwise comparison. Reports the 25 most
  // derivative docs (lowest novel fraction).
  // 100 TB: the same inverted-index discipline as L2 — one shuffle on
  // the shingle key builds first-seen, one partial-agg shuffle on doc_id
  // folds it back; no self-join, no all-pairs, and at ingest time
  // first-seen is an incrementally-maintainable min.
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = graft.ops.ScopedCache.untilConsumed(shingles(Tables.documents(spark, dir)))
    val first = sh.groupBy($"s").agg(min($"doc_id").as("first_doc"))
    sh.join(first, Seq("s"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac", round($"n_novel".cast("double") / $"n_shingles", 6))
      .orderBy($"novel_frac".asc, $"doc_id".asc)
      .limit(25)
  }

  val noveltySql: String =
    shingleCte + """,
      |first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS novel_frac
      |FROM sh JOIN first f ON f.s = sh.s
      |GROUP BY sh.doc_id
      |ORDER BY novel_frac ASC, doc_id ASC LIMIT 25""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_novelty"       -> (novelty _),
    "llm_substring_dup" -> (substringDup _),
    "llm_exact_dedup"   -> (exactDedup _),
    "llm_ngram_jaccard" -> (ngramJaccard _),
    "llm_containment"   -> (containment _),
    "llm_ppjoin"        -> (ppjoin _),
    "llm_minhash_lsh"   -> (minhashLsh _),
    "llm_incr_dedup"    -> (incrDedup _),
    "llm_simhash"       -> (simhash _),
    "llm_simhash_clusters" -> (simhashClusters _),
    "llm_editdist"      -> (editDistance _),
    "llm_crossdoc_dup"  -> (crossdocDup _),
    "cur_substr_cut"    -> (substringCut _))

  val oracles: Map[String, String] = Map(
    "llm_novelty"       -> noveltySql,
    "llm_substring_dup" -> substringDupSql,
    "llm_exact_dedup"   -> exactDedupSql,
    "llm_ngram_jaccard" -> ngramJaccardSql,
    "llm_containment"   -> containmentSql,
    "llm_ppjoin"        -> ngramJaccardSql, // same answer by construction — see ppjoin scaladoc
    "llm_minhash_lsh"   -> minhashLshSql,
    "llm_incr_dedup"    -> incrDedupSql,
    "llm_simhash"       -> simhashSql,
    "llm_simhash_clusters" -> simhashClustersSql,
    "llm_editdist"      -> editDistanceSql,
    "llm_crossdoc_dup"  -> crossdocDupSql,
    "cur_substr_cut"    -> substringCutSql)
}
