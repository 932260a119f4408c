package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** G1 PageRank over the customer↔supplier trade graph — the iterative
  * graph-analytics member of the operator family (dupClusters covers
  * connected components; this covers value-propagation ranking, the
  * web-quality signal large corpus pipelines weight documents by).
  *
  * Graph: distinct (customer, supplier) trade pairs from
  * orders ⋈ lineitem, symmetrized (both directions), nodes = endpoints.
  * Three fixed damped rounds of pr(v) = 0.15/N + 0.85·Σ pr(u)/outdeg(u)
  * — symmetric edges mean no dangling nodes, and a FIXED round count
  * (no convergence test) keeps both engines on the same trajectory.
  *
  * Determinism (the w9/ta_lm_xent discipline): each edge's contribution
  * pr(u)/outdeg(u) is a deterministic IEEE division, but the per-node
  * SUM of contributions is order-dependent in float — so contributions
  * are scaled to integer nano-units with floor(+0.5) and summed as
  * exact int64; the damping update is then a fixed-order double
  * expression both engines share. Output is the top 25 by
  * (rank desc, node asc) — a total order.
  *
  * 100 TB: the edge build is one orders ⋈ lineitem shuffle + distinct;
  * each round is edges ⋈ pr (shuffle on src) + one partial-agg shuffle
  * on dst — rank state is node-sized, never driver-sized, and a longer
  * run would localCheckpoint every few rounds to cut lineage (the
  * dupClusters lesson; three unrolled rounds stay under that threshold).
  */
object Graph {

  /** Max rank-state rows for which the G1 loop hints `broadcast(pr)`.
    * Rank state is node-sized: at ~40 bytes/row (string node + long +
    * double) 2M rows is ~80 MB per round — comfortably inside executor
    * broadcast budgets, far below the 8 GB hard cap. Past the gate the
    * SAME plan runs as a shuffle join on the edge src key, which is the
    * plan a 100×-node graph needs anyway (a forced driver-side broadcast
    * of a web-scale rank vector is an OOM, not an optimization).
    */
  private[graft] val PrBroadcastMaxNodes = 2000000L

  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankGated(spark, dir, PrBroadcastMaxNodes)

  /** G1 with the broadcast gate exposed so PlanSpec can pin BOTH shapes
    * (hinted below the threshold, shuffle join above it) without needing
    * a 2M-node fixture.
    */
  private[graft] def pagerankGated(
      spark: SparkSession, dir: String, broadcastMaxNodes: Long): DataFrame = {
    import spark.implicits._
    // node ids stay LONG through every iterative shuffle (c → 2·custkey,
    // s → 2·suppkey+1 — injective): the distinct and the three rounds'
    // exchanges move 8-byte keys instead of 'c|12345' strings; the
    // display string derives once at output. Rank trajectories are
    // identical — same graph, same damping — so the oracle (which keys
    // on its own strings throughout) still hash-matches.
    val pairs = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey".cast("long") * 2).as("c"),
        ($"l_suppkey".cast("long") * 2 + 1).as("s"))
      .distinct()
    // plain cache for the eager phase: the node-count action below would
    // CONSUME an action-scoped cache and leave the three rounds
    // recomputing the edge build; the scoped listener is attached after,
    // so the caller's single action still releases the blocks
    val edgesPlain = pairs.select($"c".as("src"), $"s".as("dst"))
      .unionByName(pairs.select($"s".as("src"), $"c".as("dst")))
      .cache()
    val out = edgesPlain.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val n = out.count() // node count: a scalar, the tfidf N precedent
    val edges = graft.ops.ScopedCache.untilConsumed(edgesPlain)
    // rank state here is dimension-sized (customers + suppliers), so when
    // the measured node count is under the gate it BROADCASTS into each
    // round's edge join — one partial-agg shuffle on dst per round. The
    // gate uses n, already counted above for the damping term, so the
    // decision costs nothing extra; past it the hints are simply not
    // applied and the identical logical plan runs as a shuffle join on
    // src (rank state never concentrates on the driver).
    val hint: DataFrame => DataFrame =
      if (n <= broadcastMaxNodes) broadcast(_) else identity
    var pr = out.select($"src".as("node"), $"outdeg",
      (lit(1.0) / lit(n)).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = edges.join(hint(pr), $"src" === $"node")
        .select($"dst",
          floor(($"pr" / $"outdeg") * lit(1e9) + lit(0.5)).cast("long").as("share_e9"))
        .groupBy($"dst").agg(sum($"share_e9").as("in_e9"))
      pr = contrib
        .select($"dst".as("node"),
          (lit(0.15) / lit(n) + lit(0.85) * ($"in_e9".cast("double") / lit(1e9))).as("pr"))
        .join(hint(out.select($"src".as("node"), $"outdeg")), Seq("node"))
        .select($"node", $"outdeg", $"pr")
    }
    pr.select(
        // integer div, not float: exact at any key magnitude
        when($"node" % 2 === 0, concat(lit("c|"), expr("CAST(node div 2 AS STRING)")))
          .otherwise(concat(lit("s|"), expr("CAST((node - 1) div 2 AS STRING)")))
          .as("node"),
        $"outdeg", round($"pr", 6).as("pagerank"))
      .orderBy($"pagerank".desc, $"node".asc)
      .limit(25)
  }

  val pagerankSql: String = {
    def round_(t: Int) =
      s"""c$t AS (
         |  SELECT e.dst,
         |    SUM(CAST(floor((p.pr / p.outdeg) * 1000000000.0 + 0.5) AS BIGINT)) AS in_e9
         |  FROM edges e JOIN pr${t - 1} p ON e.src = p.node
         |  GROUP BY e.dst),
         |pr$t AS (
         |  SELECT c.dst AS node, o.outdeg,
         |    0.15 / (SELECT n FROM n) + 0.85 * (CAST(c.in_e9 AS DOUBLE) / 1000000000.0) AS pr
         |  FROM c$t c JOIN outd o ON o.src = c.dst)""".stripMargin
    """WITH pairs AS (
      |  SELECT DISTINCT 'c|' || CAST(o_custkey AS VARCHAR) AS c,
      |                  's|' || CAST(l_suppkey AS VARCHAR) AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (
      |  SELECT c AS src, s AS dst FROM pairs
      |  UNION ALL
      |  SELECT s AS src, c AS dst FROM pairs),
      |outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      |n AS (SELECT COUNT(*) AS n FROM outd),
      |pr0 AS (SELECT src AS node, outdeg, 1.0 / (SELECT n FROM n) AS pr FROM outd),
      |""".stripMargin +
      (1 to 3).map(round_).mkString(",\n") + """
      |SELECT node, outdeg, round(pr, 6) AS pagerank
      |FROM pr3
      |ORDER BY pagerank DESC, node ASC
      |LIMIT 25""".stripMargin
  }

  /** The backbone MV as a chain family: ONE rewrite-shaped layer, the
    * (u, v, shared) edge list written endpoint-clustered directly in the
    * version dir. Its build-once memo is the C22/E21 pattern applied to
    * the graph family's one shared fixed cost: the first kernel to need
    * the backbone pays the refresh, every later g2–g8 run reads the
    * artifact — derive once, read many (~5 s of re-derived projection per
    * kernel, 9 kernels). g0_backbone_mv keeps billing the refresh every
    * run (the honest build bill), exactly like emb_ivf_mv vs
    * emb_ivf_read. The dataset-immutability contract is componentLabels'.
    */
  private[graft] val Backbone = new ChainIndex.Family("graft_backbone_mv", "backbone MV",
    Seq(ChainIndex.Layer("", ChainIndex.RewriteShaped, clusterBy = Seq("u"), sortBy = Seq("u", "v"))))

  /** Top-decile co-purchase backbone shared by G2 (triangles) and G3
    * (k-core): suppliers as nodes, an edge where the shared-customer
    * count reaches the value at descending rank ⌊m/10⌋ (see the G2
    * scaladoc for why the raw projection is complete and how the
    * threshold stays exact). Returns the (u < v) edge list, read from
    * the backbone MV.
    */
  private[graft] def backboneEdges(spark: SparkSession, dir: String): DataFrame =
    backboneWeighted(spark, dir).select(col("u"), col("v"))

  /** Weighted twin of [[backboneEdges]]: (u, v, shared), read from the MV
    * through its build-once memo (the MV stores the weight column since
    * round 11).
    */
  private[graft] def backboneWeighted(spark: SparkSession, dir: String): DataFrame = {
    // the root encodes a hash of the canonical dataset dir and a process
    // nonce, so a kernel asked about a DIFFERENT dataset builds and reads
    // its own backbone, never this one's (wrong data, no error)
    val root = backboneRoot(dir)
    Backbone.ensureBuilt(root) { refreshBackboneMv(spark, dir); () }
    Backbone.read(spark, ChainIndex.chainDirs(spark, root), "").get
      .select(col("u"), col("v"), col("shared"))
  }

  /** Degree cap for the bipartite projection's self-join. The projection
    * is Σ(customer-degree²): one hub customer connected to d suppliers
    * contributes d²/2 join rows, so a skewed key turns the stage
    * quadratic with no bound (the L2 hot-shingle hazard, co-purchase
    * flavor). Customers above the cap keep only their `cap`
    * lowest-supplier-id pairs (a deterministic total order); the COLD
    * path — every customer at or under the cap — passes through with no
    * extra sort, so at the test SFs (max degree ≤ the supplier count,
    * ≪ 8192) the capped plan is row-identical to the uncapped one and
    * the UNCAPPED oracle SQL is the machine-checked proof. At 100 TB a
    * deployment tunes this down (a hub's pairs are the least informative
    * edges: a customer buying from everyone adds +1 to every pair —
    * noise, not signal; Round11Spec quantifies backbone stability under
    * a binding cap; callers pass their own `degCap`).
    */
  private[graft] val DefaultDegreeCap: Int = 8192

  /** Wedge pairs (u < v) of a bipartite (c, s) pair list, degree-capped.
    * Instead of distinct + per-customer self-join (two shuffles of the
    * pair list plus a join whose output is Σdeg² rows through the
    * shuffle machinery), each customer's supplier set is assembled by
    * ONE collect_set aggregation (map-side partial dedup — the distinct
    * rides along free), the degree cap is an array slice of the sorted
    * set (keep the `cap` LOWEST supplier ids — the same deterministic
    * rule as before, now O(1) instead of a ranking window), and pairs
    * stream out of two chained generators: posexplode picks the anchor
    * u, explode of the tail slice emits each v > u. No row ever holds
    * more than one degree-sized array, the Σdeg² pair stream is
    * pipelined straight into the (u, v) partial aggregation (map-side
    * combine shrinks it before its one shuffle), and the join operator
    * disappears from the plan entirely. Isolated A/B at sf0.1:
    * g0_backbone_mv 3.2 → 1.8 s, g2_triangles 3.8 → 2.7 s.
    */
  private[graft] def wedgePairs(pairs: DataFrame, cap: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs
      .groupBy($"c").agg(sort_array(collect_set($"s")).as("ss0"))
      .select(slice($"ss0", 1, cap).as("ss"))
      .select(posexplode($"ss").as(Seq("i", "u")), $"ss")
      .select($"u", explode(
        slice($"ss", $"i" + 2, greatest(size($"ss") - $"i" - 1, lit(0)))).as("v"))
  }

  /** Same backbone derivation with the shared-customer count kept — G8's
    * edge weights and the MV's stored payload.
    */
  private[graft] def deriveBackboneWeighted(
      spark: SparkSession, dir: String,
      degCap: Int = DefaultDegreeCap): DataFrame = {
    import spark.implicits._
    val pairs = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s"))
    val w = graft.ops.ScopedCache.untilConsumed(
      wedgePairs(pairs, degCap)
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("shared")))
    val vc = w.groupBy($"shared".as("sv")).agg(count(lit(1)).as("cv"))
    val wCum = Window.orderBy($"sv".desc).rowsBetween(Window.unboundedPreceding, 0)
    val thr = vc
      .withColumn("cume", sum($"cv").over(wCum))
      .crossJoin(broadcast(vc.agg(sum($"cv").as("m"))))
      .filter($"cume" >= expr("m div 10"))
      .agg(max($"sv").as("t"))
    graft.ops.ScopedCache.untilConsumed(
      w.crossJoin(broadcast(thr)).filter($"shared" >= $"t")
        .select($"u", $"v", $"shared"))
  }

  /** G8 single-source shortest path: 4 FIXED Bellman–Ford rounds over
    * the WEIGHTED backbone, edge cost = 1_000_000 div shared (stronger
    * co-purchase ties are cheaper to traverse) — the weighted sibling of
    * G5's unit-hop BFS and the "how tightly is X connected to the
    * trusted seed" signal weighted curation filters rank by. Source =
    * the MIN backbone node (deterministic); the FIXED round count keeps
    * both engines on one trajectory (the G1/G7 discipline) and bounds
    * the horizon like G5's hop cap. All arithmetic is exact int64
    * (integer div, +, min) — no float anywhere.
    * 100 TB: each round is one shuffle — dist joins the edge list on the
    * src endpoint, partial-agg min on dst; the dist frame stays
    * node-sized and the small early rounds broadcast under AQE without
    * hints (the G1 gate lesson: never force it); a longer-horizon run
    * iterates with delta-only frontiers + localCheckpoint (G4/G5), which
    * 4 unrolled rounds sit safely under.
    */
  def sssp(spark: SparkSession, dir: String): DataFrame =
    ssspDistFrom(backboneWeighted(spark, dir))
      .orderBy(col("dist").asc, col("node").asc).limit(20)

  /** The 4-round Bellman–Ford kernel over a weighted (u, v, shared) edge
    * frame — shared by G8 (fresh-or-MV backbone) and the G9 pipeline
    * (MV read-back). The edge list is checkpointed ONCE and each round's
    * node-sized dist frame too, so the 4-round plan stays linear instead
    * of doubling per round (the G3/G4/G5 iteration pattern). The edge
    * frame and rounds 1–3 are lazy and round 4 is eager ([[Ckpt.Scope.rounds]]):
    * one job materializes the whole chain.
    */
  private[graft] def ssspDistFrom(weighted: DataFrame): DataFrame = Ckpt.scope { ck =>
    val spark = weighted.sparkSession
    import spark.implicits._
    val wEdges = ck(weighted
      .select($"u", $"v", expr("1000000 div shared").as("cost")), eager = false)
    val und = wEdges.select($"u".as("src"), $"v".as("dst"), $"cost")
      .unionByName(wEdges.select($"v".as("src"), $"u".as("dst"), $"cost"))
    val srcRow = und.agg(min(least($"src", $"dst")).as("s"))
    ck.rounds(broadcast(srcRow).select($"s".as("node"), lit(0L).as("dist")), 4) { dist =>
      val relax = und
        .join(dist.select($"node".as("src"), $"dist".as("dsrc")), Seq("src"))
        .select($"dst".as("node"), ($"dsrc" + $"cost").as("cand"))
      dist.select($"node", $"dist".as("cand"))
        .unionByName(relax)
        .groupBy($"node").agg(min($"cand").as("dist"))
    }
  }

  /** SSSP oracle CTE chain over the shared `edges(u, v, shared)` —
    * prefixed names (wedges/sund/srcn/d*) so the G9 pipeline oracle can
    * splice it next to the triangle and label-prop chains. lazy:
    * backboneSql is declared further down the object body, so an eager
    * val here would read null during object init.
    */
  private lazy val ssspCtes: String = {
    def round_(t: Int) =
      s"""d$t AS (
         |  SELECT node, MIN(cand) AS dist FROM (
         |    SELECT node, dist AS cand FROM d${t - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + e.cost AS cand
         |    FROM d${t - 1} d JOIN sund e ON e.src = d.node)
         |  GROUP BY node)""".stripMargin
    """wedges AS (SELECT u, v, 1000000 // shared AS cost FROM edges),
      |sund AS (
      |  SELECT u AS src, v AS dst, cost FROM wedges
      |  UNION ALL
      |  SELECT v, u, cost FROM wedges),
      |srcn AS (SELECT MIN(LEAST(src, dst)) AS s FROM sund),
      |d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM srcn),
      |""".stripMargin +
      (1 to 4).map(round_).mkString(",\n")
  }

  lazy val ssspSql: String =
    "WITH " + backboneSql + ",\n" + ssspCtes + """
      |SELECT node, dist FROM d4
      |ORDER BY dist ASC, node ASC
      |LIMIT 20""".stripMargin

  /** Oracle CTE chain producing the same backbone `edges(u, v, shared)`.
    * (The weight column rides along since round 11 — consumers that only
    * need the topology project it away, the weighted ones no longer
    * rebuild it.)
    */
  private val backboneSql: String =
    """pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |w AS (
      |  SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
      |  FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
      |  GROUP BY 1, 2),
      |vc AS (SELECT shared AS sv, COUNT(*) AS cv FROM w GROUP BY 1),
      |m AS (SELECT CAST(SUM(cv) AS BIGINT) AS m FROM vc),
      |cum AS (
      |  SELECT sv, CAST(SUM(cv) OVER (ORDER BY sv DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume
      |  FROM vc),
      |thr AS (SELECT MAX(sv) AS t FROM cum CROSS JOIN m WHERE cume >= m // 10),
      |edges AS (SELECT u, v, shared FROM w CROSS JOIN thr WHERE shared >= t)""".stripMargin

  /** G2 triangle counting + local clustering coefficient over the supplier
    * co-purchase graph — the other classic distributed graph kernel
    * (community density; G1 covers value propagation, dupClusters covers
    * components).
    *
    * Graph build: the raw co-purchase projection (suppliers sharing a
    * customer) is COMPLETE at every test SF, so the operator first
    * extracts the top-decile backbone: edges whose shared-customer count
    * reaches the value at descending rank ⌊m/10⌋. The threshold comes
    * from the DISTINCT-VALUE count table (≤ max−min+1 rows — tiny), not
    * a global sort of edges: cum(s) = #edges with shared ≥ s, and
    * t = max{s : cum(s) ≥ ⌊m/10⌋} — exact integer logic, identical in
    * both engines regardless of tie placement.
    *
    * Triangle enumeration uses the (u < v) orientation: e1=(a,b) ⋈
    * e2=(b,c) ⋈ e3=(a,c) emits each triangle exactly once, and the join
    * fan-out is bounded by forward-degree (the node-iterator bound; a
    * total-degree orientation would tighten it to O(m^1.5) on skewed
    * graphs). Clustering coefficient = 2·tri/(deg·(deg−1)) — one IEEE
    * division of exact int64s.
    *
    * 100 TB: the projection is the costly step — it squares customer
    * degree, so hub customers get a df-cap before the self-join (the L2
    * inverted-index discipline; not needed at these SFs and noted here);
    * everything after runs on the edge list, shuffling on endpoint keys.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesFrom(backboneEdges(spark, dir))

  private[graft] def trianglesFrom(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val deg = edges.select($"u".as("node"))
      .unionByName(edges.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), $"e1.v" === $"e2.u")
      .join(edges.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
      .select($"e1.u".as("a"), $"e1.v".as("b"), $"e2.v".as("c"))
    val perNode = tri.select($"a".as("node"))
      .unionByName(tri.select($"b".as("node")))
      .unionByName(tri.select($"c".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .withColumn("n_tri", coalesce($"n_tri", lit(0L)))
      .withColumn("clustering",
        when($"deg" >= 2, ($"n_tri" * 2).cast("double") / ($"deg" * ($"deg" - 1)))
          .otherwise(lit(0.0)))
      .select($"node", $"deg", $"n_tri", $"clustering")
      .orderBy($"node")
  }

  /** G0 materialized backbone: the graph family's one shared fixed cost
    * (the co-purchase projection, ~2.5 s of every g2–g7 run at sf0.1)
    * written ONCE as an endpoint-CLUSTERED parquet materialized view —
    * the production layout the per-kernel scaladocs defer to, made
    * concrete. The query derives the backbone, publishes it (overwrite =
    * the refresh), reads it BACK from disk, and reports edge/node stats
    * from the read-back copy — so the oracle compare certifies the
    * round-tripped artifact, not the in-memory frame. The g2–g8 kernels
    * read this path through the build-once memo ([[backboneWeighted]]).
    * Clustering = repartition(u) + sortWithinPartitions (row-group
    * locality and min/max skipping on u). It is NOT bucketBy: plain
    * parquet carries no bucket spec, so joins against it still plan a
    * shuffle — the shuffle-FREE layout is the S7b saveAsTable bucketed
    * path (sources/Formats.scala), which needs a table catalog.
    * The path is keyed by a hash of the CANONICAL dataset path (not the
    * basename — two datasets named `sf0.1` under different parents must
    * not collide) plus a per-process nonce, so concurrent runs (bench +
    * verify, parallel CI) each write their own artifact and an
    * overwrite-refresh can never yank a directory out from under another
    * process's reader; the nonce also closes the predictable-/tmp-path
    * hijack surface on shared machines. Artifacts are tracked and
    * deleted by a JVM shutdown hook — they live exactly as long as the
    * session that can read them.
    */
  def backboneRoot(dir: String): String = Backbone.root(dir)

  /** The refresh body shared by G0 and the G9 pipeline: derive the
    * WEIGHTED backbone fresh (never reading the MV's own previous
    * output), publish it as the next snapshot version, return the
    * read-back frame. A snapshot publish, not an in-place overwrite:
    * g2–g8 are CONCURRENT readers of this path, so a refresh racing a
    * kernel's scan must never yank its files — the reader's resolved
    * snap dir stays immutable and the previous version is retained.
    */
  private[graft] def refreshBackboneMv(spark: SparkSession, dir: String): DataFrame = {
    val root = Backbone.build(spark, dir) { v => v.write("", deriveBackboneWeighted(spark, dir)) }
    Backbone.read(spark, ChainIndex.chainDirs(spark, root), "").get
  }

  def backboneMaterialize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mv = refreshBackboneMv(spark, dir)
    val nodes = mv.select($"u".as("node")).unionByName(mv.select($"v".as("node")))
    // sum_shared certifies the round-tripped WEIGHT column, not just the
    // topology — the g8/g9 consumers read it from the artifact
    mv.agg(
        count(lit(1)).as("n_edges"),
        min($"u").as("min_u"), max($"v").as("max_v"),
        sum($"shared").as("sum_shared"))
      .crossJoin(broadcast(nodes.agg(countDistinct($"node").as("n_nodes"))))
      .select($"n_edges", $"n_nodes", $"min_u", $"max_v", $"sum_shared")
  }

  val backboneMaterializeSql: String =
    "WITH " + backboneSql + """
      |SELECT
      |  (SELECT COUNT(*) FROM edges) AS n_edges,
      |  (SELECT COUNT(DISTINCT node) FROM
      |    (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)) AS n_nodes,
      |  (SELECT MIN(u) FROM edges) AS min_u,
      |  (SELECT MAX(v) FROM edges) AS max_v,
      |  (SELECT CAST(SUM(shared) AS BIGINT) FROM edges) AS sum_shared""".stripMargin

  /** G9 the production graph DAG as ONE registered query: refresh the
    * weighted backbone MV (the G0 step), then run three kernels —
    * triangles, label propagation, weighted SSSP — off the READ-BACK
    * artifact, so the projection self-join runs exactly once for the
    * whole composition (vs once per kernel when each query stands
    * alone). This is the derive-once-read-many DAG the per-kernel
    * scaladocs defer to, registered so the correctness gate and bench
    * see it. Output: one (step, m1, m2) summary row per stage, all
    * exact int64 — backbone (edges, Σshared), triangles (Σ per-node
    * incidences, nodes in ≥1 triangle), labelprop (communities, largest
    * community), sssp (nodes reached in 4 rounds, Σdist).
    * 100 TB: the MV write is the one heavy stage; each kernel then pays
    * only edge-list-sized shuffles — Round11Spec pins that no kernel
    * plan re-derives from the base tables.
    */
  def graphPipeline(spark: SparkSession, dir: String): DataFrame = Ckpt.scope { _ =>
    import spark.implicits._
    val (mv, tri, lpa, dist) = graphPipelineParts(spark, dir)
    def row(step: String, df: DataFrame): DataFrame =
      df.select(lit(step).as("step"), col("m1"), col("m2"))
    row("backbone", mv.agg(count(lit(1)).as("m1"), sum($"shared").as("m2")))
      .unionByName(row("triangles",
        tri.agg(sum($"n_tri").as("m1"),
          sum(when($"n_tri" > 0, 1L).otherwise(0L)).as("m2"))))
      .unionByName(row("labelprop",
        lpa.agg(count(lit(1)).as("m1"), max($"n_nodes").as("m2"))))
      .unionByName(row("sssp",
        dist.agg(count(lit(1)).as("m1"), sum($"dist").as("m2"))))
      .orderBy($"step")
  }

  /** The pipeline's stage frames, exposed so Round11Spec can pin each
    * kernel's PLAN (scans the MV artifact, never the base tables).
    */
  private[graft] def graphPipelineParts(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = Ckpt.scope { ck =>
    import spark.implicits._
    // the checkpoint pins the read-back snapshot for all three kernels
    // (and keeps each kernel's lineage rooted at the artifact, not at a
    // re-plannable parquet scan a concurrent refresh could invalidate)
    val mv = ck(refreshBackboneMv(spark, dir))
    val edges = mv.select($"u", $"v")
    (mv, trianglesFrom(edges), labelPropFrom(edges), ssspDistFrom(mv))
  }

  // lazy: splices CTE vals declared further down the object body
  lazy val graphPipelineSql: String =
    "WITH " + backboneSql + ",\n" + trianglesCtes + ",\n" +
      labelPropCtes + ",\n" + ssspCtes + """
      |SELECT * FROM (
      |  SELECT 'backbone' AS step,
      |    (SELECT COUNT(*) FROM edges) AS m1,
      |    (SELECT CAST(SUM(shared) AS BIGINT) FROM edges) AS m2
      |  UNION ALL
      |  SELECT 'triangles',
      |    (SELECT CAST(COALESCE(SUM(n_tri), 0) AS BIGINT) FROM pernode),
      |    (SELECT COUNT(*) FROM pernode WHERE n_tri > 0)
      |  UNION ALL
      |  SELECT 'labelprop',
      |    (SELECT COUNT(*) FROM lrep),
      |    (SELECT CAST(MAX(n_nodes) AS BIGINT) FROM lrep)
      |  UNION ALL
      |  SELECT 'sssp',
      |    (SELECT COUNT(*) FROM d4),
      |    (SELECT CAST(SUM(dist) AS BIGINT) FROM d4))
      |ORDER BY step""".stripMargin

  /** G7 label propagation communities (3 FIXED synchronous rounds) over
    * the G2 backbone — the community-detection kernel (concomp finds the
    * islands; LPA finds the DENSE neighborhoods inside them). Every node
    * starts as its own label; each round it adopts the most frequent
    * label among its neighbors, ties to the LOWEST label — a total order,
    * so the 3-round trajectory is deterministic in both engines and a
    * fixed round count sidesteps synchronous LPA's oscillation problem
    * entirely (the G3/a13 discipline). Output: per-community size +
    * representative stats, community id = the shared final label.
    *
    * 100 TB: each round is ONE shuffle — neighbor-label counts partial-
    * aggregate on (node, label), the argmax is a max-of-struct aggregate
    * (no ranking window); cross-round state is the node-sized label
    * frame; production iterates with the dupClusters localCheckpoint
    * pattern.
    */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropFrom(backboneEdges(spark, dir))

  private[graft] def labelPropFrom(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges.select($"u".as("node"), $"v".as("nb"))
      .unionByName(edges.select($"v".as("node"), $"u".as("nb")))
    var lbl = und.select($"node").distinct().withColumn("lbl", $"node")
    for (_ <- 1 to 3) {
      lbl = und
        .join(lbl.withColumnRenamed("node", "nb"), Seq("nb"))
        .groupBy($"node", $"lbl").agg(count(lit(1)).as("c"))
        .groupBy($"node")
        .agg(max(struct($"c".as("c"), (-$"lbl").as("nl"))).as("m"))
        .select($"node", (-$"m.nl").as("lbl"))
    }
    lbl.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_nodes"),
        min($"node").as("min_node"), max($"node").as("max_node"))
      .orderBy($"community")
  }

  /** LPA oracle CTE chain over `edges` — prefixed names (lund/l0..l3/
    * lrep) so the G9 pipeline oracle can splice it next to the other
    * kernel chains.
    */
  private val labelPropCtes: String = {
    def roundCte(t: Int, prev: String) =
      s"""l$t AS (
         |  SELECT node, lbl FROM (
         |    SELECT u.node, l.lbl, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY u.node ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
         |    FROM lund u JOIN $prev l ON l.node = u.nb
         |    GROUP BY u.node, l.lbl)
         |  WHERE rn = 1)""".stripMargin
    s"""lund AS (
      |  SELECT u AS node, v AS nb FROM edges
      |  UNION ALL SELECT v AS node, u AS nb FROM edges),
      |l0 AS (SELECT DISTINCT node, node AS lbl FROM lund),
      |${roundCte(1, "l0")},
      |${roundCte(2, "l1")},
      |${roundCte(3, "l2")},
      |lrep AS (
      |  SELECT lbl AS community, COUNT(*) AS n_nodes,
      |    MIN(node) AS min_node, MAX(node) AS max_node
      |  FROM l3 GROUP BY lbl)""".stripMargin
  }

  val labelPropSql: String =
    "WITH " + backboneSql + ",\n" + labelPropCtes + """
      |SELECT community, n_nodes, min_node, max_node
      |FROM lrep ORDER BY community""".stripMargin

  /** Triangle oracle CTE chain over `edges` — spliceable (G9). */
  private val trianglesCtes: String =
    """deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      |  GROUP BY 1),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e2.u = e1.v
      |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pernode AS (
      |  SELECT node, COUNT(*) AS n_tri FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)""".stripMargin

  val trianglesSql: String =
    "WITH " + backboneSql + ",\n" + trianglesCtes + """
      |SELECT d.node, d.deg, COALESCE(p.n_tri, 0) AS n_tri,
      |  CASE WHEN d.deg >= 2
      |       THEN CAST(COALESCE(p.n_tri, 0) * 2 AS DOUBLE) / (d.deg * (d.deg - 1))
      |       ELSE 0.0 END AS clustering
      |FROM deg d LEFT JOIN pernode p ON p.node = d.node
      |ORDER BY d.node""".stripMargin

  /** G3 k-core peel (k=5, 3 FIXED rounds) over the G2 backbone — the
    * degeneracy-ordering kernel (dense-subgraph mining, graph-ANN index
    * pruning). Each round drops every node whose CURRENT degree is < k
    * and every edge touching a dropped node; after 3 rounds the survivor
    * set is a superset of the true 5-core (peeling is monotone from
    * above), and `stable` reports whether round 3 changed anything —
    * i.e. whether the fixpoint was already reached. A FIXED round count
    * (no convergence loop) keeps both engines on the same trajectory,
    * the a13/G1 discipline; production would iterate with the
    * dupClusters localCheckpoint pattern.
    *
    * Determinism: pure integer degree arithmetic; output is every
    * original backbone node with its round-by-round degrees, total order
    * on node.
    *
    * 100 TB: each round is one degree partial-agg + two semi-joins on
    * endpoint keys — edge-list-sized shuffles, node-sized state, no
    * driver participation.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = kcoreFrom(backboneEdges(spark, dir))

  /** The G3 peel over an undirected (u, v) edge frame. */
  private[graft] def kcoreFrom(e0: DataFrame): DataFrame = Ckpt.scope { ck =>
    val spark = e0.sparkSession
    import spark.implicits._
    val k = 5
    def degreeOf(e: DataFrame): DataFrame =
      e.select($"u".as("node")).unionByName(e.select($"v".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
    // each round's edge list feeds 2–3 downstream chains (next round's
    // semi-joins + the final report), and DataFrames don't share common
    // subplans across branches — so every round is eagerly cut to an
    // edge-list-sized localCheckpoint (the dupClusters iteration
    // pattern). Without the cut the peel re-executes round t inside
    // every round > t and re-derives the backbone per branch (measured
    // 8.8 s; nesting action-scoped caches inside the loop instead
    // measured WORSE — the per-round broadcast subtrees multiply).
    // per-round DEGREES are checkpointed too (node-sized): the final
    // report joins rounds 0/2/3, so without the cut every edge-list
    // checkpoint of the peel would stay referenced by the result and
    // its storage could never be released before the report runs — and
    // degreeOf(e_t) was re-evaluated once inside round t+1's alive
    // filter and again in the report
    var e = ck(e0)
    var degs = List(ck(degreeOf(e)))
    for (_ <- 1 to 3) {
      val alive = degs.head.filter($"deg" >= k).select($"node")
      val prevE = e
      e = ck(e
        .join(alive.select($"node".as("u")), Seq("u"), "left_semi")
        .join(alive.select($"node".as("v")), Seq("v"), "left_semi")
        .select($"u", $"v"))
      degs = ck(degreeOf(e)) :: degs
      ck.drop(prevE)
    }
    val (d3, d2, d0) = (degs(0), degs(1), degs(3))
    d0.select($"node", $"deg".as("deg0"))
      .join(d2.select($"node", $"deg".as("deg2")), Seq("node"), "left")
      .join(d3.select($"node", $"deg".as("deg3")), Seq("node"), "left")
      .select($"node", $"deg0",
        coalesce($"deg2", lit(0L)).as("deg2"),
        coalesce($"deg3", lit(0L)).as("deg3"))
      .withColumn("in_core", $"deg3" >= k)
      .withColumn("stable", $"deg3" === $"deg2")
      .orderBy($"node")
  }

  val kcoreSql: String = {
    def round_(t: Int) =
      s"""alive$t AS (SELECT node FROM deg${t - 1} WHERE deg >= 5),
         |e$t AS (
         |  SELECT e.u, e.v FROM e${t - 1} e
         |  JOIN alive$t au ON au.node = e.u
         |  JOIN alive$t av ON av.node = e.v),
         |deg$t AS (
         |  SELECT node, COUNT(*) AS deg FROM (
         |    SELECT u AS node FROM e$t UNION ALL SELECT v AS node FROM e$t)
         |  GROUP BY 1)""".stripMargin
    "WITH " + backboneSql + """,
      |e0 AS (SELECT u, v FROM edges),
      |deg0 AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
      |  GROUP BY 1),
      |""".stripMargin +
      (1 to 3).map(round_).mkString(",\n") + """
      |SELECT d0.node, d0.deg AS deg0,
      |  COALESCE(d2.deg, 0) AS deg2, COALESCE(d3.deg, 0) AS deg3,
      |  COALESCE(d3.deg, 0) >= 5 AS in_core,
      |  COALESCE(d3.deg, 0) = COALESCE(d2.deg, 0) AS stable
      |FROM deg0 d0
      |LEFT JOIN deg2 d2 ON d2.node = d0.node
      |LEFT JOIN deg3 d3 ON d3.node = d0.node
      |ORDER BY d0.node""".stripMargin
  }

  /** Edges one union-find task takes, which sets the pass's partition
    * count P = ⌈edges / EdgesPerTask⌉. A task holds ≤ 2 nodes per edge in
    * a `LongMap` of parents (about 50 B a node: a key and a value slot at
    * load ≤ ½ plus the boxed parent), so 2^19 edges is ≤ 50 MiB and about
    * a second of CPU. Every graph the suite, pipebench and sf0.1 build is
    * far below it and runs as ONE task (P = 1).
    */
  private[ops] val EdgesPerTask = 1L << 19

  /** Connected components over an undirected pair list `(u, v)` (int or
    * long node ids): (node, component = min node id reachable) for every
    * node in a pair. Shared by G4 `concomp`, `llm_simhash_clusters` and the
    * near-dup pair graph's refresh and append relabel (C3/C12/C18 read its
    * labels layer).
    *
    * One executor pass, not label-propagation rounds:
    *  1. the pairs are checkpointed once; their count rides that job as an
    *     observation and sets P ([[EdgesPerTask]]);
    *  2. one `mapPartitions` union-find over the hash-partitioned pairs
    *     emits (node, local root = min node of its local component);
    *  3. at P = 1 that pass IS the answer: the frontier is empty by
    *     construction. At P > 1 a node that several partitions saw links
    *     their local roots; min-label rounds run over that root–root
    *     frontier graph only, and each node maps through one join.
    * Correctness at P > 1: two local components of one component share a
    * node, so their roots are joined in the frontier graph, and the
    * component's min node is the local root of every local component it
    * is in — so min over the frontier = min over the component.
    *
    * The driver only plans and reads one count; it never holds nodes or
    * edges (round 17 rejected a driver-side union-find). A batch-sized
    * graph costs two jobs: the checkpoint and the caller's action, where
    * label propagation took one per round after an init job and planned
    * each round on the driver (0.3–0.5 s a round, ROADMAP direction 5).
    *
    * Output columns carry the type and nullability of the union of the
    * two endpoint columns, as the label-propagation form did — the labels
    * layer's parquet footer records them. A pair with a null endpoint
    * connects nothing; its other endpoint is still a node, and any null
    * endpoint yields one (null, null) row.
    * Contract: execute the result once (its checkpoints are released by
    * its consuming action, the [[Ckpt]] lifetime rule).
    */
  def connectedComponents(pairs: DataFrame): DataFrame = components(pairs, EdgesPerTask)

  /** [[connectedComponents]] with the per-task edge budget as a seam, so a
    * spec can force a small graph onto the P > 1 frontier path. */
  private[ops] def components(pairs: DataFrame, edgesPerTask: Long): DataFrame = Ckpt.scope { ck =>
    val spark = pairs.sparkSession
    import spark.implicits._
    val uv = pairs.toDF("u", "v")
    val nodeField = uv.select($"u".as("node")).unionByName(uv.select($"v".as("node"))).schema("node")
    val box: Long => Any = nodeField.dataType match {
      case LongType => x => x
      case IntegerType => x => x.toInt
      case t => throw new IllegalArgumentException(s"connectedComponents: node ids must be int or long, got $t")
    }
    val schema = StructType(Seq(nodeField, nodeField.copy(name = "component")))
    val obs = Observation()
    val p = ck(uv.select($"u".cast(LongType), $"v".cast(LongType))
      .observe(obs, count(lit(1)).as("n")))
    // an input the optimizer proves empty drops the observation: 0 edges
    val n = obs.get.getOrElse("n", 0L).asInstanceOf[Long]
    val parts = math.max(1L, (n + edgesPerTask - 1) / edgesPerTask).toInt
    val local = (if (parts == 1) p.coalesce(1) else p.repartition(parts, $"u"))
      .mapPartitions(rows => unionFind(rows, box))(Encoders.row(schema))
    if (parts == 1) local
    else {
      val lc = ck(local)
      ck.drop(p)
      // a node several partitions saw links its local roots: one star
      // per such node, from its min root, is the frontier graph
      val multi = lc.groupBy($"node").agg(min($"component").as("m"), count(lit(1)).as("k"))
        .filter($"k" > 1)
      val frontier = lc.join(multi, Seq("node"))
        .select($"m".as("u"), $"component".as("v")).filter($"u" =!= $"v")
      val g = propagate(frontier).select($"node".as("root"), $"component".as("g"))
      // every occurrence of a node maps to the same label, so any one is kept
      lc.join(g, lc("component") === g("root"), "left")
        .select($"node", coalesce($"g", $"component").as("component"))
        .dropDuplicates("node")
    }
  }

  /** One partition's union-find: (node, min node of its local component)
    * per node seen. Parents are node ids, linked by min id with path
    * halving, so a root is its component's min; a pair with a null
    * endpoint unites nothing. */
  private def unionFind(rows: Iterator[Row], box: Long => Any): Iterator[Row] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = parent.getOrElseUpdate(x0, x0)
      while (parent(x) != x) { val up = parent(parent(x)); parent(x) = up; x = up }
      x
    }
    var sawNull = false
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) {
        sawNull = true
        for (i <- 0 to 1 if !r.isNullAt(i)) find(r.getLong(i))
      } else {
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a < b) parent(b) = a else parent(a) = b
      }
    }
    val labelled = parent.keys.toArray.iterator.map(x => Row(box(x), box(find(x))))
    if (sawNull) Iterator.single(Row(null, null)) ++ labelled else labelled
  }

  /** Min-label propagation with pointer jumping over `(u, v)` pairs — the
    * P > 1 frontier stage of [[connectedComponents]] (the frontier graph's
    * nodes are local roots, so its state is root-sized). The driver loop
    * checks a converged label SUM (monotone: min-propagation only ever
    * decreases a label); pointer jumping halves path lengths each round,
    * O(log n) rounds. Each round's state is a lazy local checkpoint that
    * the convergence sum materializes; the prior round's blocks are freed
    * once the next round's are.
    */
  private def propagate(pairs: DataFrame): DataFrame = Ckpt.scope { ck =>
    import pairs.sparkSession.implicits._
    // round-16 job-count fuse: every round's state is a LAZY local
    // checkpoint — it roots the frame at a LogicalRDD leaf IMMEDIATELY
    // (the same planner/lineage truncation the eager form gave, so the
    // round-4 snowball lesson still holds) but defers block
    // materialization to the first consuming action, which here is the
    // convergence sum. One job per round instead of checkpoint-job +
    // sum-job, and one for the whole init. (A plain .cache() was tried
    // first and HUNG the suite: caches substitute InMemoryRelation only
    // at execution — the ANALYZED tree still grows ~4× per round, and
    // plan canonicalization went exponential.)
    val p = ck(pairs.toDF("u", "v"), eager = false)
    val edges = p.select($"u".as("src"), $"v".as("dst"))
      .unionByName(p.select($"v".as("src"), $"u".as("dst")))
    var labels = ck(edges.select($"src".as("node")).distinct()
      .withColumn("lbl", $"node"), eager = false)
    def labelSum(df: DataFrame): Option[BigInt] =
      Option(df.agg(sum($"lbl".cast("decimal(38,0)"))).head().getDecimal(0))
        .map(d => BigInt(d.toBigInteger))
    var prevSum = labelSum(labels) // materializes the label AND pair ckpts
    var converged = prevSum.isEmpty
    var rounds = 0
    while (!converged && rounds < 20) {
      val neighborMin = edges
        .join(labels.select($"node".as("dst"), $"lbl".as("dst_lbl")), Seq("dst"))
        .groupBy($"src".as("node")).agg(min($"dst_lbl").as("nb_lbl"))
      val prop = labels.join(neighborMin, Seq("node"), "left")
        .select($"node", least($"lbl", coalesce($"nb_lbl", $"lbl")).as("lbl"))
      val next = ck(prop.as("x")
        .join(prop.select($"node".as("lbl"), $"lbl".as("lbl2")).as("m"), Seq("lbl"), "left")
        .select($"node", least($"lbl", coalesce($"lbl2", $"lbl")).as("lbl")), eager = false)
      val s = labelSum(next) // the ONE action: materializes next's blocks
      converged = s == prevSum
      prevSum = s
      // this round's checkpoint is materialized — the prior round's
      // label blocks are dead
      ck.drop(labels)
      labels = next
      rounds += 1
    }
    labels.select($"node", $"lbl".as("component"))
  }

  /** G4 connected components of the co-purchase backbone — the component
    * structure of the supplier graph (market segments), the third classic
    * kernel after ranking (G1) and density (G2/G3). The Spark side runs
    * [[connectedComponents]] (one union-find pass: the backbone is one
    * task's worth of edges); the DuckDB oracle computes the SAME labels
    * from first principles with a recursive CTE (min reachable node id),
    * so the gate checks algorithm-independent ground truth, not a replay
    * of our iteration schedule.
    * Output: every backbone node with its component root and the
    * component's size — total order on node. The size is a window count
    * over the one CC result, so the union-find runs once (a self-join on
    * the sizes would plan it twice); the null-component filter keeps
    * exactly the rows an inner join on `component` would.
    */
  def concomp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connectedComponents(backboneEdges(spark, dir).select($"u", $"v"))
      .filter($"component".isNotNull)
      .select($"node", $"component",
        count(lit(1)).over(Window.partitionBy($"component")).as("comp_size"))
      .orderBy($"node")
  }

  val concompSql: String =
    "WITH RECURSIVE " + backboneSql + """,
      |und AS (
      |  SELECT u AS src, v AS dst FROM edges
      |  UNION ALL
      |  SELECT v AS src, u AS dst FROM edges),
      |reach(node, lbl) AS (
      |  SELECT DISTINCT src AS node, src AS lbl FROM und
      |  UNION
      |  SELECT und.dst AS node, reach.lbl
      |  FROM reach JOIN und ON und.src = reach.node),
      |cc AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
      |sz AS (SELECT component, COUNT(*) AS comp_size FROM cc GROUP BY component)
      |SELECT cc.node, cc.component, sz.comp_size
      |FROM cc JOIN sz ON sz.component = cc.component
      |ORDER BY cc.node""".stripMargin

  /** G5 BFS hop distance from a deterministic seed (the minimum backbone
    * node id) — single-source reachability, the traversal kernel backing
    * "within k hops of a trusted set" curation filters. FRONTIER
    * expansion: round t joins only the frontier (nodes first reached at
    * t−1) against the edge list and anti-joins the visited set, so work
    * per round is frontier-sized, not graph-sized — the textbook
    * distributed BFS shape. A FIXED 6-round horizon (not a convergence
    * loop) keeps both engines on the same trajectory; the oracle replays
    * reachability with a depth-bounded recursive CTE and takes MIN(d).
    * Unreached nodes report dist = −1 (explicit, not dropped).
    * 100 TB: per-round cost ∝ |frontier| × avg-degree; visited/frontier
    * frames are node-sized; localCheckpoint truncates per-round lineage.
    */
  def hopDist(spark: SparkSession, dir: String): DataFrame = hopDistFrom(backboneEdges(spark, dir))

  /** The G5 BFS over an undirected (u, v) edge frame. */
  private[graft] def hopDistFrom(edges: DataFrame): DataFrame = Ckpt.scope { ck =>
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = ck(edges)
    val und = e0.select($"u".as("src"), $"v".as("dst"))
      .unionByName(e0.select($"v".as("src"), $"u".as("dst")))
    val nodes = und.select($"src".as("node")).distinct()
    val seed = nodes.agg(min($"node").as("seed"))
    // BFS layers are DISJOINT by construction, so the visited set is just
    // the union of the already-materialized layer checkpoints — one
    // checkpoint per round (the layer), not two. An empty frontier ends
    // the loop early (no node past hop t exists — result-identical to
    // running out the horizon, so the fixed-bound oracle still matches);
    // isEmpty on a checkpointed frame is a trivial job.
    var layers = List(ck(
      nodes.join(broadcast(seed), $"node" === $"seed")
        .select($"node", lit(0).as("dist"))))
    var t = 1
    var exhausted = false
    while (t <= 6 && !exhausted) {
      val visited = layers.map(_.select($"node")).reduce(_ unionByName _)
      val f = ck(und
        .join(layers.head.select($"node".as("src")), Seq("src"), "left_semi")
        .select($"dst".as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select($"node", lit(t).as("dist")))
      exhausted = f.isEmpty
      if (!exhausted) layers ::= f
      t += 1
    }
    // every layer checkpoint AND the edge checkpoint (via the lazy
    // `nodes` distinct) is read by the result at action time
    nodes.join(layers.reduce(_ unionByName _), Seq("node"), "left")
      .select($"node", coalesce($"dist", lit(-1)).as("dist"))
      .orderBy($"node")
  }

  val hopDistSql: String =
    "WITH RECURSIVE " + backboneSql + """,
      |und AS (
      |  SELECT u AS src, v AS dst FROM edges
      |  UNION ALL
      |  SELECT v AS src, u AS dst FROM edges),
      |nodes AS (SELECT DISTINCT src AS node FROM und),
      |reach(node, d) AS (
      |  SELECT MIN(node), 0 FROM nodes
      |  UNION
      |  SELECT und.dst, reach.d + 1
      |  FROM reach JOIN und ON und.src = reach.node
      |  WHERE reach.d < 6),
      |dist AS (SELECT node, CAST(MIN(d) AS INTEGER) AS d FROM reach GROUP BY node)
      |SELECT n.node, COALESCE(dist.d, -1) AS dist
      |FROM nodes n LEFT JOIN dist ON dist.node = n.node
      |ORDER BY n.node""".stripMargin

  /** G6 link prediction on the co-purchase backbone — the graph kernel a
    * recommender/data-collection pipeline runs to propose edges that are
    * LIKELY but absent (which supplier pairs to co-source next; which
    * near-dup clusters to re-check). Scores every non-adjacent pair with
    * ≥1 common neighbor by the Resource Allocation index
    * Σ_z 1/deg(z) (Zhou et al. 2009) plus the raw common-neighbor count,
    * and returns the top 20.
    *
    * Determinism: RA's addends are scaled to 1e6 fixed-point with INTEGER
    * division (1000000 div deg — identical in both engines, no IEEE sum
    * order) and summed as exact int64; (ra, cn, a, b) is a total order.
    *
    * 100 TB: wedge enumeration (the und ⋈ und equi-join on the shared
    * neighbor) is the same forward-degree-bounded shape as G2's triangle
    * join — hub nodes get the documented df-cap before the self-join; the
    * known-edge removal is a shuffle anti-join on the oriented pair; the
    * global top-20 lowers to TakeOrderedAndProject (O1 discipline), never
    * a single-partition window over all candidates.
    */
  def linkpred(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = backboneEdges(spark, dir)
    val und = edges.select($"u".as("node"), $"v".as("nbr"))
      .unionByName(edges.select($"v".as("node"), $"u".as("nbr")))
    val deg = und.groupBy($"node").agg(count(lit(1)).as("deg"))
    val scored = und.as("x")
      .join(und.as("y"), $"x.nbr" === $"y.nbr" && $"x.node" < $"y.node")
      .select($"x.node".as("a"), $"y.node".as("b"), $"x.nbr".as("z"))
      .join(deg.withColumnRenamed("node", "z"), Seq("z"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div deg")).as("ra_scaled"))
      .join(edges, $"a" === $"u" && $"b" === $"v", "left_anti")
    val top = scored
      .orderBy($"ra_scaled".desc, $"cn".desc, $"a", $"b")
      .limit(20)
    top.withColumn("rnk", row_number()
        .over(Window.orderBy($"ra_scaled".desc, $"cn".desc, $"a", $"b")).cast("int"))
      .select($"rnk", $"a", $"b", $"cn", $"ra_scaled")
      .orderBy($"rnk")
  }

  val linkpredSql: String =
    "WITH " + backboneSql + """,
      |und AS (
      |  SELECT u AS node, v AS nbr FROM edges
      |  UNION ALL
      |  SELECT v AS node, u AS nbr FROM edges),
      |deg AS (SELECT node, COUNT(*) AS deg FROM und GROUP BY 1),
      |cand AS (
      |  SELECT x.node AS a, y.node AS b, x.nbr AS z
      |  FROM und x JOIN und y ON x.nbr = y.nbr AND x.node < y.node),
      |scored0 AS (
      |  SELECT c.a, c.b, COUNT(*) AS cn,
      |    CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_scaled
      |  FROM cand c JOIN deg d ON d.node = c.z
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT s.* FROM scored0 s
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE s.a = e.u AND s.b = e.v))
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY ra_scaled DESC, cn DESC, a, b) AS INT) AS rnk,
      |  a, b, cn, ra_scaled
      |FROM scored ORDER BY ra_scaled DESC, cn DESC, a, b LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_pagerank"  -> (pagerank _),
    "g2_triangles" -> (triangles _),
    "g3_kcore"     -> (kcore _),
    "g4_concomp"   -> (concomp _),
    "g5_hopdist"   -> (hopDist _),
    "g6_linkpred"  -> (linkpred _),
    "g7_labelprop" -> (labelProp _),
    "g0_backbone_mv" -> (backboneMaterialize _),
    "g8_sssp" -> (sssp _),
    "g9_pipeline" -> (graphPipeline _))

  val oracles: Map[String, String] = Map(
    "g1_pagerank"  -> pagerankSql,
    "g2_triangles" -> trianglesSql,
    "g3_kcore"     -> kcoreSql,
    "g4_concomp"   -> concompSql,
    "g5_hopdist"   -> hopDistSql,
    "g6_linkpred"  -> linkpredSql,
    "g7_labelprop" -> labelPropSql,
    "g0_backbone_mv" -> backboneMaterializeSql,
    "g8_sssp" -> ssspSql,
    "g9_pipeline" -> graphPipelineSql)
}
