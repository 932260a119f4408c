package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftListenerBridge
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Graph.connectedComponents: the one-pass union-find against a brute-force
  * BFS oracle, its worst cases for label propagation, the output schema,
  * the forced multi-partition frontier path, and its job and storage cost.
  */
class GraphSpec extends SparkSpec {

  /** (node, min node reachable) by BFS over the undirected pair list. */
  private def bfsLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    for ((a, b) <- pairs) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val label = mutable.Map.empty[Long, Long]
    for (s <- adj.keys if !label.contains(s)) {
      val comp = mutable.ArrayBuffer(s)
      val seen = mutable.Set(s)
      var i = 0
      while (i < comp.size) {
        for (n <- adj(comp(i)) if seen.add(n)) comp += n
        i += 1
      }
      val m = comp.min
      comp.foreach(label(_) = m)
    }
    label.toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  private def pairsDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("u", "v")
  }

  /** Sparse random graphs: many small components, some long chains. */
  private def randomPairs(seed: Long, nodes: Int, edges: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    // ids spread over a wide range so hashing and ordering are exercised
    val ids = Array.fill(nodes)(rnd.nextLong() >>> 20)
    Seq.fill(edges)((ids(rnd.nextInt(nodes)), ids(rnd.nextInt(nodes))))
  }

  /** The checkpoint releases ride the async listener bus: poll. */
  private def awaitNoLeak(before: scala.collection.Set[Int]): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"leaked RDDs: $leaked")
  }

  private val pathPairs: Seq[(Long, Long)] = {
    // a 2,000-node path, listed in shuffled order with the min at one end
    val nodes = (1L to 2000L).map(_ * 7 + 3)
    new scala.util.Random(11).shuffle(nodes.zip(nodes.tail))
  }

  test("CC equals the BFS min-reachable oracle on seeded random graphs") {
    for ((seed, nodes, edges) <- Seq((1L, 60, 40), (2L, 300, 280), (3L, 1000, 600), (4L, 50, 200))) {
      val ps = randomPairs(seed, nodes, edges)
      assert(labels(Graph.connectedComponents(pairsDf(ps))) === bfsLabels(ps), s"seed $seed")
    }
  }

  test("CC labels a 2,000-node path with its min end in one pass") {
    val got = labels(Graph.connectedComponents(pairsDf(pathPairs)))
    assert(got.size === 2000)
    assert(got.values.toSet === Set(10L))
  }

  test("CC: duplicate, reversed and self-loop pairs add no connectivity") {
    val base = Seq((5L, 9L), (9L, 12L), (20L, 21L))
    val noisy = base ++ Seq((9L, 5L), (5L, 9L), (12L, 9L), (30L, 30L), (21L, 21L), (12L, 12L))
    val got = labels(Graph.connectedComponents(pairsDf(noisy)))
    assert(got === bfsLabels(base) + (30L -> 30L))
  }

  test("CC output schema: the union of the endpoint columns' type and nullability") {
    import spark.implicits._
    def field(t: DataType, nullable: Boolean) =
      StructType(Seq(StructField("node", t, nullable), StructField("component", t, nullable)))
    val cases: Seq[(String, DataFrame, StructType)] = Seq(
      ("int", Seq((1, 2), (2, 3)).toDF("u", "v"), field(IntegerType, false)),
      ("long", Seq((1L, 2L), (2L, 3L)).toDF("u", "v"), field(LongType, false)),
      ("nullable long", Seq((Option(1L), Option(2L))).toDF("u", "v"), field(LongType, true)),
      ("int with long", Seq((1, 2L), (2, 3L)).toDF("u", "v"), field(LongType, false)),
      ("int with nullable long", Seq((1, Option(2L))).toDF("u", "v"), field(LongType, true)),
      ("empty", Seq.empty[(Long, Long)].toDF("u", "v"), field(LongType, false)),
      // parquet reads are nullable: the backbone and pair-graph inputs
      ("backbone", Graph.backboneEdges(spark, sfDir).select($"u", $"v"), field(LongType, true)))
    for ((name, df, want) <- cases) {
      val cc = Graph.connectedComponents(df)
      assert(cc.schema === want, name)
      cc.collect()
    }
    val ints = Graph.connectedComponents(Seq((4, 2), (2, 3), (8, 9)).toDF("u", "v"))
    assert(ints.as[(Int, Int)].collect().toSet === Set((4, 2), (2, 2), (3, 2), (8, 8), (9, 8)))
  }

  test("CC: a null endpoint connects nothing and yields one (null, null) row") {
    import spark.implicits._
    val in = Seq((Option(1L), Option.empty[Long]), (Option.empty[Long], Option.empty[Long]),
      (Option(2L), Option(3L)))
    val got = Graph.connectedComponents(in.toDF("u", "v")).as[(Option[Long], Option[Long])]
      .collect()
    assert(got.sorted === Array((None, None), (Some(1L), Some(1L)), (Some(2L), Some(2L)),
      (Some(3L), Some(2L))).sorted)
  }

  test("CC forced onto the P > 1 frontier path equals the oracle and the P = 1 schema") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for ((ps, budget) <- Seq((randomPairs(5, 400, 380), 50L), (pathPairs, 300L),
                             (randomPairs(6, 80, 300), 40L))) {
      val multi = Graph.components(pairsDf(ps), budget)
      // the frontier path maps each node through a join; P = 1 has none
      assert(multi.queryExecution.analyzed.exists(_.isInstanceOf[Join]))
      assert(labels(multi) === bfsLabels(ps))
    }
    val ints = Seq((4, 2), (2, 3), (8, 9), (3, 8), (10, 11)).toDF("u", "v")
    val forced = Graph.components(ints, 1)
    val onePass = Graph.connectedComponents(ints)
    assert(forced.schema === onePass.schema)
    onePass.collect() // a constructed result is executed once: its checkpoint then goes
    assert(forced.as[(Int, Int)].collect().toSet ===
      Set((4, 2), (2, 2), (3, 2), (8, 2), (9, 2), (10, 10), (11, 10)))
    val withNull = Seq((Option(1L), Option.empty[Long]), (Option.empty[Long], Option(4L)),
      (Option(2L), Option(1L))).toDF("u", "v")
    assert(Graph.components(withNull, 1).as[(Option[Long], Option[Long])].collect().sorted ===
      Array((None, None), (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(4L), Some(4L))).sorted)
    awaitNoLeak(before)
  }

  test("CC on a batch-sized graph runs at most 2 jobs and leaves no persisted RDDs") {
    val sc = spark.sparkContext
    val ps = randomPairs(7, 500, 400)
    val in = pairsDf(ps)
    GraftListenerBridge.drain(sc)
    val before = sc.getPersistentRDDs.keySet
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    val got = try {
      val l = labels(Graph.connectedComponents(in))
      GraftListenerBridge.drain(sc)
      l
    } finally sc.removeSparkListener(counter)
    assert(got === bfsLabels(ps))
    assert(jobs.get <= 2, s"${jobs.get} jobs")
    awaitNoLeak(before)
  }
}
