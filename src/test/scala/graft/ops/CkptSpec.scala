package graft
package ops

import org.apache.spark.sql.{DataFrame, GraftListenerBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The checkpoint lifetime rule ([[Ckpt.scope]]): a checkpoint the result
  * reads lives until the result's action and every other one goes when
  * the scope ends; a nested scope hands its result's checkpoints to the
  * enclosing one; a result over freed lineage is refused; and every
  * checkpointing operator leaves `getPersistentRDDs` as it found it when
  * one of its jobs fails.
  */
class CkptSpec extends SparkSpec {

  /** Releases on the consumed path ride the async listener bus: poll. */
  private def awaitNoLeak(before: scala.collection.Set[Int], what: String): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"$what leaked checkpoint blocks: $leaked")
  }

  private def persisted(df: DataFrame): Boolean = spark.sparkContext.getPersistentRDDs.contains(
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get)

  /** Passes ids through, throwing at execution time on id 7. */
  private val boom = udf((x: Long) => { if (x == 7L) throw new RuntimeException("boom"); x })

  /** A 40-node ring whose first job throws. */
  private def failingEdges: DataFrame = {
    import spark.implicits._
    spark.range(40).select(boom($"id").as("u"), (($"id" + 1) % 40).as("v"))
  }

  /** `op` fails inside a job and leaves no checkpoint registered. */
  private def failsWithoutLeak(what: String)(op: => DataFrame): Unit = {
    GraftListenerBridge.drain(spark.sparkContext)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](op.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e.toString)
    awaitNoLeak(before, s"failed $what")
  }

  test("scope: a checkpoint the result reads lives until its action; the others go at once") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var dead, read: DataFrame = null
    val result = Ckpt.scope { ck =>
      dead = ck(spark.range(10).toDF("x"))
      read = ck(dead.select(($"x" * 2).as("y")))
      read.agg(sum($"y"))
    }
    assert(!persisted(dead), "a checkpoint the result does not read must be freed at scope exit")
    GraftListenerBridge.drain(spark.sparkContext)
    assert(persisted(read), "the result's checkpoint must live until the result's action")
    assert(result.head().getLong(0) === 90L)
    awaitNoLeak(before, "consumed scope")
  }

  test("scope: a nested scope hands its result's checkpoints to the enclosing scope") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var inner: DataFrame = null
    val n = Ckpt.scope { _ =>
      inner = Ckpt.scope(ck => ck(spark.range(5).toDF("x")))
      val c = inner.count()
      GraftListenerBridge.drain(spark.sparkContext)
      assert(persisted(inner), "the enclosing scope owns the inner result's checkpoint")
      c
    }
    assert(n === 5L)
    assert(!persisted(inner), "a scope whose result reads no frame frees everything")
    awaitNoLeak(before, "nested scope")
  }

  test("scope: refuses a result that reads an unmaterialized checkpoint over freed ones") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](Ckpt.scope { ck =>
      val a = ck(spark.range(10).toDF("x"), eager = false)
      ck(a.select(($"x" + 1).as("y")), eager = false).select($"y")
    })
    awaitNoLeak(before, "refused scope")
  }

  test("failure: G8 sssp frees its edge and round checkpoints") {
    import spark.implicits._
    failsWithoutLeak("sssp")(Graph.ssspDistFrom(failingEdges.withColumn("shared", lit(5L))))
  }

  test("failure: G3 k-core frees its peel checkpoints") {
    failsWithoutLeak("k-core")(Graph.kcoreFrom(failingEdges))
  }

  test("failure: G5 hop distance frees its edge and layer checkpoints") {
    failsWithoutLeak("hop distance")(Graph.hopDistFrom(failingEdges))
  }

  test("failure: CC on the P > 1 frontier path frees its pair checkpoint") {
    failsWithoutLeak("connected components")(Graph.components(failingEdges, 8))
  }

  test("failure: the NSW beam search frees its beam checkpoints") {
    import spark.implicits._
    GraftExtensions.ensure(spark)
    val e = llm.Embeddings.vectors(spark, sfDir).filter($"vec_id" >= 5)
    val q = broadcast(llm.Embeddings.vectors(spark, sfDir).filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
    val adj = e.select(boom($"vec_id").as("src"), ($"vec_id" + 1).as("dst"))
    failsWithoutLeak("beam search")(llm.Embeddings.nswBeamSearch(e, q, adj))
  }

  test("checkpoint hygiene: consuming a checkpoint-heavy query releases its blocks") {
    // the round-12 monotonic per-pass slowdown, pinned at the root: a
    // localCheckpoint's storage must be gone once the query's consuming
    // action completes (clearCache never touches these blocks)
    for (name <- Seq("emb_nsw_topk", "g8_sssp", "g4_concomp", "g3_kcore", "g9_pipeline")) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(leaked.isEmpty, s"$name left checkpoint RDDs behind: $leaked")
    }
  }
}
