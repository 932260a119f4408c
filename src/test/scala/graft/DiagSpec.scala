package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The diagnostics main's three commands, driven through their library
  * entry points on the shared session at sf0.001.
  */
class DiagSpec extends SparkSpec {

  test("profile: a checkpointing query reports its jobs and leaks no RDD") {
    val Seq(p) = Diag.profile(spark, sfDir, Seq("g8_sssp"), passes = 1)
    assert(p.passes.size === 1)
    val c = p.passes.head
    assert(c.jobs >= 1)
    assert(c.stages >= 1 && c.tasks >= c.stages)
    assert(c.slowest.nonEmpty && c.slowest.size <= 3)
    assert(p.leakedRdds === 0)
  }

  test("plan: writes a non-empty <query>_<suffix>.txt") {
    val out = Files.createTempDirectory("graft_diag_plan_").toString
    Diag.plan(spark, sfDir, out, "before", Seq("sql_tpch_q3"))
    val f = new java.io.File(s"$out/sql_tpch_q3_before.txt")
    assert(f.isFile && f.length() > 0)
  }

  test("replicate: rep = 2 doubles rows and joins, keys stay unique") {
    val out = Files.createTempDirectory("graft_diag_rep_").toString
    Diag.replicate(spark, sfDir, out, 2)
    def rows(dir: String, t: String): Long = Tables.load(spark, dir, t).count()
    for (t <- Seq("orders", "lineitem", "documents"))
      assert(rows(out, t) === 2 * rows(sfDir, t), t)
    for ((t, k) <- Seq("orders" -> "o_orderkey", "documents" -> "doc_id")) {
      val df = Tables.load(spark, out, t)
      assert(df.select(k).distinct().count() === df.count(), s"$t.$k not unique")
    }
    def joined(dir: String): Long =
      Tables.orders(spark, dir).join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .count()
    assert(joined(out) === 2 * joined(sfDir))
    // replica 1 is a near-dup of replica 0, not an exact clone
    assert(Tables.documents(spark, out).select("text").distinct().count() ===
      2 * Tables.documents(spark, sfDir).select("text").distinct().count())
    // the marker makes a second call a no-op
    val mtime = new java.io.File(s"$out/orders.parquet").lastModified()
    Diag.replicate(spark, sfDir, out, 2)
    assert(new java.io.File(s"$out/orders.parquet").lastModified() === mtime)
  }

  test("replicate: a source key at the replica offset is rejected") {
    val src = Files.createTempDirectory("graft_diag_bigkey_")
    for (t <- Tables.names if t != "customer")
      Files.createSymbolicLink(src.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
    Tables.customer(spark, sfDir).withColumn("c_custkey", col("c_custkey") + 100000000L)
      .write.parquet(s"$src/customer.parquet")
    val e = intercept[IllegalArgumentException](Diag.replicate(spark, src.toString, s"$src/out", 2))
    assert(e.getMessage.contains("customer"))
    assert(!new java.io.File(s"$src/out/_SYNTH_OK_2").exists())
  }
}
