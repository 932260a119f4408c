package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * emits one JSON line with per-query wall seconds.
  *
  * Methodology (round-3 fixes):
  *  - fixed query order (sorted by name) so per-query numbers are comparable
  *    across rounds (Scala Map hash order previously shuffled them);
  *  - one full warm-up pass before the measured pass, so JVM/codegen/IO
  *    warm-up is not billed to whichever query happens to run first;
  *  - the JSON line is ALSO written to a file (SPARK_GRAFT_BENCH_OUT, default
  *    ./bench_result.json) because sbt's forked-run logger prefixes stdout
  *    with [info], which has broken driver-side parsing two rounds running.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.session(sfDir, cpus.toInt)

    // Optional comma-separated allowlist for local profiling runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (ordered.isEmpty) {
      // empty/typo'd filter: fail loudly instead of clobbering the last
      // real bench_result.json with a zero-query "run"
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY=${only.mkString} matches no query; aborting")
      spark.stop()
      sys.exit(1)
    }
    // Warm-up: run everything once, ignore timings and failures.
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // Measured: best of 3 passes per query — drops GC/compilation spikes
    // that made earlier rounds' per-query deltas pure noise. Each pass ends
    // with clearCache so queries that .cache() internally don't leave blocks
    // pinned for the rest of the suite (round-4 numbers showed up to 7×
    // inflation on late-running queries from that accumulated pressure);
    // every measurement is self-contained and pays its own cache build.
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    // Passes are scheduled ROUND-ROBIN across queries (all pass-1s in
    // query order, then all pass-2s, then all pass-3s) instead of three
    // consecutive passes per query: a transient box-contention window —
    // round 13's driver run had a multi-minute one — then poisons at most
    // ONE pass of each affected query instead of all three of a few, so
    // min-of-3 actually recovers the clean number. The per-query work and
    // the min-of-3 semantics are unchanged; only the schedule moves.
    val passRounds: Seq[Seq[Double]] =
      (1 to 3).map(_ => ordered.map { case (_, fn) => timeOnce(fn) })
    val passes = ordered.zipWithIndex.map { case ((name, _), i) =>
      name -> passRounds.map(_(i))
    }
    val results = passes.map { case (name, ts) => name -> ts.min }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Diagnosability fields (round-12: the driver's run and a same-commit
    // local run disagreed 287 s vs 185 s with no way to tell noise from
    // regression): the full JSON carries all 3 raw pass times per query
    // plus the JVM heap / cpu / env the run actually had, so a future
    // discrepancy localizes to "pass variance" (environment) vs "all
    // three passes slow" (plan). The driver-parsed compact line is
    // unchanged.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // env-sourced strings are attacker/typo-shaped — escape them, or a
    // quote in SPARK_DRIVER_MEM corrupts the very JSON this block was
    // added to make parseable
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val passesJson = passes.map { case (k, ts) =>
      jstr(k) + ":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val heapMaxGb = Runtime.getRuntime.maxMemory() / (1024.0 * 1024 * 1024)
    val envJson =
      s""""heap_max_gb":${fmt(heapMaxGb)},"cpus":${jstr(cpus)}""" +
        s""","driver_mem_env":${jstr(sys.env.getOrElse("SPARK_DRIVER_MEM", ""))}""" +
        s""","avail_processors":${Runtime.getRuntime.availableProcessors()}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passesJson,$envJson,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try Files.writeString(Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    // The driver captures only the last ~2000 chars of stdout and parses the
    // final line as JSON. With 88+ queries the full-precision line exceeds
    // that window (round 5: "parsed": null), so the LAST stdout line is a
    // compact variant — 3-decimal seconds, and if still too long, only the
    // slowest queries that fit. Full precision always lives in bench_result
    // .json and in the penultimate stdout line.
    println(line)
    def compactLine(qsub: Seq[(String, Double)]): String = {
      val m = qsub.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$m,"sf":"$sfDir"}"""
    }
    val maxLen = 1850
    var compact = compactLine(results)
    if (compact.length > maxLen) {
      // keep the slowest-first prefix that fits — those are the perf-relevant rows
      val bySlow = results.sortBy(-_._2)
      var k = bySlow.length
      while (k > 0 && compactLine(bySlow.take(k)).length > maxLen) k -= 1
      compact = compactLine(bySlow.take(k))
    }
    println(compact)
    spark.stop()
  }
}
