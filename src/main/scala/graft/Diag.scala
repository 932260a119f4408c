package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostics main: per-query cost attribution, plan dumps and large-input
  * synthesis. Not part of the driver contract.
  *
  * Usage:
  *   sbt 'runMain graft.Diag profile q1,q2,... [passes]'
  *   sbt 'runMain graft.Diag plan <outDir> <suffix> q1,q2,...'
  *   sbt 'runMain graft.Diag replicate <srcDir> <outDir> <rep>'
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4);
  * SPARK_GRAFT_SHUFFLE_PARTS / SPARK_GRAFT_AQE pin a config for an A/B.
  */
object Diag {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    def names(csv: String): Seq[String] = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def withSession(dir: String)(f: SparkSession => Unit): Unit = {
      val spark = SparkEntry.session(dir, cpus)
      try f(spark) finally spark.stop()
    }
    args.toList match {
      case "profile" :: qs :: rest if rest.size <= 1 =>
        withSession(sfDir)(profile(_, sfDir, names(qs), rest.headOption.fold(1)(_.toInt)))
      case List("plan", outDir, suffix, qs) =>
        withSession(sfDir)(plan(_, sfDir, outDir, suffix, names(qs)))
      case List("replicate", srcDir, outDir, rep) =>
        withSession(srcDir)(replicate(_, srcDir, outDir, rep.toInt))
      case _ =>
        System.err.println("usage: Diag profile <q1,q2,...> [passes] | " +
          "plan <outDir> <suffix> <q1,...> | replicate <srcDir> <outDir> <rep>")
        sys.exit(2)
    }
  }

  /** Spark-side cost of one pass. `slowest` holds the three longest stages
    * as (duration ms, task count).
    */
  final case class Cost(wallS: Double = 0, jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                        taskMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
                        spill: Long = 0, slowest: List[(Long, Int)] = Nil)

  final case class QueryProfile(query: String, passes: Seq[Cost], leakedRdds: Int)

  /** Sums every job, stage and task since the last [[take]]. */
  private final class Recorder extends SparkListener {
    private var cur = Cost()
    private def add(f: Cost => Cost): Unit = synchronized { cur = f(cur) }
    def take(): Cost = synchronized { val c = cur; cur = Cost(); c }

    override def onJobStart(e: SparkListenerJobStart): Unit = add(c => c.copy(jobs = c.jobs + 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val ms = (for (s <- i.submissionTime; d <- i.completionTime) yield d - s).getOrElse(0L)
      add(c => c.copy(stages = c.stages + 1, tasks = c.tasks + i.numTasks,
        slowest = ((ms, i.numTasks) :: c.slowest).sortBy(-_._1).take(3)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add(c => c.copy(taskMs = c.taskMs + m.executorRunTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** One warm-up pass, then `passes` measured passes per query. A pass
    * consumes the full output through a `noop` write (a `count()` lets
    * Catalyst prune the very columns being measured) and ends with
    * `clearCache`; the listener bus is drained before the counters are
    * read, so a job's last stage is never billed to the next pass. After
    * each query, the persisted RDDs it left behind are reported.
    */
  def profile(spark: SparkSession, sfDir: String, queries: Seq[String],
              passes: Int): Seq[QueryProfile] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    println(s"[profile] sf=$sfDir partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"aqe=${spark.conf.get("spark.sql.adaptive.enabled")}")
    println(f"${"query"}%-26s ${"pass"}%4s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"task_s"}%7s ${"shufR_MB"}%8s ${"shufW_MB"}%8s ${"spill_MB"}%8s  slowest(ms/tasks)")
    def mb(b: Long): Double = b / 1048576.0
    try queries.map { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        throw new IllegalArgumentException(s"no registered query '$q'"))
      val before = sc.getPersistentRDDs.keySet.toSet
      def pass(): Cost = {
        GraftListenerBridge.drain(sc)
        rec.take()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        GraftListenerBridge.drain(sc)
        rec.take().copy(wallS = wall)
      }
      pass()
      val costs = (1 to passes).map { i =>
        val c = pass()
        println(f"$q%-26s $i%4d ${c.wallS}%7.2f ${c.jobs}%5d ${c.stages}%6d ${c.tasks}%6d " +
          f"${c.taskMs / 1000.0}%7.2f ${mb(c.shuffleRead)}%8.2f ${mb(c.shuffleWrite)}%8.2f " +
          f"${mb(c.spill)}%8.2f  ${c.slowest.map { case (ms, t) => s"$ms/$t" }.mkString(",")}")
        c
      }
      val leaked = sc.getPersistentRDDs.keys.count(!before(_))
      println(s"[profile] $q leaked_rdds=$leaked")
      QueryProfile(q, costs, leaked)
    } finally sc.removeSparkListener(rec)
  }

  /** `.explain("formatted")` of each query's result frame to
    * `<outDir>/<query>_<suffix>.txt` (the `plans/r16`, `plans/r17` layout).
    * For queries with side-effectful build stages (MV refreshes, appends)
    * the dump is the final frame's plan, not the build stages'.
    */
  def plan(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
           queries: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { name =>
      try {
        val text = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), text)
        println(s"[plan] $name -> $outDir/${name}_$suffix.txt (${text.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plan] $name FAILED: ${e.getMessage}")
      }
    }
  }

  /** Replica key offset; [[replicate]] rejects a source whose keys reach it. */
  private val Shift = 100000000L

  /** Keys each replicated table shifts by `replica · Shift`. Every foreign
    * key shifts by the same offset as the key it references, so join
    * cardinalities scale linearly with `rep`; tables not listed (region,
    * nation, embeddings) are copied once.
    */
  private val ReplicaKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"))

  /** Writes every driver table of `srcDir` to `outDir`, `rep` times over
    * (rep = 80 on sf0.1 is the 0.9 GiB input of OPTIMIZATION_r17.md
    * §large-branch; rep = 2 or 4 the dedup-scaling inputs). Replica r > 0
    * of a document gets the token ` rep<r>` appended to its text, so
    * cross-replica documents are near-dups rather than exact clones.
    * Idempotent: a marker file skips a finished synthesis.
    */
  def replicate(spark: SparkSession, srcDir: String, outDir: String, rep: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_SYNTH_OK_$rep")
    if (marker.exists()) { println(s"[replicate] $outDir already holds rep=$rep"); return }
    val r = spark.range(0, rep).select(col("id").as("r"))
    Tables.names.foreach { name =>
      val t = if (name == "events") Tables.events(spark, srcDir) else Tables.load(spark, srcDir, name)
      val out = ReplicaKeys.get(name).fold(t) { keys =>
        val top = t.select(keys.map(k => max(col(k))): _*).head()
        require(keys.indices.forall(i => top.isNullAt(i) || top.getAs[Number](i).longValue < Shift),
          s"$name keys in $srcDir reach $Shift: replicas would collide")
        val shifted = keys.foldLeft(t.crossJoin(r))((d, k) => d.withColumn(k, col(k) + col("r") * Shift))
        val tagged = if (name != "documents") shifted
          else shifted.withColumn("text",
            when(col("r") === 0, col("text")).otherwise(concat(col("text"), lit(" rep"), col("r"))))
        tagged.drop("r")
      }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    marker.createNewFile(): Unit
    println(f"[replicate] $srcDir x$rep -> $outDir " +
      f"(${graft.ops.Tuning.inputBytes(outDir) / 1048576.0}%.1f MiB)")
  }
}
