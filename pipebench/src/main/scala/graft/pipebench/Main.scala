package graft.pipebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation: a unit write (daily run, backfill load, ingest
  * batch) or a read. `rows` are input rows it committed, `inBytes` the
  * input bytes it consumed.
  */
final case class Op(kind: String, wallS: Double, rows: Long, inBytes: Long, error: Option[String])

/** The state at the end of the first whole cycle of timed operations:
  * the operations run, the bytes on disk under the output roots, the input
  * bytes committed and the live-heap samples taken by then.
  */
final case class CycleEnd(ops: Int, diskBytes: Long, committedInputBytes: Long, heapSamples: Int)

/** What a workload hands back for the metrics. */
final class Outcome {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Failed end-of-run checks; each one also fails the last write. */
  val finalChecks = mutable.ArrayBuffer.empty[String]
  var committedInputBytes = 0L
  var outputRoots: Seq[Path] = Nil
  /** Per timed staging call, as the program reported it: (files seen,
    * files new, staging rows added).
    */
  val stageCalls = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** NSW recall at k over the final corpus; 0 where there is no index. */
  var annRecallAtK = 0.0
  /** Heap in use after each full collection, see [[Ctx.sampleLiveHeap]]. */
  val liveHeapMb = mutable.ArrayBuffer.empty[Double]
  /** Set by [[Ctx.loop]] when the first whole cycle ends. */
  var firstCycle: Option[CycleEnd] = None

  def cycleEnd: CycleEnd =
    CycleEnd(ops.size, outputRoots.map(Workloads.bytesUnder).sum, committedInputBytes, liveHeapMb.size)
}

/** The benchmark's command line:
  *
  * {{{
  * Main --workload <wx_daily|corpus_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --root <run dir> --out <result file>
  * }}}
  *
  * It builds one local Spark session through the program's own
  * `ops.Tuning.configure` on the workload's generated input directory,
  * sets the workload up several times (reporting the median), runs timed
  * operations in a closed loop with one client until `--seconds` have
  * passed, checks every output, and prints each metric by name and unit.
  * The last stdout line is the result object; `--out` gets the same
  * object plus every metric and, for traced runs, the spans.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val out = Paths.get(a("out"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    require(Workloads.names.contains(workload), s"unknown workload $workload; one of ${Workloads.names.mkString(", ")}")

    var spark: SparkSession = null
    var trace: Trace = null
    var status = 1
    try {
      val ctx = new Ctx(root, seed, seconds, (inputDir: Path) => {
        spark = graft.ops.Tuning.configure(
            SparkSession.builder().master(s"local[$cores]"), inputDir.toString, cores)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.extensions", "graft.GraftExtensions")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", root.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        trace = new Trace(spark.sparkContext, traced)
        (spark, trace)
      })
      val outcome = Workloads.run(workload, ctx)
      val report = Report(workload, seed, traced, cores, outcome, trace)
      report.printTable()
      Files.write(out, report.fullJson.getBytes("UTF-8"))
      println(report.resultLine)
      status = if (report.correct) 0 else 1
    } catch {
      case NonFatal(e) =>
        System.err.println(s"pipebench: $workload failed: $e")
        e.printStackTrace()
    } finally {
      if (trace != null) trace.close()
      if (spark != null) spark.stop()
      deleteTree(root.resolve("work"))
    }
    System.out.flush()
    sys.exit(status)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) graft.ops.ArtifactRoots.delete(p.toString)
}

/** Per-run context: the run's private directory and the lazily built
  * session (built once the first set-up has generated its inputs).
  */
final class Ctx(val root: Path, val seed: Long, val seconds: Double,
                build: Path => (SparkSession, Trace)) {
  private var st: (SparkSession, Trace) = _
  /** Seconds spent building the session; excluded from set-up time. */
  var sessionS = 0.0
  def session(inputDir: Path): SparkSession = {
    if (st == null) {
      val t0 = System.nanoTime()
      st = build(inputDir)
      sessionS = (System.nanoTime() - t0) / 1e9
    }
    st._1
  }
  def spark: SparkSession = st._1
  def trace: Trace = st._2
  def work(name: String): Path = Files.createDirectories(root.resolve("work").resolve(name))

  /** Times one set-up repetition, minus any session build inside it. */
  def timeSetup(o: Outcome)(body: => Unit): Unit = {
    val before = sessionS
    val t0 = System.nanoTime()
    body
    o.setupS += (System.nanoTime() - t0) / 1e9 - (sessionS - before)
  }

  /** Collects the whole heap, then records how much of it is still in
    * use: the state the program keeps between operations, cached and
    * checkpointed blocks included. Taken after the last set-up and after
    * every timed operation, outside their times. After a collection,
    * Spark's cleaner drops the blocks of datasets it found unreachable, on
    * its own thread; so collect again, 100 ms apart, until a collection
    * frees less than 1 MiB. The heap is fixed in size, so the process's
    * resident memory would read that size instead.
    */
  def sampleLiveHeap(o: Outcome): Unit = {
    def collect(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    Thread.sleep(100)
    var cur = collect()
    var rounds = 0
    while (cur < prev - 1.0 && rounds < 10) {
      prev = cur
      Thread.sleep(100)
      cur = collect()
      rounds += 1
    }
    o.liveHeapMb += cur
  }

  /** Runs `body` as a timed operation, then `check` on its result
    * (untimed). An exception or a failed check (Some(reason)) counts the
    * operation as failed.
    */
  def timed[A](o: Outcome, kind: String, opName: String, rows: Long, inBytes: Long)
              (body: => A)(check: A => Option[String]): Unit = {
    val t0 = System.nanoTime()
    var wall = 0.0
    val err =
      try {
        val r = trace.span(opName, s"${kind}_${o.ops.size}", layer = false)(body)
        wall = (System.nanoTime() - t0) / 1e9
        check(r)
      } catch { case NonFatal(e) => Some(s"threw $e") }
    if (wall == 0.0) wall = (System.nanoTime() - t0) / 1e9
    err.foreach(e => System.err.println(s"pipebench: $opName #${o.ops.size} failed: $e"))
    o.ops += Op(kind, wall, if (err.isEmpty) rows else 0L, inBytes, err)
    sampleLiveHeap(o)
  }

  /** Closed loop: start the next operation only when the previous one has
    * returned, until the run's seconds have passed and the workload is
    * `atBoundary`, the end of a whole cycle of operations, or until `next`
    * runs out. The first operation always runs. The state at the end of
    * the first cycle is kept in `o.firstCycle`, so figures that depend on
    * the state do not depend on how many cycles fit in the seconds.
    */
  def loop(o: Outcome, atBoundary: => Boolean)(next: Int => Boolean): Unit = {
    sampleLiveHeap(o)
    val t0 = System.nanoTime()
    var i = 0
    var go = true
    while (go && (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds || !atBoundary)) {
      go = next(i)
      i += 1
      if (o.firstCycle.isEmpty && atBoundary) o.firstCycle = Some(o.cycleEnd)
    }
  }
}
