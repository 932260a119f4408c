package graft.pipebench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call: a layer call (traced runs only) or a whole operation. */
final case class Span(id: Long, name: String, parent: Long, op: String,
                      startNs: Long, endNs: Long, persistedAfter: Int) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark-side counters of one span, summed over its jobs' tasks. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var outputRecords = 0L
  /** (start, end) of each job in epoch milliseconds, for the self time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans around the benchmark's calls into the program, and a
  * SparkListener that attributes every job, stage and task to the span
  * whose id the calling thread carried in the `pipebench.span` local
  * property. Local properties are inherited by the threads the program
  * starts for parallel writes, so their jobs land in the right span too.
  *
  * With `layers = false` (untraced runs) only operation-level spans are
  * made; their counters give the bytes written during timed operations.
  * Spans are kept in memory and written out by [[toJson]] at the end.
  */
final class Trace(sc: SparkContext, val layers: Boolean) extends SparkListener {
  private val Prop = "pipebench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private val counters = new java.util.concurrent.ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Wall-clock offset so job times (epoch ms) and span times (nanoTime) compare. */
  private val epochMinusNano: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  sc.addSparkListener(this)

  private def countersOf(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  /** Runs `body` as span `name` of operation `op`. Layer spans are only
    * recorded when `layers` is on; operation spans (`layer = false`)
    * always are.
    */
  def span[A](name: String, op: String, layer: Boolean = true)(body: => A): A =
    if (layer && !layers) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val saved = sc.getLocalProperty(Prop)
      stack.push(id)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Prop, saved)
        stack.pop()
        spans += Span(id, name, parent, op, t0, t1, if (layer) sc.getPersistentRDDs.size else 0)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Counters of a span once the listener bus has caught up (see [[drain]]). */
  def countersFor(id: Long): Counters = Option(counters.get(id)).getOrElse(new Counters)

  /** Driver-only time of a span: its wall time while none of its jobs ran. */
  def selfS(s: Span): Double = {
    val lo = (s.startNs + epochMinusNano) / 1000000L
    val hi = (s.endNs + epochMinusNano) / 1000000L
    val iv = countersFor(s.id).jobIntervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallS - covered / 1000.0)
  }

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PipebenchBus.drain(sc)

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Prop)))
    p.foreach { s =>
      val id = s.toLong
      jobSpan.put(e.jobId, id)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(stageSpan.put(_, id))
      val c = countersOf(id)
      c.synchronized { c.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { id =>
      val c = countersOf(id)
      val t0 = Option(jobStartMs.remove(e.jobId)).getOrElse(e.time)
      c.synchronized { c.jobIntervals += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val c = countersOf(id)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = countersOf(id)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Spans and their counters as one JSON document. */
  def toJson: String = {
    drain()
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val rows = spans.sortBy(_.startNs).map { s =>
      val c = countersFor(s.id)
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "op" -> Json.str(s.op), "start_s" -> Json.num((s.startNs - t0) / 1e9),
        "end_s" -> Json.num((s.endNs - t0) / 1e9), "self_s" -> Json.num(selfS(s)),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "failed_tasks" -> c.failedTasks.toString, "task_s" -> Json.num(c.taskMs / 1000.0),
        "shuffle_write_bytes" -> c.shuffleWrite.toString, "shuffle_read_bytes" -> c.shuffleRead.toString,
        "spill_bytes" -> c.spill.toString, "input_bytes" -> c.input.toString,
        "output_bytes" -> c.output.toString, "persisted_rdds_after" -> s.persistedAfter.toString))
    }
    Json.obj(Seq("spans" -> rows.mkString("[\n", ",\n", "\n]")))
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
