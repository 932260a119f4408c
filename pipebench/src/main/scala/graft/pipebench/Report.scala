package graft.pipebench

/** Turns a workload's outcome and trace into the benchmark's metrics. */
final case class Report(workload: String, seed: Long, traced: Boolean, cores: Int,
                        o: Outcome, trace: Trace) {
  import Report._

  private val spans = { trace.drain(); trace.allSpans }

  /** Operations, with any failed end-of-run check charged to the last write. */
  val ops: Seq[Op] = {
    val lastWrite = o.ops.lastIndexWhere(_.kind == "write")
    o.ops.toSeq.zipWithIndex.map { case (op, i) =>
      if (i == lastWrite && o.finalChecks.nonEmpty && op.error.isEmpty)
        op.copy(rows = 0L, error = Some(o.finalChecks.mkString("; ")))
      else op
    }
  }
  val failed: Int = ops.count(_.error.nonEmpty)
  val correct: Boolean = failed == 0 && o.finalChecks.isEmpty && ops.nonEmpty

  private val writes = ops.filter(_.kind == "write").map(_.wallS).sorted
  private val reads = ops.filter(_.kind == "read").map(_.wallS).sorted
  /** (value, percentile, samples) of the write tail, see [[tail]]. */
  val opTail: (Double, Double, Int) = tail(writes)

  /** The amplification and memory figures are taken over the first whole
    * cycle of timed operations, so they do not depend on how many cycles a
    * run fits in its seconds.
    */
  private val cycle = o.firstCycle.getOrElse(o.cycleEnd)

  /** The index of the timed operation a span belongs to (`write_3` → 3);
    * -1 for set-up.
    */
  private def opIndex(s: Span): Int = s.op.drop(s.op.lastIndexOf('_') + 1).toIntOption.getOrElse(-1)

  val endToEnd: Seq[(String, Double, String)] = {
    val timedWall = ops.map(_.wallS).sum
    val written = spans.filter(s => opIndex(s) >= 0 && opIndex(s) < cycle.ops)
      .map(s => trace.countersFor(s.id).output).sum
    val inBytes = ops.take(cycle.ops).map(_.inBytes).sum
    val heap = o.liveHeapMb.take(cycle.heapSamples)
    Seq(
      ("setup_s", median(o.setupS.toSeq), "s"),
      ("op_s_p50", median(writes), "s"),
      ("op_s_tail", opTail._1, "s"),
      ("ingest_rows_per_s", ops.map(_.rows).sum / timedWall, "rows/s"),
      ("write_amp", written.toDouble / inBytes, "B/B"),
      ("space_amp", cycle.diskBytes.toDouble / cycle.committedInputBytes, "B/B"),
      ("peak_live_heap_mb", if (heap.isEmpty) 0.0 else heap.max, "MiB"))
  }

  /** Calls of a layer span made in timed operations, or in set-up when
    * the layer is only called there.
    */
  private def callsOf(name: String): Seq[Span] = {
    val all = spans.filter(_.name == name)
    val timed = all.filter(_.op != "setup")
    if (timed.nonEmpty) timed else all
  }

  val perLayer: Seq[(String, Double, String)] = {
    val layerRows = Layers.flatMap { name =>
      val calls = callsOf(name)
      def med(f: (Span, Counters) => Double): Double =
        if (calls.isEmpty) 0.0 else median(calls.map(s => f(s, trace.countersFor(s.id))))
      Seq(
        ("wall_s", med((s, _) => s.wallS), "s"),
        ("driver_s", med((s, _) => trace.selfS(s)), "s"),
        ("jobs", med((_, c) => c.jobs.toDouble), "count"),
        ("stages", med((_, c) => c.stages.toDouble), "count"),
        ("tasks", med((_, c) => c.tasks.toDouble), "count"),
        ("task_s", med((_, c) => c.taskMs / 1000.0), "s"),
        ("busy_frac", med((s, c) => c.taskMs / 1000.0 / (s.wallS * cores)), "ratio"),
        ("shuffle_write_bytes", med((_, c) => c.shuffleWrite.toDouble), "B"),
        ("shuffle_read_bytes", med((_, c) => c.shuffleRead.toDouble), "B"),
        ("spill_bytes", med((_, c) => c.spill.toDouble), "B"),
        ("input_bytes", med((_, c) => c.input.toDouble), "B"),
        ("output_bytes", med((_, c) => c.output.toDouble), "B"),
        ("failed_tasks", med((_, c) => c.failedTasks.toDouble), "count"),
        ("persisted_rdds_after", med((s, _) => s.persistedAfter.toDouble), "count"),
      ).map { case (m, v, u) => (s"$name.$m", v, u) }
    }
    val stage = callsOf("wx.stage")
    val (seen, fresh, newRows) = o.stageCalls.foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
    }
    val stageOutRecords = stage.filter(_.op != "setup").map(s => trace.countersFor(s.id).outputRecords).sum
    layerRows ++ Seq(
      ("wx.stage.files_new_frac", ratio(fresh.toDouble, seen.toDouble), "ratio"),
      ("wx.stage.rows_written_per_new_row", ratio(stageOutRecords.toDouble, newRows.toDouble), "ratio"),
      ("read_s_p50", median(reads), "s"),
      ("ann_recall_at_k", o.annRecallAtK, "ratio"),
      ("ops_failed_frac", failed.toDouble / math.max(1, ops.size), "ratio"))
  }

  /** Per operation: its wall time and the share its layer spans cover.
    * The rest is the benchmark's own bookkeeping inside the operation
    * (building the input DataFrame, span records).
    */
  def opAccounting: Seq[(String, Double, Double)] = spans.filter(s => s.name.startsWith("op.")).map { op =>
    val inner = spans.filter(_.parent == op.id).map(_.wallS).sum
    (op.name, op.wallS, inner)
  }

  private def fmt(v: Double): String = Json.num(v)

  def printTable(): Unit = {
    println(s"pipebench $workload seed=$seed trace=${if (traced) 1 else 0} cores=$cores " +
      s"ops=${ops.size} failed=$failed setups=${o.setupS.map(x => f"$x%.3f").mkString(",")}")
    val (_, tp, tn) = opTail
    endToEnd.foreach { case (n, v, u) =>
      val note = if (n == "op_s_tail") f"  (p$tp%.0f of n=$tn" + (if (tn < 11) ", the maximum: fewer than 11 samples)" else ")") else ""
      println(f"  $n%-44s ${fmt(v)}%s $u$note")
    }
    if (traced) perLayer.foreach { case (n, v, u) => println(f"  $n%-44s ${fmt(v)}%s $u") }
    (o.finalChecks ++ ops.flatMap(_.error)).distinct.foreach(e => println(s"  FAILED: $e"))
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> fmt(v), "unit" -> Json.str(u))) })

  /** The one-line result: end-to-end metrics untraced, per-layer traced. */
  def resultLine: String = Json.obj(Seq(
    "correct" -> correct.toString, "attempted" -> ops.size.toString, "failed" -> failed.toString,
    "metrics" -> metricsJson(if (traced) perLayer else endToEnd)))

  /** Everything, for the trace summarizer. */
  def fullJson: String = Json.obj(Seq(
    "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
    "cores" -> cores.toString, "correct" -> correct.toString,
    "attempted" -> ops.size.toString, "failed" -> failed.toString,
    "setup_s_each" -> o.setupS.map(fmt).mkString("[", ", ", "]"),
    "live_heap_mb_each" -> o.liveHeapMb.map(fmt).mkString("[", ", ", "]"),
    "first_cycle_ops" -> cycle.ops.toString,
    "op_tail_percentile" -> fmt(opTail._2), "op_samples" -> opTail._3.toString,
    "ops" -> ops.map(op => Json.obj(Seq("kind" -> Json.str(op.kind), "wall_s" -> fmt(op.wallS),
      "rows" -> op.rows.toString, "error" -> op.error.map(Json.str).getOrElse("null")))).mkString("[", ", ", "]"),
    "op_accounting" -> opAccounting.map { case (n, w, i) =>
      Json.obj(Seq("op" -> Json.str(n), "wall_s" -> fmt(w), "layer_spans_s" -> fmt(i)))
    }.mkString("[", ", ", "]"),
    "end_to_end" -> metricsJson(endToEnd),
    "per_layer" -> metricsJson(perLayer),
    "trace" -> (if (traced) trace.toJson else "null")))
}

object Report {
  /** The layer spans, in the order the summary prints them. */
  val Layers: Seq[String] = Seq(
    "wx.stage", "wx.marts", "pg.refresh", "pg.append", "pg.labels", "nsw.build", "nsw.append", "nsw.query")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it: the
    * (n − 10)-th smallest of n sorted samples. With fewer than 11 samples
    * no such percentile exists and the maximum is reported instead.
    * Returns (value, percentile, n).
    */
  def tail(sorted: Seq[Double]): (Double, Double, Int) = {
    val n = sorted.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 11) (sorted.last, 100.0, n)
    else (sorted(n - 11), 100.0 * (n - 10) / n, n)
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
