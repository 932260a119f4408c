package graft.pipebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Embeddings, TextDedup}
import graft.weather.{Marts, Pipeline, WeatherSchema}

object Workloads {
  val names: Seq[String] = Seq("wx_daily", "corpus_ingest")

  def run(name: String, ctx: Ctx): Outcome = name match {
    case "wx_daily"      => WxDaily.run(ctx)
    case "corpus_ingest" => CorpusIngest.run(ctx)
  }

  /** Writes `lines` as one file (JSON lines); returns its size in bytes. */
  def writeLines(file: Path, lines: Seq[String]): Long = {
    Files.createDirectories(file.getParent)
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.size(file)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

/** Steady daily operation: a small new batch on a large resident table.
  * Set-up lands `HistoryDays` days of `Locations` locations in one
  * staging call (plus the marts of its last day); each timed operation
  * is the next day's run, and every `RetryEvery`-th operation delivers
  * the previous day again as an at-least-once retry. Runs end on a whole
  * cycle of `RetryEvery` operations, so the share of retries, and with it
  * the end state, does not depend on how many operations fit.
  */
object WxDaily {
  val Locations = 3
  val HistoryDays = 7
  val MaxDays = 24
  val RetryEvery = 3

  def docs(spark: SparkSession, p: Path): DataFrame =
    spark.read.schema(WeatherSchema.enrichedDoc).json(p.toString)

  def pathsUnder(dir: Path): Pipeline.Paths =
    Pipeline.Paths(dir.resolve("raw").toString, dir.resolve("staging").toString, dir.resolve("marts").toString)

  def outputRoots(dir: Path): Seq[Path] = Seq("raw", "staging", "marts").map(dir.resolve)

  /** One run of both layers, each as its own layer span. */
  def runBoth(ctx: Ctx, op: String, docs: DataFrame, paths: Pipeline.Paths, nowDay: Int): Map[String, Long] = {
    val (merged, stats) = ctx.trace.span("wx.stage", op) {
      Pipeline.stageIncremental(ctx.spark, docs, paths)
    }
    val counts = ctx.trace.span("wx.marts", op) {
      Pipeline.buildMarts(ctx.spark, merged, paths,
        lit(java.sql.Timestamp.from(WeatherInputs.runInstant(nowDay))))
    }
    stats ++ counts
  }

  /** The checks every run's returned counts must pass. */
  def checkRun(r: Map[String, Long], locations: Int, seen: Long, fresh: Long,
               staged: Set[Int], nowDay: Int): Option[String] = {
    val want = Map(
      "files_seen" -> seen, "files_new" -> fresh,
      "staging_rows" -> locations * staged.size * WeatherInputs.ReadingsPerDoc,
      "dim_location" -> locations.toLong,
      "dim_weather_condition" -> WeatherInputs.params.size.toLong) ++
      WeatherInputs.expectedFacts(staged, nowDay, locations)
    val bad = want.collect { case (k, v) if !r.get(k).contains(v) => s"$k=${r.get(k).orNull} want $v" }
    if (bad.isEmpty) None else Some(bad.mkString(", "))
  }

  /** Dim keys unique and not null, read back from the published marts. */
  def checkDims(spark: SparkSession, paths: Pipeline.Paths): Option[String] = {
    val ok = Seq("dim_location" -> "location_key", "dim_weather_condition" -> "condition_key").filterNot {
      case (t, k) => Marts.keyIsUniqueAndNotNull(spark.read.parquet(s"${paths.martsRoot}/$t"), k)
    }
    if (ok.isEmpty) None else Some(s"dim keys not unique or null: ${ok.map(_._1).mkString(", ")}")
  }

  /** Order-independent fingerprint of the staging table: (rows, hash sum). */
  def stagingFingerprint(spark: SparkSession, paths: Pipeline.Paths): (Long, Long) = {
    val df = spark.read.parquet(paths.stagingRoot)
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1L << 32))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val gen = WeatherInputs(ctx.seed, Locations)
    val history = 0 until HistoryDays
    var rep: Path = null
    for (k <- 0 until Main.SetupReps) {
      if (rep != null) Main.deleteTree(rep)
      rep = ctx.work(s"setup$k")
      val in = rep.resolve("in")
      val paths = pathsUnder(rep.resolve("out"))
      ctx.timeSetup(o) {
        o.committedInputBytes = gen.writeDays(in.resolve("history"), history)
        (HistoryDays until HistoryDays + MaxDays).foreach(d => gen.writeDay(in.resolve(s"daily/$d"), d))
        val spark = ctx.session(in)
        val r = runBoth(ctx, "setup", docs(spark, in.resolve("history")), paths, HistoryDays - 1)
        checkRun(r, Locations, Locations.toLong * HistoryDays, Locations.toLong * HistoryDays,
          history.toSet, HistoryDays - 1).foreach(e => o.finalChecks += s"history preload: $e")
      }
    }
    val spark = ctx.spark
    val paths = pathsUnder(rep.resolve("out"))
    var staged = history.toSet
    var day = HistoryDays
    var stagingRows = stagingFingerprint(spark, paths)._1
    o.outputRoots = outputRoots(rep.resolve("out"))
    ctx.loop(o, atBoundary = o.ops.size % RetryEvery == 0) { i =>
      val retry = i % RetryEvery == RetryEvery - 1
      val d = if (retry) day - 1 else day
      if (d >= HistoryDays + MaxDays) false
      else {
        val file = rep.resolve(s"in/daily/$d")
        val inBytes = Workloads.bytesUnder(file)
        val before = if (retry) Some(stagingFingerprint(spark, paths)) else None
        val nowStaged = staged + d
        val rows = if (retry) 0L else Locations * WeatherInputs.ReadingsPerDoc
        ctx.timed(o, "write", "op.daily", rows, inBytes) {
          runBoth(ctx, s"write_${o.ops.size}", docs(spark, file), paths, d)
        } { r =>
          // the program's own figures: files seen and new, and the staging
          // rows the run added (its new readings)
          val rowsNow = r.getOrElse("staging_rows", stagingRows)
          o.stageCalls += ((r.getOrElse("files_seen", 0L), r.getOrElse("files_new", 0L), rowsNow - stagingRows))
          stagingRows = rowsNow
          checkRun(r, Locations, Locations, if (retry) 0 else Locations, nowStaged, d)
            .orElse(before.flatMap { fp =>
              val after = stagingFingerprint(spark, paths)
              if (after == fp) None else Some(s"retry changed staging: $fp -> $after")
            })
        }
        if (!retry) {
          o.committedInputBytes += inBytes
          day += 1
        }
        staged = nowStaged
        true
      }
    }
    checkDims(spark, paths).foreach(o.finalChecks += _)
    o
  }
}

/** The curation side: a near-dup pair-graph view and an NSW vector index
  * over a generated corpus. Set-up refreshes the pair graph and builds
  * the index; timed operations alternate an ingest batch (both appends,
  * compacting every `CompactAfter + 1` batches) with a read (component
  * labels report plus the NSW top-k of the 5 query vectors).
  */
object CorpusIngest {
  /** One tenth of the sizing point 20,000 documents and 8,000 vectors in
    * batches of 1,000 and 400, with its ratios kept: 2.5 documents per
    * vector, and a batch of 5% of the base corpus. At full size one set-up
    * takes about a minute, and a run sets up three times within its three
    * minutes.
    */
  val BaseDocs = 2000
  val BatchDocs = 100
  val BaseVecs = 800
  val BatchVecs = 40
  /** Both appends compact once a chain holds more than this many deltas:
    * every second batch, so timed writes include compactions, and runs end
    * on a compaction so the end state does not depend on machine speed.
    */
  val CompactAfter = 1
  val MaxBatches = 16
  val NearDupShare = 0.2

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def docJson(d: Doc): String =
    s"""{"doc_id":${d.doc_id},"text":${Json.str(d.text)},"lang":"${d.lang}","source":"${d.source}","n_chars":${d.n_chars}}"""
  def vecJson(v: Vec): String =
    s"""{"vec_id":${v.vec_id},"embedding":${v.embedding.mkString("[", ",", "]")},"label":${v.label}}"""

  /** Writes the base corpus and every batch as JSON lines under `in`;
    * returns the base corpus's bytes.
    */
  def writeInputs(gen: CorpusInputs, in: Path): Long = {
    (0 until MaxBatches).foreach { b =>
      Workloads.writeLines(in.resolve(s"batch/$b/docs.json"), gen.batchDocRows(b).map(docJson))
      Workloads.writeLines(in.resolve(s"batch/$b/vecs.json"), gen.batchVecRows(b).map(vecJson))
    }
    Workloads.writeLines(in.resolve("base/docs.json"), gen.baseDocRows.map(docJson)) +
      Workloads.writeLines(in.resolve("base/vecs.json"), gen.baseVecRows.map(vecJson))
  }

  /** Lands generated documents and vectors as the dataset tables the
    * program reads (`documents.parquet`, `embeddings.parquet`).
    */
  def landTables(spark: SparkSession, docs: Seq[Path], vecs: Seq[Path], ds: Path): Unit = {
    spark.read.schema(docSchema).json(docs.map(_.toString): _*).coalesce(1)
      .write.parquet(ds.resolve("documents.parquet").toString)
    spark.read.schema(vecSchema).json(vecs.map(_.toString): _*).coalesce(1)
      .write.parquet(ds.resolve("embeddings.parquet").toString)
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val gen = CorpusInputs(ctx.seed, BaseDocs, BatchDocs, BaseVecs, BatchVecs, NearDupShare)
    var rep: Path = null
    var nswRoot = ""
    var pgRoot = ""
    for (k <- 0 until Main.SetupReps) {
      if (rep != null) Main.deleteTree(rep)
      rep = ctx.work(s"setup$k")
      val in = rep.resolve("in")
      val ds = rep.resolve("ds")
      ctx.timeSetup(o) {
        o.committedInputBytes = writeInputs(gen, in)
        val spark = ctx.session(in)
        landTables(spark, Seq(in.resolve("base/docs.json")), Seq(in.resolve("base/vecs.json")), ds)
        pgRoot = ctx.trace.span("pg.refresh", "setup")(TextDedup.refreshPairGraphMv(spark, ds.toString))
        nswRoot = ctx.trace.span("nsw.build", "setup")(Embeddings.buildNswIndex(spark, ds.toString))
      }
    }
    val spark = ctx.spark
    val in = rep.resolve("in")
    val ds = rep.resolve("ds")
    var batches = 0
    o.outputRoots = Seq(pgRoot, nswRoot).map(java.nio.file.Paths.get(_))
    ctx.loop(o, atBoundary = batches % (CompactAfter + 1) == 0) { i =>
      if (i % 2 == 1) {
        ctx.timed(o, "read", "op.read", 0L, 0L)(read(ctx, s"read_${o.ops.size}", ds, nswRoot))(identity)
        true
      } else if (batches >= MaxBatches) false
      else {
        val b = batches
        val docsF = in.resolve(s"batch/$b/docs.json")
        val vecsF = in.resolve(s"batch/$b/vecs.json")
        val inBytes = Files.size(docsF) + Files.size(vecsF)
        ctx.timed(o, "write", "op.ingest", BatchDocs.toLong + BatchVecs, inBytes) {
          val op = s"write_${o.ops.size}"
          val docs = spark.read.schema(docSchema).json(docsF.toString).select(col("doc_id"), col("text"))
          val vecs = spark.read.schema(vecSchema).json(vecsF.toString)
            .select(col("vec_id"), col("embedding").as("v"))
            .withColumn("nrm", Embeddings.norm(col("v")))
          ctx.trace.span("pg.append", op) {
            TextDedup.appendPairGraphMv(spark, ds.toString, docs, compactAfterDeltas = CompactAfter)
          }
          ctx.trace.span("nsw.append", op) {
            Embeddings.appendNswIndex(spark, ds.toString, vecs, compactAfterDeltas = CompactAfter)
          }
        }(_ => None)
        o.committedInputBytes += inBytes
        batches += 1
        true
      }
    }
    finalChecks(ctx, o, gen, in, batches, ds, nswRoot)
    o
  }

  /** One read: the component-labels report and the NSW top-k, each as
    * its own layer span. Returns a failed check, if any.
    */
  def read(ctx: Ctx, op: String, ds: Path, nswRoot: String): Option[String] = {
    val spark = ctx.spark
    val report = ctx.trace.span("pg.labels", op) {
      TextDedup.componentLabels(spark, ds.toString).groupBy("component").count()
        .agg(count(lit(1)), sum(col("count"))).head()
    }
    val hits = ctx.trace.span("nsw.query", op) {
      Embeddings.nswQueryFromIndex(spark, ds.toString, nswRoot).collect()
    }
    val perQuery = hits.groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.length }
    if (report.getLong(0) <= 0) Some("pair graph has no components")
    else if (perQuery.size != CorpusInputs.Queries || perQuery.values.exists(_ != CorpusInputs.K))
      Some(s"NSW returned $perQuery rows per query, want ${CorpusInputs.K} for each of ${CorpusInputs.Queries}")
    else None
  }

  /** End-of-run checks: the appended pair graph's labels equal a fresh
    * refresh over the union corpus, and the NSW recall against exact
    * cosine top-k over the final corpus.
    */
  def finalChecks(ctx: Ctx, o: Outcome, gen: CorpusInputs, in: Path, batches: Int, ds: Path,
                  nswRoot: String): Unit = {
    val spark = ctx.spark
    val union = ctx.work("union")
    val bs = 0 until batches
    landTables(spark,
      in.resolve("base/docs.json") +: bs.map(b => in.resolve(s"batch/$b/docs.json")),
      in.resolve("base/vecs.json") +: bs.map(b => in.resolve(s"batch/$b/vecs.json")), union)
    val freshRoot = TextDedup.refreshPairGraphMv(spark, union.toString)
    val fresh = graft.weather.Staging.readChainLatest(spark, freshRoot, "labels").select("doc_id", "component")
    val got = TextDedup.componentLabels(spark, ds.toString).select("doc_id", "component")
    val nFresh = fresh.count()
    if (nFresh == 0 || got.count() != nFresh || !got.exceptAll(fresh).isEmpty)
      o.finalChecks += s"pair-graph labels after appends differ from a fresh refresh ($nFresh rows fresh)"
    Main.deleteTree(union)

    val hits = Embeddings.nswQueryFromIndex(spark, ds.toString, nswRoot).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("cid"))
    val exact = CorpusInputs.exactTopK(gen.baseVecRows ++ bs.flatMap(gen.batchVecRows))
    val found = exact.toSeq.map { case (q, ids) => ids.count(id => hits.contains(q -> id)) }.sum
    o.annRecallAtK = found.toDouble / (CorpusInputs.Queries * CorpusInputs.K)
  }
}
