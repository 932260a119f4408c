package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** §2.7: the window transforms produce IDENTICAL results in batch and
  * streaming execution — same declarative plan, two engines.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling aggregation: streaming (MemoryStream) equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0),
      (ts("2024-01-01 10:10:00"), "purchase", 8.0))

    val input = MemoryStream[(Timestamp, String, Double)]
    val stream = EventStreams.tumblingStream(
      input.toDF.toDF("ts", "event_type", "value"))
    val q = stream.writeStream.format("memory")
      .queryName("stream_tumbling").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_tumbling")
        .orderBy($"window_start", $"event_type").collect()
      val batch = graft.ops.EventWindows.tumblingAgg(
        rows.toDF("ts", "event_type", "value"))
        .orderBy($"window_start", $"event_type").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length === 3) // 2 click windows + 1 purchase window
    } finally q.stop()
  }

  test("sliding distinct users: streaming two-phase dedup+count equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), 1L), // user 1 twice in the 10:00 window
      (ts("2024-01-01 10:20:00"), 1L),
      (ts("2024-01-01 10:25:00"), 2L),
      (ts("2024-01-01 10:50:00"), 3L), // lands in 10:00 and 10:30 windows
      (ts("2024-01-01 11:10:00"), 1L))
    val input = MemoryStream[(Timestamp, Long)]
    val stream = EventStreams.uniquesStream(input.toDF.toDF("ts", "user_id"))
    val q = stream.writeStream.format("memory")
      .queryName("stream_uniques").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_uniques")
        .orderBy($"window_start").collect()
      val batch = rows.toDF("ts", "user_id")
        .select(window($"ts", "1 hour", "30 minutes").as("w"), $"user_id")
        .distinct()
        .groupBy($"w").agg(count(lit(1)).as("n_users"))
        .select($"w.start".as("window_start"), $"n_users")
        .orderBy($"window_start").collect()
      assert(streamed.toSeq === batch.toSeq)
      // user 1's duplicate within a window counted once
      val w10 = spark.table("stream_uniques")
        .filter($"window_start" === ts("2024-01-01 10:00:00")).collect()
      assert(w10.head.getLong(1) === 3L)
    } finally q.stop()
  }

  test("stream-static join: broadcast dim enriches the stream, equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic"), (3L, "basic")).toDF("user_id", "tier")
    val rows = Seq((1L, 10.0), (2L, 1.0), (3L, 2.0), (1L, 5.0), (4L, 99.0)) // 4 has no dim row
    val input = MemoryStream[(Long, Double)]
    val q = EventStreams.enrichStream(input.toDF.toDF("user_id", "value"), dim)
      .writeStream.format("memory").queryName("stream_enrich")
      .outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_enrich").orderBy($"tier").collect()
      val batch = EventStreams.enrichStream(rows.toDF("user_id", "value"), dim)
        .orderBy($"tier").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.map(_.getString(0)).toSeq === Seq("basic", "gold")) // inner join drops user 4
    } finally q.stop()
  }

  test("stream-stream interval join: click→purchase attribution equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clickRows = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:30:00")),
      (2L, ts("2024-01-01 09:00:00")),  // >1h before the purchase: no match
      (3L, ts("2024-01-01 11:00:00")))  // after the purchase: no match
    val purchaseRows = Seq(
      (1L, ts("2024-01-01 10:45:00")),
      (2L, ts("2024-01-01 10:30:00")),
      (3L, ts("2024-01-01 10:50:00")))
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val joined = EventStreams.attributionStream(
      clicks.toDF.toDF("user_id", "ts"), purchases.toDF.toDF("user_id", "ts"))
    val q = joined.writeStream.format("memory")
      .queryName("stream_attr").outputMode("append").start()
    try {
      clicks.addData(clickRows: _*)
      purchases.addData(purchaseRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_attr")
        .orderBy($"user_id", $"click_ts").collect()
      val batch = purchaseRows.toDF("user_id", "ts").as("b")
        .join(clickRows.toDF("user_id", "ts").as("c"),
          expr("c.user_id = b.user_id AND c.ts >= b.ts - INTERVAL 1 HOUR AND c.ts < b.ts"))
        .select($"b.user_id".as("user_id"), $"b.ts".as("purchase_ts"), $"c.ts".as("click_ts"))
        .orderBy($"user_id", $"click_ts").collect()
      assert(streamed.toSeq === batch.toSeq)
      // user 1 matches twice; users 2 and 3 fall outside the band
      assert(streamed.length === 2 && streamed.forall(_.getLong(0) == 1L))
    } finally q.stop()
  }

  test("left-outer stream-stream join: unmatched purchases emit nulls on watermark close") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val joined = EventStreams.attributionStreamOuter(
      clicks.toDF.toDF("user_id", "ts"), purchases.toDF.toDF("user_id", "ts"))
    val q = joined.writeStream.format("memory")
      .queryName("stream_attr_outer").outputMode("append").start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 09:00:00")),  // >1h before user 2's purchase
        (3L, ts("2024-01-01 11:00:00")))  // after user 3's purchase
      purchases.addData(
        (1L, ts("2024-01-01 10:45:00")),
        (2L, ts("2024-01-01 10:30:00")),
        (3L, ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      // the null verdict needs the click watermark past purchase_ts: feed
      // watermark-advancing traffic on BOTH sides, then drain twice (the
      // watermark computed at batch N's end gates emission in batch N+1)
      clicks.addData((99L, ts("2024-01-01 14:00:00")))
      purchases.addData((99L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      clicks.addData((98L, ts("2024-01-01 15:00:00")))
      purchases.addData((98L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val rows = spark.table("stream_attr_outer")
        .filter($"user_id" < 90).orderBy($"user_id").collect()
      assert(rows.length === 3)
      assert(rows(0).getLong(0) == 1L && rows(0).getTimestamp(2) == ts("2024-01-01 10:00:00"))
      // users 2 and 3: no click inside the band — emitted exactly once, null click
      assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(2))
      assert(rows(2).getLong(0) == 3L && rows(2).isNullAt(2))
    } finally q.stop()
  }

  test("mapGroupsWithState carries per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val stream = EventStreams.runningUserStats(
      input.toDF.toDF("ts", "user_id", "value"))
    val q = stream.writeStream.format("memory")
      .queryName("stream_state").outputMode("update").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L, 5.0), (ts("2024-01-01 10:01:00"), 1L, 3.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:02:00"), 1L, 4.0)) // smaller than batch-1 max
      q.processAllAvailable()
      // update mode: latest row per key is the live state
      val last = spark.table("stream_state").collect()
        .filter(_.getLong(0) == 1L).maxBy(_.getLong(1))
      assert(last.getLong(1) === 3L, "count accumulated across batches")
      assert(last.getDouble(2) === 5.0, "max remembered from the earlier batch")
    } finally q.stop()
  }

  test("transformWithState: ValueState matches the mapGroupsWithState semantics") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val stream = EventStreams.runningUserStatsTws(
      input.toDF.toDF("ts", "user_id", "value"))
    val q = stream.writeStream.format("memory")
      .queryName("stream_tws").outputMode("update").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L, 5.0), (ts("2024-01-01 10:01:00"), 1L, 3.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:02:00"), 1L, 4.0), (ts("2024-01-01 10:02:30"), 2L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("stream_tws").collect()
      val u1 = rows.filter(_.getLong(0) == 1L).maxBy(_.getLong(1))
      assert(u1.getLong(1) === 3L, "count accumulated across batches")
      assert(u1.getDouble(2) === 5.0, "max remembered from the earlier batch")
      val u2 = rows.filter(_.getLong(0) == 2L).maxBy(_.getLong(1))
      assert(u2.getLong(1) === 1L && u2.getDouble(2) === 7.0)
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("flatMapGroupsWithState: sessions close on event-time timeout, exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = EventStreams.timeoutSessions(
        input.toDF.toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      // batch 1: two events 5 min apart → one open session for user 1
      input.addData((ts("2024-01-01 10:00:00"), 1L, 1.0), (ts("2024-01-01 10:05:00"), 1L, 2.0))
      q.processAllAvailable()
      assert(spark.table("stream_sessions").isEmpty, "session must stay open, not emitted")
      // batch 2: user 2 event far in the future moves the watermark past
      // user 1's last event + gap → user 1's session times out and emits
      input.addData((ts("2024-01-01 11:00:00"), 2L, 9.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 12:00:00"), 3L, 1.0)) // push watermark again
      q.processAllAvailable()
      val rows = spark.table("stream_sessions").orderBy($"user_id").collect()
      val u1 = rows.filter(_.getLong(0) == 1L)
      assert(u1.length === 1, s"user-1 session must emit exactly once, got ${u1.length}")
      assert(u1.head.getTimestamp(1) === ts("2024-01-01 10:00:00"))
      assert(u1.head.getTimestamp(2) === ts("2024-01-01 10:05:00"))
      assert(u1.head.getLong(3) === 2L && u1.head.getDouble(4) === 3.0)
      // user 2's session closed when the 12:00 event moved the watermark
      assert(rows.count(_.getLong(0) == 2L) === 1)
    } finally q.stop()
  }

  test("file-source stream: watermark finalizes windows into the parquet sink") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_fs_").toString
    val srcDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(srcDir).mkdirs()
    val schemaDf = Seq((ts("2024-01-01 10:05:00"), "click", 1.0))
      .toDF("ts", "event_type", "value")
    // batch 1: one early window
    schemaDf.write.mode("append").parquet(srcDir)
    val src = spark.readStream.schema(schemaDf.schema).parquet(srcDir)
    val q = EventStreams.toParquetSink(
      EventStreams.tumblingStream(src), outDir, ckpt).start()
    try {
      q.processAllAvailable()
      // batch 2: events 3 hours later push the watermark past window 1
      Seq((ts("2024-01-01 13:30:00"), "click", 2.0))
        .toDF("ts", "event_type", "value").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      assert(out.count() === 1, "exactly the finalized 10:00 window is emitted")
      assert(out.head.getAs[Long]("n_events") === 1L)
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark removes cross-batch dupes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val deduped = input.toDF.toDF("ts", "event_id", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory")
      .queryName("stream_dedup").outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 1L, 5.0), (ts("2024-01-01 10:01:00"), 2L, 1.0))
      q.processAllAvailable()
      // same event_id arrives again in a later batch, inside the watermark
      input.addData((ts("2024-01-01 10:02:00"), 1L, 9.0), (ts("2024-01-01 10:03:00"), 3L, 2.0))
      q.processAllAvailable()
      val ids = spark.table("stream_dedup").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L), "the duplicate id=1 arrival was dropped")
    } finally q.stop()
  }

  test("X22 ingest dedup stream: content-hash first arrival survives, re-arrivals drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = EventStreams.dedupStream(input.toDF.toDF("ts", "doc_id", "text"))
    val q = out.writeStream.format("memory")
      .queryName("stream_docdedup").outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "the quick brown fox"),
        (ts("2024-01-01 10:01:00"), 2L, "an entirely new doc"))
      q.processAllAvailable()
      // doc 3 re-submits doc 1's exact text (different id) inside the
      // horizon — content hash drops it; doc 4 is genuinely new
      input.addData(
        (ts("2024-01-01 10:02:00"), 3L, "the quick brown fox"),
        (ts("2024-01-01 10:03:00"), 4L, "yet another new doc"))
      q.processAllAvailable()
      val kept = spark.table("stream_docdedup").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(kept.toSeq === Seq(1L, 2L, 4L), "content dup doc_id=3 must be dropped")
    } finally q.stop()
  }

  test("checkpointed file source IS the S5 incremental: reruns skip seen files") {
    import graft.streaming.WeatherIngestStream
    import graft.weather.{Staging, WeatherGen}
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_ing_").toString
    val raw = s"$base/raw"; val out = s"$base/staging"; val ckpt = s"$base/ckpt"
    val all = WeatherGen.docs(spark)
    val firstTwo = all.filter(substring(col("weather.dateGenerated"), 1, 10) =!= "2025-03-28")

    // day 1: 6 docs land; stream drains them
    Staging.writeRawByRun(firstTwo.drop("file_path"), raw)
    def drain(): Unit = {
      val q = WeatherIngestStream.incrementalLoad(
        WeatherIngestStream.stagingStream(
          WeatherIngestStream.rawStream(spark, raw)), out, ckpt).start()
      q.awaitTermination()
    }
    drain()
    val day1 = spark.read.parquet(out).count()
    assert(day1 === 6L * 4 * 73, "6 docs x 4 params x 73 hours")

    // day 2: append-land run 2's docs (no overwrite — the landing zone
    // accumulates like the reference's S3 bucket); rerun processes ONLY them
    all.filter(substring(col("weather.dateGenerated"), 1, 10) === "2025-03-28")
      .drop("file_path")
      .withColumn("run_date", substring(col("weather.dateGenerated"), 1, 10))
      .repartition(col("country"), col("city"), col("run_date"))
      .write.mode("append").partitionBy("country", "city", "run_date").json(raw)
    spark.catalog.refreshByPath(raw)
    drain()
    val day2 = spark.read.parquet(out)
    assert(day2.count() === 9L * 4 * 73, "only run 2 was added — no reprocessing")
    assert(day2.select("file_path").distinct().count() === 9L)
  }

  test("foreachBatch upsert sink: micro-batches merge into the table, latest wins") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ups_").toString
    val tbl = s"$base/tbl"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStreams.upsertSink(
      input.toDF.toDF("user_id", "ts", "value"), tbl, ckpt).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 5.0), (2L, ts("2024-01-01 10:01:00"), 7.0))
      q.processAllAvailable()
      assert(spark.read.parquet(tbl).count() === 2)
      // batch 2: newer row for user 1 (wins), plus a new user 3
      input.addData((1L, ts("2024-01-01 11:00:00"), 9.0), (3L, ts("2024-01-01 10:05:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(tbl).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(rows === Map(1L -> 9.0, 2L -> 7.0, 3L -> 1.0),
        "user 1 updated to the freshest row; 2 and 3 retained")
    } finally q.stop()
  }

  test("streaming CDC apply: batches publish snapshot versions, time travel intact") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cdc_").toString
    val root = s"$base/tbl"; val ckpt = s"$base/ckpt"
    // (k, seq, op, c_status, c_cents)
    val input = MemoryStream[(Long, Long, String, String, Long)]
    val q = EventStreams.cdcApplySink(
      input.toDF.toDF("k", "seq", "op", "c_status", "c_cents"), root, ckpt).start()
    def snapshot(): Map[Long, (String, Long)] =
      graft.weather.Staging.readChainLatest(spark, root, "").collect()
        .map(r => r.getAs[Long]("k") ->
          (r.getAs[String]("status"), r.getAs[Long]("cents"))).toMap
    try {
      // batch 1: three inserts + an upsert-on-absent
      input.addData((1L, 1L, "I", "A", 100L), (2L, 1L, "I", "B", 200L),
        (3L, 1L, "I", "C", 300L), (4L, 1L, "U", "D", 400L))
      q.processAllAvailable()
      val v0 = graft.weather.Staging.currentSnapshotVersion(spark, root).get
      val snap0 = snapshot()
      assert(snap0 === Map(1L -> ("A", 100L), 2L -> ("B", 200L),
        3L -> ("C", 300L), 4L -> ("D", 400L)))
      // batch 2: delete k=2; update k=1; within-batch supersede on k=3
      // (U seq 10 then D seq 11 — delete wins); insert k=5
      input.addData((2L, 10L, "D", "-", 0L), (1L, 10L, "U", "A2", 101L),
        (3L, 10L, "U", "C2", 301L), (3L, 11L, "D", "-", 0L),
        (5L, 10L, "I", "E", 500L))
      q.processAllAvailable()
      assert(snapshot() === Map(1L -> ("A2", 101L), 4L -> ("D", 400L),
        5L -> ("E", 500L)))
      // the prior version is immutable: a reader holding v0 still sees it
      val travel = spark.read.parquet(graft.weather.Staging.snapshotDirAt(spark, root, v0))
        .collect().map(r => r.getAs[Long]("k")).toSet
      assert(travel === Set(1L, 2L, 3L, 4L))
      assert(graft.weather.Staging.currentSnapshotVersion(spark, root).get === v0 + 1)
    } finally q.stop()
  }

  test("session aggregation: streaming equals batch, gap closes sessions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:05:00"), 1L, 2.0),  // same session (5 min gap)
      (ts("2024-01-01 10:30:00"), 1L, 4.0),  // new session (25 min gap)
      (ts("2024-01-01 10:00:00"), 2L, 8.0))

    val input = MemoryStream[(Timestamp, Long, Double)]
    val stream = EventStreams.sessionStream(
      input.toDF.toDF("ts", "user_id", "value"))
    val q = stream.writeStream.format("memory")
      .queryName("stream_session").outputMode("complete").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_session")
        .orderBy($"user_id", $"session_start").collect()
      val batch = graft.ops.EventWindows.sessionAgg(
        rows.toDF("ts", "user_id", "value"))
        .orderBy($"user_id", $"session_start").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length === 3) // user 1: two sessions; user 2: one
    } finally q.stop()
  }

  test("C19s streaming curation funnel: stage drops match the batch rules; metrics aggregate") {
    graft.GraftExtensions.ensure(spark)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the Round11Spec C19 fixture with arrival timestamps: every drop
    // rule binds — d1 short, d2 repetitious, d3 stopword-heavy, d5 exact
    // dup of d4 (arrives in a LATER batch so first-arrival is
    // deterministic), d6 carries the benchmark 8-gram, d7 clean
    val dup = "cat dog bird fish lion tiger bear wolf fox deer owl bat ant bee elk"
    val bench = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .select(explode(graft.llm.Curation.grams8Col).as("g"))
      .distinct().as[String].collect().toSeq
    assert(bench.size === 1, "the 8-token benchmark doc has exactly one 8-gram")
    val batch1 = Seq(
      (ts("2024-01-01 10:01:00"), 1L, "tiny doc only"),
      (ts("2024-01-01 10:02:00"), 2L, "x y x y x y x y x y x y x y x y"),
      (ts("2024-01-01 10:03:00"), 3L, "the w1 the w2 the w3 the w4 the w5 the w6 the w7 the w8"),
      (ts("2024-01-01 10:04:00"), 4L, dup))
    val batch2 = Seq(
      (ts("2024-01-01 10:05:00"), 5L, dup),
      (ts("2024-01-01 10:06:00"), 6L, "alpha beta gamma delta epsilon zeta eta theta m1 m2 m3 m4 m5 m6 m7"),
      (ts("2024-01-01 10:07:00"), 7L, "red green blue yellow purple orange pink brown black white gray cyan lime navy teal"))
    val input = MemoryStream[(Timestamp, Long, String)]
    val cleaned = graft.streaming.EventStreams.curationStream(
      input.toDF.toDF("ts", "doc_id", "text"), bench)
    val q = cleaned.writeStream.format("memory")
      .queryName("stream_curation").outputMode("append").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val kept = spark.table("stream_curation").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(kept === Seq(4L, 7L),
        "quality drops 1/2/3, dedup drops 5, decontamination drops 6")
    } finally q.stop()
    // the windowed retention twin in complete mode
    val input2 = MemoryStream[(Timestamp, Long, String)]
    val metrics = graft.streaming.EventStreams.curationStreamMetrics(
      input2.toDF.toDF("ts", "doc_id", "text"), bench)
    val q2 = metrics.writeStream.format("memory")
      .queryName("stream_curation_metrics").outputMode("complete").start()
    try {
      input2.addData((batch1 ++ batch2): _*); q2.processAllAvailable()
      val rows = spark.table("stream_curation_metrics").collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(1) === 2L && rows.head.getLong(2) === 30L)
    } finally q2.stop()
  }

  test("streaming IVF ingest: micro-batch deltas equal batch appends, replay is a no-op, chain bounded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.GraftExtensions.ensure(spark)
    val S = graft.weather.Staging
    val pred: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("vec_id") % 20 < 12)
    // twin indexes over the same resident set: one fed by the stream,
    // one by direct batch appends — identical auto-compaction settings
    val rootS = llm.Embeddings.buildIvfIndex(spark, sfDir, "r15_sink", pred)
    val rootB = llm.Embeddings.buildIvfIndex(spark, sfDir, "r15_sinktwin", pred)
    def vecs(m: Int) = Tables.embeddings(spark, sfDir).filter($"vec_id" % 20 === m)
      .select($"vec_id", $"embedding".as("v"))
    val input = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_sink_ck").toString
    val q = graft.streaming.EventStreams
      .ivfIngestSink(input.toDF.toDF("vec_id", "v"), rootS, ckpt, compactAfterDeltas = 2)
      .start()
    try {
      var lastRows: Seq[(Long, Array[Float])] = Seq.empty
      for (m <- 12 to 15) {
        lastRows = vecs(m).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        // an at-least-once source can deliver the same id twice WITHIN a
        // micro-batch — the sink must collapse it, or duplicate cells
        // rows would double-rank that cid (checked by the per-id
        // uniqueness assert below)
        input.addData((lastRows ++ lastRows.take(2)): _*)
        q.processAllAvailable()
        llm.Embeddings.appendIvfIndex(spark, rootB,
          vecs(m).withColumn("nrm", llm.Embeddings.norm($"v")), compactAfterDeltas = 2)
        assert(S.chainVersions(spark, rootS).size <= 3,
          s"streamed chain ${S.chainVersions(spark, rootS)} exceeds the compaction bound")
      }
      // an at-least-once REPLAY (the post-commit/pre-checkpoint crash
      // window) must publish nothing: the batch is fully resident, the
      // sink's anti-join filters it to empty
      val vBefore = S.currentSnapshotVersion(spark, rootS)
      input.addData(lastRows: _*)
      q.processAllAvailable()
      assert(S.currentSnapshotVersion(spark, rootS) === vBefore,
        "replayed micro-batch published a version")
      // streamed index ≡ batch-appended index, both layers — and no
      // vec_id landed twice (the within-batch dedup is binding: without
      // it the duplicated rows above land duplicate cells rows)
      def cellRows(root: String) = llm.Embeddings.Ivf.read(spark, S.chainDirs(spark, root), "cells").get
      def cells(root: String) = cellRows(root).select($"vec_id", $"cell").collect().toSet
      assert(cells(rootS) === cells(rootB))
      assert(cellRows(rootS)
        .groupBy($"vec_id").agg(count(lit(1)).as("k"))
        .filter($"k" > 1).count() === 0,
        "within-batch duplicate ids landed duplicate cells rows")
      assert(S.readChainLatest(spark, rootS, "centroids").collect().toSet
        === S.readChainLatest(spark, rootB, "centroids").collect().toSet)
      assert(S.chainVersions(spark, rootS).size === S.chainVersions(spark, rootB).size)
    } finally q.stop()
  }

  test("streaming pair-graph ingest: micro-batch deltas equal batch appends, replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = graft.weather.Staging
    val docs = Tables.documents(spark, sfDir)
    val dirS = java.nio.file.Files.createTempDirectory("graft_pg_sink").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_pg_sinktwin").toString
    try {
      for (d <- Seq(dirS, dirB))
        docs.filter($"doc_id" % 20 < 12).write.mode("overwrite")
          .parquet(s"$d/documents.parquet")
      val rootS = llm.TextDedup.refreshPairGraphMv(spark, dirS)
      llm.TextDedup.refreshPairGraphMv(spark, dirB)
      def batchDocs(m: Int) = docs.filter($"doc_id" % 20 === m).select($"doc_id", $"text")
      val input = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_pg_sink_ck").toString
      val q = graft.streaming.EventStreams
        .pairGraphIngestSink(input.toDF.toDF("doc_id", "text"), dirS, ckpt,
          compactAfterDeltas = 2)
        .start()
      try {
        var lastRows: Seq[(Long, String)] = Seq.empty
        for (m <- 12 to 15) {
          lastRows = batchDocs(m).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          input.addData(lastRows: _*)
          q.processAllAvailable()
          llm.TextDedup.appendPairGraphMv(spark, dirB, batchDocs(m), compactAfterDeltas = 2)
          assert(S.chainVersions(spark, rootS).size <= 3,
            s"streamed chain ${S.chainVersions(spark, rootS)} exceeds the compaction bound")
        }
        // replay idempotence
        val vBefore = S.currentSnapshotVersion(spark, rootS)
        input.addData(lastRows: _*)
        q.processAllAvailable()
        assert(S.currentSnapshotVersion(spark, rootS) === vBefore,
          "replayed micro-batch published a version")
        // the SHORT-doc replay hole (a <3-word doc never shingles, so it
        // has no sizes row — replay detection must see its batchdocs
        // row): ingest one, then replay it; the replay must be a no-op
        val shortDoc = Seq((999999L, "tiny doc"))
        input.addData(shortDoc: _*)
        q.processAllAvailable()
        llm.TextDedup.appendPairGraphMv(spark, dirB,
          shortDoc.toDF("doc_id", "text"), compactAfterDeltas = 2)
        val vShort = S.currentSnapshotVersion(spark, rootS)
        input.addData(shortDoc: _*)
        q.processAllAvailable()
        assert(S.currentSnapshotVersion(spark, rootS) === vShort,
          "replayed short doc published a version (sizes-only replay detection)")
        // streamed MV ≡ batch-appended MV across the consumer layers
        def pairSet(dir: String) = llm.TextDedup.pairGraphPairs(spark, dir)
          .select($"doc_a", $"doc_b", $"n_common", $"n_a", $"n_b")
          .collect().map(_.toSeq).toSet
        def labelSet(dir: String) = llm.TextDedup.componentLabels(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pairSet(dirS) === pairSet(dirB))
        assert(labelSet(dirS) === labelSet(dirB))
      } finally q.stop()
    } finally {
      graft.ops.ArtifactRoots.delete(dirS)
      graft.ops.ArtifactRoots.delete(dirB)
    }
  }
}
