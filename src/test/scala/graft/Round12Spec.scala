package graft

import org.apache.spark.sql.functions._

import graft.llm.{Multimodal, TextDedup}
import graft.ops.Relational

/** Round-12 operators: A21 Theil–Sen robust trend,
  * L2c containment join, M2b thumbnail resample. The DuckDB oracle pins
  * cross-engine parity; these tests pin the internal contracts the oracle
  * can't see — subset semantics the corpus doesn't exhibit, robustness
  * against injected outliers, independent recomputation of scores, and
  * the codec error side-channel.
  */
class Round12Spec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r12docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("L2c containment flags a verbatim quote that symmetric Jaccard misses") {
    // doc 2 = 60 unique words; doc 1 = a 12-word contiguous quote of it.
    // Every 3-shingle of the quote appears in the host, so containment = 1.0,
    // while Jaccard = 10/58 — far below L2's 0.8 threshold.
    val host = (0 until 60).map(i => s"w$i").mkString(" ")
    val quote = (20 until 32).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq((1L, quote), (2L, host)))
    val got = TextDedup.containment(spark, dir).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Long]("n_a") === 10L && r.getAs[Long]("n_b") === 58L)
    assert(r.getAs[Double]("containment") === 1.0)
    // the symmetric-Jaccard operator must NOT pair them
    assert(TextDedup.ngramJaccard(spark, dir).count() === 0L)
  }

  test("A21 Theil–Sen: one wild outlier day leaves the median slope on trend") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r12ev").toString
    // user 7: 15 days of value = 10 + 1.0*day dollars, one event per day,
    // except day 7 spikes to $5000 (a refund-bug day)
    val rows = (0 until 15).map { d =>
      val v = if (d == 7) 5000.0 else 10.0 + 1.0 * d
      (d.toLong, java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
        7L, "purchase", v, """{"k": 0}""")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.a21TheilSen(spark, dir).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("n_days") === 15L)
    assert(r.getAs[Long]("n_pairs") === 105L)
    // 14 of 15 days sit exactly on slope 1.0; the outlier corrupts only the
    // 14 pairs that touch it, so the pairwise-slope MEDIAN stays exactly 1.0
    assert(r.getAs[Double]("slope_per_day") === 1.0)
  }

  test("M2b thumbnail: resample replays the pixel formula; corrupt bytes take the side-channel") {
    import spark.implicits._
    // d1 = 0 (all-zero hex), 8x8 image: px(x,y) = (7x+13y)%256; the 4x4
    // nearest-neighbor thumbnail samples (2x, 2y) → (14x+26y)%256
    val media = Seq(("0" * 32, 8, 8)).toDF("md5hex", "w", "h")
    val decoded = Multimodal.decodeThumbnails(Multimodal.encodeImages(media)).collect().head
    val expected = for (y <- 0 until 4; x <- 0 until 4) yield (14 * x + 26 * y) % 256
    assert(decoded.getAs[Boolean]("decode_ok"))
    assert(decoded.getAs[Long]("thumb_sum") === expected.map(_.toLong).sum)
    assert(decoded.getAs[Long]("thumb_chk") ===
      expected.zipWithIndex.map { case (p, i) => p.toLong * (1 + i) }.sum)
    // corrupt payload: decode_ok=false with null features, task survives
    val corrupt = Seq(("junk-bytes".getBytes: Array[Byte]), (null: Array[Byte]))
      .toDF("media")
    val bad = Multimodal.decodeThumbnails(corrupt).collect()
    assert(bad.forall(r => !r.getAs[Boolean]("decode_ok") && r.isNullAt(r.fieldIndex("thumb_sum"))))
  }
}
