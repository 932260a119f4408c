package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks driven by scalacheck generators with fixed seeds
  * (no scalatestplus bridge in the offline cache; each case spins real
  * Spark jobs so 5 seeded cases per property is the right budget).
  */
class PropertiesSpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val pathGen: Gen[List[String]] =
    Gen.listOfN(8, Gen.oneOf("f1", "f2", "f3", "f4", "f5"))

  test("property: TopKAggregator reduce/merge equal a sort-based top-k in any merge order") {
    import graft.functions.{Scored, TopKAggregator}
    // few distinct sims (ties everywhere, ±0.0 included) and a small cid
    // range (repeated (sim, cid) rows too)
    val rowsGen: Gen[List[Scored]] = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, for {
      cid <- Gen.choose(0L, 15L)
      sim <- Gen.oneOf(0.5, 0.25, 0.0, -0.0, -0.25, 1.0)
    } yield Scored(cid, sim)))
    for (seed <- 1L to 300L; k <- Seq(1, 3, 5)) {
      val rows = sample(rowsGen, seed)
      val want = rows.sortBy(s => (-s.sim, s.cid)).take(k)
      val agg = new TopKAggregator(k)
      // split into partitions at random cut points, reduce each in its
      // own row order, then merge the partials in a random order and tree
      val rnd = new scala.util.Random(seed)
      val cuts = (0 to rows.size).filter(_ => rnd.nextInt(4) == 0).sorted
      val parts = (0 +: cuts :+ rows.size).sliding(2).collect { case Seq(a, b) => rows.slice(a, b) }.toList
      var partials = rnd.shuffle(parts.map(_.foldLeft(agg.zero)(agg.reduce)))
      while (partials.size > 1) {
        val i = rnd.nextInt(partials.size - 1)
        val merged = if (rnd.nextBoolean()) agg.merge(partials(i), partials(i + 1))
          else agg.merge(partials(i + 1), partials(i))
        partials = partials.patch(i, Seq(merged), 2)
      }
      val got = agg.finish(partials.headOption.getOrElse(agg.zero))
      assert(got.toList === want, s"seed=$seed k=$k rows=$rows")
    }
  }

  test("property: S5 incremental anti-join = set difference, any multiset input") {
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val incoming = sample(pathGen, seed)
      val loaded = sample(pathGen, seed + 100)
      val got = weather.Staging.incrementalNew(incoming.toDF("file_path"), loaded.toDF("file_path"))
        .collect().map(_.getString(0)).toSet
      assert(got === incoming.toSet -- loaded.toSet, s"seed=$seed")
    }
  }

  private val rowGen: Gen[List[(String, Int, Int)]] = Gen.listOfN(12, for {
    key <- Gen.oneOf("a", "b", "c")
    gen <- Gen.choose(1, 5)
    v   <- Gen.choose(0, 100)
  } yield (key, gen, v))

  test("property: W1 latest-per-key is idempotent and order-insensitive") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"gen".desc, $"v".desc)
    def pick(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    for (seed <- 1L to 5L) {
      val df = sample(rowGen, seed).toDF("key", "gen", "v")
      val once = pick(df).collect().toSet
      val twice = pick(pick(df)).collect().toSet
      val shuffled = pick(df.orderBy(rand(7))).collect().toSet
      assert(once === twice, s"seed=$seed idempotence")
      assert(once === shuffled, s"seed=$seed order-insensitivity")
    }
  }

  test("property: C1/C5 md5-mod bucket is uniform-ish and engine-stable") {
    import spark.implicits._
    // any Long id set: buckets land in [0,100) and the mapping is a pure
    // function of the id (same id → same bucket, across frames)
    val idGen = Gen.listOfN(50, Gen.choose(0L, 1000000L))
    for (seed <- 1L to 5L) {
      val ids = sample(idGen, seed)
      val b = ids.toDF("doc_id").withColumn("bucket",
        expr(graft.ops.ScalarFuncs.splitBucketExpr))
      val rows = b.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.forall { case (_, bk) => bk >= 0 && bk < 100 }, s"seed=$seed range")
      val m = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
      assert(m.values.forall(_ == 1), s"seed=$seed determinism")
    }
  }

  test("property: A6 histogram buckets partition the value domain") {
    import spark.implicits._
    val vGen = Gen.listOfN(40, Gen.choose(0, 700))
    for (seed <- 1L to 5L) {
      val vs = sample(vGen, seed)
      val df = vs.toDF("n_chars")
        .withColumn("bucket", least(($"n_chars" / 50).cast("long"), lit(11L)))
      val rows = df.collect().map(r => (r.getInt(0), r.getLong(1)))
      // every value lands in exactly the bucket its range predicts
      assert(rows.forall { case (v, b) => b == math.min(v / 50, 11).toLong }, s"seed=$seed")
    }
  }

  test("property: graft_char_bigrams decodes back to the substr bigrams, any string") {
    import spark.implicits._
    GraftExtensions.ensure(spark)
    val sGen = Gen.listOfN(6, Gen.stringOfN(12, Gen.frequency(
      (8, Gen.alphaLowerChar), (2, Gen.const(' ')))))
    for (seed <- 1L to 5L) {
      val texts = sample(sGen, seed).filter(_.nonEmpty)
      val df = texts.toDF("text")
      val decoded = df.select($"text",
        transform(call_function("graft_char_bigrams", $"text"),
          bg => concat(
            call_function("char", shiftright(bg, 21).cast("int")),
            call_function("char", bg.bitwiseAND(lit(2097151L)).cast("int")))).as("dec"),
        expr("transform(sequence(1, length(text) - 1), i -> substr(text, i, 2))").as("ref"))
      decoded.collect().foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2), s"seed=$seed text='${r.getString(0)}'")
      }
    }
  }

  test("property: salted aggregation equals the plain groupBy, any data") {
    import spark.implicits._
    val gGen = Gen.listOfN(30, Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.choose(-50L, 50L)))
    for (seed <- 1L to 5L) {
      val rows = sample(gGen, seed)
      val df = rows.toDF("key", "v")
      val salted = ops.Skew.saltedSumCount(df, "key", "v", 8)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val plain = df.groupBy($"key").agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(salted === plain, s"seed=$seed")
    }
  }

  test("property: F1 surrogate keys are equal iff coalesced inputs are equal") {
    import spark.implicits._
    val cellGen = Gen.option(Gen.oneOf("x", "y", ""))
    val listGen = Gen.listOfN(6, Gen.zip(cellGen, cellGen))
    val sentinel = "_dbt_utils_surrogate_key_null_"
    for (seed <- 1L to 5L) {
      val rows = sample(listGen, seed)
      val keyed = rows.toDF("a", "b")
        .select($"a", $"b", ops.ScalarFuncs.surrogateKey($"a", $"b").as("k"))
        .collect()
      for (r <- keyed; s <- keyed) {
        val rc = (Option(r.getString(0)).getOrElse(sentinel), Option(r.getString(1)).getOrElse(sentinel))
        val sc = (Option(s.getString(0)).getOrElse(sentinel), Option(s.getString(1)).getOrElse(sentinel))
        assert((r.getString(2) == s.getString(2)) === (rc == sc), s"seed=$seed $rc vs $sc")
      }
    }
  }

  private val corpusGen: Gen[List[(Long, String)]] = Gen
    .listOfN(15, for {
      n  <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf((1 to 8).map(i => s"w$i")))
    } yield ws.mkString(" "))
    .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("property: L2 df-capped pipeline equals the uncapped reference on random corpora") {
    import spark.implicits._
    graft.GraftExtensions.ensure(spark)
    // tiny vocab => dense shingle sharing and plenty of hot shingles —
    // exactly the regime the probe cap prunes; the capped pipeline must
    // still return the IDENTICAL qualifying pair set (losslessness is a
    // theorem, so it must hold on every corpus, not just the fixtures)
    for (seed <- 1L to 5L) {
      val docs = sample(corpusGen, seed).toDF("doc_id", "text")
      val got = graft.llm.TextDedup.ngramJaccardFrom(spark, docs)
        .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = docs.filter(size(split($"text", " ")) >= 3)
        .select($"doc_id", explode(call_function("graft_shingles", $"text", lit(3))).as("s"))
      val szs = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val ref = sh.as("x").join(sh.as("y"), $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
        .groupBy($"x.doc_id".as("da"), $"y.doc_id".as("db")).agg(count(lit(1)).as("i"))
        .join(szs.as("sa"), $"sa.doc_id" === $"da")
        .join(szs.as("sb"), $"sb.doc_id" === $"db")
        .filter($"i" * 5 >= ($"sa.n" + $"sb.n" - $"i") * 4)
        .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === ref, s"seed=$seed: capped ${got.size} pairs vs uncapped ${ref.size}")
    }
  }
}
