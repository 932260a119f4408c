package graft.pipebench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone. */
class GeneratorSpec extends AnyFunSuite {

  private def weatherBytes(seed: Long): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("pipebench_gen_")
    try {
      val gen = WeatherInputs(seed, locations = 3)
      gen.writeDays(dir, 0 until 2)
      (0 until 2).map(d => Files.readAllBytes(dir.resolve(s"day_${WeatherInputs.isoDate(d)}.json")))
    } finally graft.ops.ArtifactRoots.delete(dir.toString)
  }

  private def corpus(seed: Long): (Seq[String], Seq[String]) = {
    val gen = CorpusInputs(seed, baseDocs = 200, batchDocs = 20, baseVecs = 40, batchVecs = 5)
    ((gen.baseDocRows ++ gen.batchDocRows(0) ++ gen.batchDocRows(3)).map(CorpusIngest.docJson),
      (gen.baseVecRows ++ gen.batchVecRows(2)).map(CorpusIngest.vecJson))
  }

  test("one seed gives identical weather documents") {
    val (a, b) = (weatherBytes(7), weatherBytes(7))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("two seeds give different weather documents") {
    val (a, b) = (weatherBytes(7), weatherBytes(8))
    assert(a.zip(b).forall { case (x, y) => !java.util.Arrays.equals(x, y) })
  }

  test("one seed gives an identical corpus; two seeds give different ones") {
    assert(corpus(7) == corpus(7))
    val (d7, v7) = corpus(7)
    val (d8, v8) = corpus(8)
    assert(d7 != d8 && v7 != v8)
  }

  test("weather documents have the reference's shape") {
    val doc = WeatherInputs(1, 2).doc(1, 5)
    assert("\"parameter\":".r.findAllIn(doc).size == WeatherInputs.params.size)
    assert("\"date\":".r.findAllIn(doc).size == WeatherInputs.ReadingsPerDoc)
    assert(doc.contains("\"sunrise:sql\"") && doc.contains("\"sunset:sql\""))
  }

  test("the corpus carries near-duplicates at roughly the stated share") {
    val gen = CorpusInputs(3, baseDocs = 2000, batchDocs = 1, baseVecs = 1, batchVecs = 1)
    val texts = gen.baseDocRows.map(_.text.split(" ").toSeq)
    val firstWords = texts.groupBy(_.take(3)).values.count(_.size > 1)
    assert(firstWords > 100, s"only $firstWords shared openings in 2000 docs")
  }

  test("expected fact counts split the 10-day window into history and forecast") {
    val f = WeatherInputs.expectedFacts(Set(0, 1, 2), nowDay = 2, locations = 3)
    // days 0..2 cover hours -24 .. 216; the window is [0, 216]: 217 hours,
    // of which hours 0..50 are history (up to day 2's 02:00 generation time)
    assert(f("fact_weather_params_history") == 3 * 8 * 51)
    assert(f("fact_weather_params_forecast") == 3 * 8 * (217 - 51))
    assert(f("fact_sun_times_history") == 3 * 2 * 51)
  }
}
