package graft.pipebench

import java.nio.file.Path
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Seeded generator of raw weather documents in the reference's delivery
  * shape: one JSON document per (location, run day) with 10 parameters,
  * two of them the string-valued `sunrise:sql`/`sunset:sql`, each with
  * 193 hourly readings from (run day − 1) 00:00 to (run day + 7) 00:00.
  *
  * Pure JVM code, no Spark: the documents are written as JSON lines, one
  * file per run day, and the program only ever sees those files. The
  * expected staging and fact counts are recomputed here from the same
  * calendar rules, independently of the program's Spark plans.
  */
final case class WeatherInputs(seed: Long, locations: Int) {
  import WeatherInputs._

  private def rng(salt: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed, salt), a), b))

  /** Location names and coordinates depend on the seed; names are unique. */
  val places: IndexedSeq[(String, String, Double, Double)] = (0 until locations).map { i =>
    val r = rng(1, i, 0)
    val city = f"c${i}%03d_${r.nextInt(1 << 20)}%05x"
    val country = countries(r.nextInt(countries.size))
    val lat = (r.nextInt(1200000) - 600000) / 10000.0
    val lon = (r.nextInt(3600000) - 1800000) / 10000.0
    (city, country, lat, lon)
  }

  /** The JSON document of location `loc` for run day `day`. */
  def doc(loc: Int, day: Int): String = {
    val (city, country, lat, lon) = places(loc)
    val r = rng(2, loc, day)
    val genMinute = r.nextInt(60)
    val sb = new java.lang.StringBuilder(80 * ReadingsPerParam * params.size)
    sb.append("{\"city\":\"").append(city).append("\",\"country\":\"").append(country)
      .append("\",\"latitude\":").append(lat).append(",\"longitude\":").append(lon)
      .append(",\"weather\":{\"version\":\"3.0\",\"user\":\"pipebench\",\"dateGenerated\":\"")
      .append(isoHour(dayStartHour(day) + 2, genMinute))
      .append("\",\"status\":\"OK\",\"data\":[")
    params.zipWithIndex.foreach { case (p, pi) =>
      if (pi > 0) sb.append(',')
      sb.append("{\"parameter\":\"").append(p).append("\",\"coordinates\":[{\"lat\":")
        .append(lat).append(",\"lon\":").append(lon).append(",\"dates\":[")
      var h = 0
      while (h < ReadingsPerParam) {
        if (h > 0) sb.append(',')
        val hour = firstReadingHour(day) + h
        sb.append("{\"date\":\"").append(isoHour(hour, 0)).append("\",\"value\":\"")
        if (sunParams.contains(p)) {
          val base = if (p == "sunrise:sql") 5 else 18
          sb.append(isoDate(Math.floorDiv(hour, 24))).append(' ')
            .append(f"${base + r.nextInt(3)}%02d:${r.nextInt(60)}%02d:00")
        } else {
          val v10 = r.nextInt(4000)
          sb.append(v10 / 10).append('.').append(v10 % 10)
        }
        sb.append("\"}")
        h += 1
      }
      sb.append("]}]}")
    }
    sb.append("]}}")
    sb.toString
  }

  /** Writes run day `day` (every location) as one JSON-lines file under
    * `dir`; returns its size in bytes.
    */
  def writeDay(dir: Path, day: Int): Long = Workloads.writeLines(dir.resolve(s"day_${isoDate(day)}.json"),
    (0 until locations).map(doc(_, day)))

  /** Writes the given run days into one directory, one file per day. */
  def writeDays(dir: Path, days: Seq[Int]): Long = days.map(writeDay(dir, _)).sum
}

object WeatherInputs {
  val params: Seq[String] = Seq(
    "t_2m:C", "precip_1h:mm", "wind_speed_10m:ms", "wind_dir_10m:d", "msl_pressure:hPa",
    "relative_humidity_2m:p", "uv:idx", "weather_symbol_1h:idx", "sunrise:sql", "sunset:sql")
  val sunParams: Set[String] = Set("sunrise:sql", "sunset:sql")
  val ReadingsPerParam = 193
  val ReadingsPerDoc: Long = ReadingsPerParam.toLong * params.size
  val countries: Seq[String] = Seq("CH", "DE", "KZ", "NO", "PT", "US")
  /** Run day 0 is this date; hour 0 is its midnight (UTC). */
  val day0: LocalDate = LocalDate.of(2025, 3, 1)

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def dayStartHour(day: Int): Int = 24 * day
  def firstReadingHour(day: Int): Int = 24 * (day - 1)
  def isoDate(day: Int): String = day0.plusDays(day.toLong).toString
  def isoHour(hour: Int, minute: Int): String =
    f"${isoDate(Math.floorDiv(hour, 24))}T${Math.floorMod(hour, 24)}%02d:$minute%02d:00Z"
  /** The `now` a run of `day` passes to the marts: that day's midnight. */
  def runInstant(day: Int): Instant = day0.plusDays(day.toLong).atStartOfDay(ZoneOffset.UTC).toInstant

  /** Expected row count of each fact appended by a run with `now` = run day
    * `nowDay` over a staging table holding run days `staged` of every one
    * of `locations` locations. Rules of the reference's fact models: keep
    * readings in [now − 2 d, now + 7 d], the freshest document wins per
    * (city, parameter, timestamp), and a reading is history when it is not
    * later than that document's generation time (02:mm of its run day).
    */
  def expectedFacts(staged: Set[Int], nowDay: Int, locations: Int): Map[String, Long] = {
    var hist = 0L
    var fore = 0L
    for (t <- 24 * (nowDay - 2) to 24 * (nowDay + 7)) {
      val covering = staged.filter(d => t >= firstReadingHour(d) && t <= firstReadingHour(d) + ReadingsPerParam - 1)
      if (covering.nonEmpty) {
        if (t <= dayStartHour(covering.max) + 2) hist += 1 else fore += 1
      }
    }
    val nSun = sunParams.size.toLong
    val nWx = params.size - nSun
    Map(
      "fact_weather_params_history" -> locations * nWx * hist,
      "fact_weather_params_forecast" -> locations * nWx * fore,
      "fact_sun_times_history" -> locations * nSun * hist,
      "fact_sun_times_forecast" -> locations * nSun * fore)
  }
}
