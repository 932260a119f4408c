package graft.weather

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.ScalarFuncs.surrogateKey

/** The reference's star schema (SURVEY.md §1.3): 2 derived dims + 4 facts.
  * dim_date lives in graft.ops.ScalarFuncs (driver-registered query).
  */
object Marts {

  /** dim_location (reference dim_location.sql:3-9): P7 distinct-project +
    * F1 surrogate key over (country, city).
    */
  def dimLocation(stg: DataFrame): DataFrame =
    stg.select(
      surrogateKey(col("country"), col("city")).as("location_key"),
      col("country"), col("city"), col("latitude"), col("longitude"))
      .dropDuplicates()

  /** dim_weather_condition (dim_weather_condition.sql:3-8): F1 + F2. */
  def dimCondition(stg: DataFrame): DataFrame =
    stg.select(
      surrogateKey(col("parameter")).as("condition_key"),
      col("parameter").as("parameter_code"),
      split_part(col("parameter"), lit(":"), lit(1)).as("parameter_name"),
      split_part(col("parameter"), lit(":"), lit(2)).as("unit"))
      .dropDuplicates()

  /** W1 shared ranking (identical in all 4 facts, fact_*.sql:17-21):
    * freshest dateGenerated per (city, parameter, reading_datetime).
    * Defined once and branched four ways, but the frame is LAZY: nothing
    * here materializes it, so each of the 4 fact writes in
    * `Pipeline.buildMarts` runs the window shuffle (the writes run
    * concurrently and count their rows by observation, with no count
    * action). Computing it once is still open.
    */
  def ranked(stg: DataFrame): DataFrame =
    stg.withColumn("row_num",
      row_number().over(
        Window.partitionBy(col("city"), col("parameter"), col("reading_datetime"))
          .orderBy(col("dateGenerated").desc)))

  /** One parameterized fact covering all four reference models — they
    * differ only in P5 set membership (sun vs weather params,
    * fact_*.sql:30) and P6 comparison direction (history:
    * reading <= dateGenerated, forecast: >, :31).
    *
    * @param rankedStg output of [[ranked]]
    * @param now       the pivot the reference takes from current_date()
    *                  (fact_*.sql:10-11) — parameterized for determinism
    */
  def fact(rankedStg: DataFrame, sunTimes: Boolean, history: Boolean, now: Column): DataFrame = {
    val inWindow = rankedStg.filter(
      col("reading_datetime").between(
        now - expr("INTERVAL 2 DAY"), now + expr("INTERVAL 7 DAY")))
    val paramSplit =
      if (sunTimes) inWindow.filter(col("parameter").isin(WeatherSchema.sunParams: _*))
      else inWindow.filter(!col("parameter").isin(WeatherSchema.sunParams: _*))
    val histSplit =
      if (history) paramSplit.filter(col("reading_datetime") <= col("dateGenerated"))
      else paramSplit.filter(col("reading_datetime") > col("dateGenerated"))
    val base = histSplit.filter(col("row_num") === 1)
      .select(
        surrogateKey(col("country"), col("city")).as("location_key"),
        surrogateKey(col("parameter")).as("condition_key"),
        date_format(col("reading_datetime"), "yyyyMMdd").cast(IntegerType).as("date_key"),
        col("reading_datetime"),
        col("reading_value"))
    // P3: weather facts cast the union-typed value ::FLOAT
    // (fact_weather_params_history.sql:41); sun facts keep the SQL-datetime
    // string as-is (fact_sun_times_history.sql:41).
    if (sunTimes) base
    else base.withColumn("reading_value", col("reading_value").cast(DoubleType))
  }

  /** V4 dbt-test ports: uniqueness + not-null assertions (schema.yml:9-11). */
  def keyIsUniqueAndNotNull(df: DataFrame, key: String): Boolean = {
    val dups  = df.groupBy(col(key)).count().filter(col("count") > 1).isEmpty
    val nulls = df.filter(col(key).isNull).isEmpty
    dups && nulls
  }
}
