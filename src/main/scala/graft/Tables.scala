package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver test tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the per-SF dir. All engine
  * queries take the dir as a parameter so the same code runs at every scale
  * factor — at cluster scale these would be multi-file parquet roots and
  * nothing here changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema memo (round-16 optimization): `spark.read.parquet`
    * without a schema lists the path and reads parquet footers — sometimes
    * with a Spark job — ON EVERY CALL, pure metadata work repeated per
    * query construction. For a `key` whose data keeps one schema for the
    * process lifetime, the first inference is reused via `.schema(...)`
    * afterwards; no data or results are cached, exactly what a table
    * catalog does in production.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private[graft] def parquetSchemaMemo(spark: SparkSession, path: String, key: String): DataFrame = {
    val cached = schemaMemo.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaMemo.put(key, df.schema)
      df
    }
  }

  /** The driver tables are immutable for a process lifetime (the contract
    * the MV memos rely on), so their schema memo is keyed by canonical
    * path: two dirs named alike under different parents never collide
    * (the ArtifactRoots discipline).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    parquetSchemaMemo(spark, path, new java.io.File(path).getCanonicalPath)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped as INT64 TIMESTAMP(NANOS) in some driver data
    * generations (Spark 4 rejects those by default) and as tz-less
    * TIMESTAMP(MICROS) in others (Spark 4 reads those as TIMESTAMP_NTZ,
    * which time-arithmetic functions like unix_micros refuse). Normalize
    * both to the session-tz TimestampType: the NTZ→TZ cast is wall-clock-
    * identical to DuckDB's naive read ONLY under a UTC session timezone,
    * so the loader ASSERTS that invariant (every entry point sets it at
    * build time; an entry point that forgot would otherwise shift every
    * ts by the host offset and fail oracle compare confusingly far from
    * the cause). Asserting rather than setting keeps the loader from
    * hijacking a session that deliberately chose another timezone — the
    * failure is immediate and names the fix.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tz = s.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"Tables.events requires spark.sql.session.timeZone=UTC (got $tz): " +
        "the NTZ->TZ normalization is only oracle-identical under UTC; " +
        "set it in the SparkSession builder")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))  // integral div: no double rounding
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
