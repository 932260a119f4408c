package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 to a
  * DataFrame program over the driver test tables; `oracleSql` holds the
  * DuckDB-equivalent SQL for the correctness gate. Column names and order
  * semantics match exactly between the two (FIXTURES.md determinism rules).
  */
object SparkEntry {

  /** The session every main builds: `local[cpus]` (unless `spark-submit`
    * already chose a master), [[ops.Tuning.configure]]'s settings for the
    * input under `sfDir`, UTC (the [[Tables.events]] invariant), the native
    * extensions, no UI, log level WARN.
    */
  def session(sfDir: String, cpus: Int): SparkSession = {
    val b = SparkSession.builder()
    if (!sys.props.contains("spark.master")) b.master(s"local[$cpus]")
    val spark = ops.Tuning.configure(b, sfDir, cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.j1StarJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++
    ops.FunctionBatteries.queries ++
    ops.SqlSurface.queries ++
    ops.SqlTpch.queries ++
    ops.ApproxAggs.queries ++
    ops.TypedApi.queries ++
    sources.Formats.queries ++
    ops.ScalarFuncs.queries ++
    ops.WeatherQueries.queries ++
    ops.NestedOps.queries ++
    ops.EventWindows.queries ++
    ops.Incremental.queries ++
    ops.Graph.queries ++
    ops.Metrics.queries ++
    weather.FileIngest.queries ++
    llm.TextDedup.queries ++
    llm.Embeddings.queries ++
    llm.TextAnalysis.queries ++
    llm.Multimodal.queries ++
    llm.Curation.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++
    ops.FunctionBatteries.oracles ++
    ops.SqlSurface.oracles ++
    ops.SqlTpch.oracles ++
    ops.ApproxAggs.oracles ++
    ops.TypedApi.oracles ++
    sources.Formats.oracles ++
    ops.ScalarFuncs.oracles ++
    ops.WeatherQueries.oracles ++
    ops.NestedOps.oracles ++
    ops.EventWindows.oracles ++
    ops.Incremental.oracles ++
    ops.Graph.oracles ++
    ops.Metrics.oracles ++
    weather.FileIngest.oracles ++
    llm.TextDedup.oracles ++
    llm.Embeddings.oracles ++
    llm.TextAnalysis.oracles ++
    llm.Multimodal.oracles ++
    llm.Curation.oracles
}
