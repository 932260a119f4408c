package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharBigrams, DotProduct, SrpProj, TokenCounts, WinnowFps, WordShingles}

/** Engine extensions: registers the native expressions with Catalyst.
  * Production path: `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (or `.withExtensions(new GraftExtensions)`); `GraftExtensions.ensure`
  * is the defensive same-JVM path for sessions built without the config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- GraftExtensions.functions)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    // whole-operator extension tier: the native as-of join, plus the
    // optimizer rule that narrows its children before their exchanges
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsOfJoinColumns)
  }
}

object GraftExtensions {
  /** The native functions: (SQL name, expression class, builder) — the one
    * table both registration paths iterate. */
  private[graft] val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], c => DotProduct(c.head, c(1))),
    ("graft_char_bigrams", classOf[CharBigrams], c => CharBigrams(c.head)),
    ("graft_token_counts", classOf[TokenCounts], c => TokenCounts(c.head)),
    ("graft_shingles", classOf[WordShingles], c => WordShingles(c.head, c(1))),
    ("graft_winnow_fps", classOf[WinnowFps], c => WinnowFps(c.head)),
    ("graft_srp_proj", classOf[SrpProj], c => SrpProj(c.head)))

  /** Idempotent late registration for an already-built session. */
  def ensure(spark: SparkSession): Unit =
    for ((name, _, build) <- functions)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
}
