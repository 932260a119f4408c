package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The package-private bridge every Spark extension library that adds its
  * own logical operators uses (Delta, Iceberg, GraphFrames all carry the
  * same shim): `Dataset.ofRows` — the only way to wrap a custom
  * [[LogicalPlan]] in a user-facing DataFrame — is `private[sql]`, so the
  * one call lives in this package and the whole graft.plans layer stays in
  * its own namespace.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** Same-package bridge for Column <-> Expression (ExpressionUtils is
  * private[sql]); used by operators that build native expressions carrying
  * driver-held state (e.g. the PQ codebook encoder).
  */
object GraftColumnBridge {
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}

/** Same-package bridge for the listener bus's drain (private[spark]): a
  * profiler reads its counters only after every posted event is delivered.
  */
object GraftListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** `Dataset.localCheckpoint(eager)` with one hook: `taken` receives the
  * checkpoint's RDD BEFORE the eager job runs. Spark's own call returns
  * the RDD only when that job succeeds, so a failed eager checkpoint left
  * persisted storage no caller could reach. The body is Spark's
  * (`checkpoint` inside `withAction`: one SQL execution named
  * "localCheckpoint", the same job, the same listener events); only the
  * hook is new. [[graft.ops.Ckpt.Scope]] is its one caller.
  */
object GraftCheckpointBridge {
  def localCheckpoint(df: DataFrame, eager: Boolean)(taken: org.apache.spark.rdd.RDD[_] => Unit): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      execution.QueryExecution.withInternalError("""The "localCheckpoint" action failed.""") {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute().map(_.copy())
        rdd.localCheckpoint()
        taken(rdd)
        if (eager) rdd.doCheckpoint()
        classic.Dataset.ofRows(ds.sparkSession, execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
      }
    }
  }
}
