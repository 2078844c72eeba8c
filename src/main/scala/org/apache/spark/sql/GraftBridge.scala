package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ catalyst Expression bridge for graft's native expressions.
  *
  * Spark 4 hides the Expression-backed Column factory behind
  * `private[sql]` (`classic.ExpressionUtils`); the established pattern for
  * external libraries shipping custom catalyst expressions is a minimal
  * bridge object living in the `org.apache.spark.sql` package. Nothing
  * else in this package — all engine code lives under `graft`.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Driver-local DataFrame from pre-built InternalRows — what
    * `createDataFrame(rows, schema)` becomes AFTER its per-row
    * CatalystTypeConverters pass. Callers (graft's compiled encode
    * writers) guarantee the rows already hold catalyst representations
    * for `schema`. */
  def localDataFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Distributed DataFrame from an RDD of InternalRows — what
    * `createDataFrame(rdd, schema)` becomes AFTER its per-row
    * ExpressionEncoder pass. Same contract as [[localDataFrame]]: the
    * rows already hold catalyst representations for `schema`. */
  def internalDataFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Runs `body` under a registered SQL execution id — what Dataset's own
    * withAction does around collect(). Callers that drive executedPlan
    * directly (graft's catalyst-native collect) would otherwise be
    * invisible to QueryExecutionListeners and the Spark UI.
    *
    * `name` matters: the execution-end event carries it as
    * `executionName`, and `ExecutionListenerBus` only forwards the event
    * to registered QueryExecutionListeners when a name is present — an
    * unnamed execution is UI-visible but listener-invisible
    * (ExecutionListenerBus.onOtherEvent's executionName guard). */
  def withExecutionId[T](qe: execution.QueryExecution, name: String)(body: => T): T =
    execution.SQLExecution.withNewExecutionId(qe, Some(name))(body)

  /** Drains the async listener bus — lets specs assert on
    * QueryExecutionListener callbacks deterministically. (`listenerBus`
    * is `private[spark]`, hence exposed through this bridge.) */
  def awaitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
