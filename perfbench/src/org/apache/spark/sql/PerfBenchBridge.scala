package org.apache.spark.sql

import org.apache.spark.rdd.RDD

/** The package-private Spark call the traced ingest composition needs. */
object PerfBenchBridge {
  /** What `createDataFrame(rows, schema)` does after its per-row
    * ExpressionEncoder serializer pass. */
  def fromInternalRows(spark: SparkSession, rows: RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
