package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The one call into Spark's package-private SQL API: a DataFrame over an
  * RDD of Catalyst rows that already match `schema`. The public
  * `createDataFrame(RDD[Row], …)` would run every row through an
  * external-`Row` serializer, whose generated code over a deep nested
  * schema costs more than the rows themselves on small inputs.
  */
object InternalFrame {
  def apply(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
