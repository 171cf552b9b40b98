package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` bridge the streaming source needs, isolated in the
  * `org.apache.spark.sql` namespace the way every out-of-tree Structured
  * Streaming connector does it (Delta Lake's `DeltaSource` and the Kafka
  * connector both build their micro-batch frames through
  * `internalCreateDataFrame(rdd, schema, isStreaming = true)`): a v1
  * `Source.getBatch` must return a frame whose logical plan is FLAGGED
  * streaming, and that flag is not settable through any public constructor.
  * Nothing else in the engine lives outside the `graft` namespace, and
  * nothing here does more than forward the call.
  */
object GraftSparkInternals {

  /** `df`'s rows as a STREAMING DataFrame with `schema`. The physical plan of
    * `df` is pinned at call time (`queryExecution.toRdd`), so the returned
    * frame reads exactly the files the caller resolved — immutable snapshot
    * data files in the lake-source case. */
  def asStreamingFrame(spark: SparkSession, df: DataFrame, schema: StructType): DataFrame = {
    val classic = spark.asInstanceOf[ClassicSession]
    val rdd: RDD[InternalRow] =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.toRdd
    classic.internalCreateDataFrame(rdd, schema, isStreaming = true)
  }

  /** `e` as a `Column`: the lake's bucket hash is a Catalyst expression. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
