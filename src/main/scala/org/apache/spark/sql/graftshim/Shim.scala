package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, StringType, TypeCollection}

/** Minimal bridge into `private[sql]` surface of Spark 4.x.
  *
  * Spark 4 wraps `Column` around ColumnNode; building a `Column` from a
  * Catalyst `Expression`, reaching the session FunctionRegistry, a
  * `TypeCollection` input type and the session's Hadoop conf are
  * `private[sql]`. This shim lives inside the
  * `org.apache.spark.sql` package purely to re-export those capabilities
  * — the standard pattern for Spark-native extension libraries. No Spark
  * behavior is modified.
  */
object Shim {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An expected input type: a `DataType` or a `TypeCollection` of them
    * (`AbstractDataType` and `TypeCollection` are `private[sql]`). */
  type InputType = AbstractDataType

  /** STRING or BINARY, as one expected input type. */
  val StringOrBinary: InputType = TypeCollection(StringType, BinaryType)

  /** Drain the listener bus so every event posted so far has reached its
    * listeners before the caller reads what they recorded (a
    * `SparkListener` counting jobs, say). `listenerBus` is
    * `private[spark]`; this shim package sits under `org.apache.spark`
    * for exactly this bridge. */
  def awaitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  private def functionRegistry(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Whether the session's function registry holds `name`. */
  def functionExists(spark: SparkSession, name: String): Boolean =
    functionRegistry(spark).functionExists(FunctionIdentifier(name))

  /** Register a temp function builder on an already-built session (the
    * `withExtensions` path in [[graft.expr.GraftExtensions]] is preferred;
    * this covers sessions we didn't construct). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    functionRegistry(spark)
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}

/** The Hadoop conf Spark builds for a session's reads and writes: the
  * context's conf overlaid with the session's runtime conf, a fresh copy
  * per call. */
object SessionHadoopConf {
  def apply(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
}
