package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/**
 * Column <-> Expression bridge for custom Catalyst expressions. Spark 4
 * made `Column.expr` private behind the Connect-unified Column API; the
 * supported extension pattern (used by public Spark extensions, cf.
 * SNIPPETS.md [2]/[3]) is a shim in the org.apache.spark.sql package.
 * The same shim hands `sources` the session's SQL and Hadoop confs and
 * the file-source nullability rule, so a driver-side footer read
 * configures itself exactly as Spark's own schema inference does.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def sqlConf(spark: SparkSession): SQLConf = spark.sessionState.conf
  def hadoopConf(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()
  /** File-source relations expose every column as nullable. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
