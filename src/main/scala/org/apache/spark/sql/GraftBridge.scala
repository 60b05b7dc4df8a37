package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Column <-> Expression bridge for custom Catalyst expressions. Spark 4
 * made `Column.expr` private behind the Connect-unified Column API; the
 * supported extension pattern (used by public Spark extensions, cf.
 * SNIPPETS.md [2]/[3]) is a shim in the org.apache.spark.sql package.
 * The same shim hands `sources` the session's SQL and Hadoop confs and
 * the file-source nullability rule, so a driver-side footer read
 * configures itself exactly as Spark's own schema inference does, and
 * lends driver-side code catalyst's ordering of a column type.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def sqlConf(spark: SparkSession): SQLConf = spark.sessionState.conf
  def hadoopConf(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()
  /** File-source relations expose every column as nullable. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Dense ranks of `values` (external values, as `Row.get` returns
    * them) under catalyst's interpreted ordering for `dt` — the order
    * Spark's own sorts and min() use: strings compare as UTF8String
    * bytes, not by `String.compareTo`. Values the ordering calls equal
    * share a rank; ranks run from 0 up to the distinct count - 1. */
  def denseRanks(values: Array[Any], dt: DataType): Array[Int] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val keys = values.map(v => InternalRow(toCatalyst(v)))
    val ord = InterpretedOrdering.forSchema(Seq(dt))
    val order = Array.range(0, values.length).sortBy(keys(_))(ord)
    val rank = new Array[Int](values.length)
    var r = 0
    var k = 1
    while (k < order.length) {
      if (ord.compare(keys(order(k - 1)), keys(order(k))) != 0) r += 1
      rank(order(k)) = r
      k += 1
    }
    rank
  }
}
