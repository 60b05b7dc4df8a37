package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ImageRow

/**
 * The image+caption table source/sink (north-rule input shape,
 * BASELINE.json:15). Readers validate the schema up front (fail fast on
 * drift rather than deep in an executor decode), and writes record
 * row/byte metrics through `observe` — the QueryExecutionListener-
 * friendly hook SURVEY §2.9 names for per-stage metrics.
 */
object ImageTable {

  val schema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("x_min", DoubleType, nullable = false),
    StructField("y_max", DoubleType, nullable = false),
    StructField("px", DoubleType, nullable = false)))

  /** The image table at `path`, with no Spark job: the driver reads the
    * one parquet footer Spark's schema inference would open, checks it
    * against [[schema]] (a missing column or a wrong type fails here,
    * naming the column, not deep in an executor decode) and reads with
    * that schema — see [[ParquetTable]]. */
  def read(spark: SparkSession, path: String): Dataset[ImageRow] =
    ParquetTable.read(spark, path, schema)
      .as[ImageRow](org.apache.spark.sql.Encoders.product[ImageRow])

  /** Write with observed metrics; returns (rows, payloadBytes). The
    * observe node's metrics surface on the WRITE command's own
    * QueryExecution, delivered async via QueryExecutionListener. */
  def write(images: Dataset[ImageRow], path: String,
            mode: String = "overwrite"): (Long, Long) = {
    val spark = images.sparkSession
    @volatile var captured: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("image_table_write").foreach(r => captured = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      images.toDF().observe("image_table_write",
        count(lit(1)).as("rows"), sum(length(col("bytes"))).as("payload_bytes"))
        .write.mode(mode).parquet(path)
      // listener delivery is async; bounded poll
      val deadline = System.nanoTime() + 10_000_000_000L
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      captured.map(m => (m.getAs[Long]("rows"), m.getAs[Long]("payload_bytes")))
        .getOrElse((-1L, -1L))
    } finally spark.listenerManager.unregister(listener)
  }
}
