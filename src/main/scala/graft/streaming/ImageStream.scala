package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{ImageRow, PolyRow}
import graft.operators.{Tiler, ZonalStats}

/**
 * Structured-Streaming ingest for the image table. The reference is
 * purely batch (SURVEY §1.4/§2.9 — no streams), so this is forward
 * capability, not parity: a parquet-directory stream of north-rule image
 * rows is decoded/tiled per micro-batch with the SAME Tiler, probed
 * against the broadcast polygon cell index (`ZonalStats.histogram`), and
 * the running zonal histogram is kept
 * as streaming state by the partial-aggregate update (output: histogram
 * deltas written per batch into batch_id partitions with dynamic
 * overwrite — a replayed batch replaces its own delta, so the
 * at-least-once foreachBatch contract still yields exactly-once folds
 * when ZonalStats.stats reads them — the streaming analog of the
 * snapshot-manifest resume model).
 */
object ImageStream {

  /** Start the streaming zonal pipeline over a directory of image
    * parquet files; emits per-batch histogram rows. `maxFilesPerTrigger`
    * bounds each micro-batch (and lets tests/oracles force a multi-batch
    * replay over a static directory). */
  def zonalStream(spark: SparkSession, imagesDir: String, polys: Seq[PolyRow],
                  cellRes: Int, tileSize: Int, outDir: String,
                  checkpointDir: String,
                  maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[ImageRow].schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(imagesDir).as[ImageRow]
    val polyDs = spark.createDataset(polys)
    // per micro-batch: decode -> tile -> broadcast PIP join -> histogram
    val query = stream.writeStream
      .foreachBatch { (batch: Dataset[ImageRow], batchId: Long) =>
        writeBatchDelta(batch, batchId, polyDs, cellRes, tileSize, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query
  }

  /** One micro-batch's sink write. foreachBatch is at-least-once: a
    * batch whose write committed but whose checkpoint offset didn't is
    * REPLAYED on restart. Writing each batch into its own batch_id
    * partition with dynamic partition overwrite makes the retry REPLACE
    * its own delta instead of double-appending it (idempotent sink =
    * exactly-once end-to-end; stats() folds partitions unchanged).
    * `private[graft]` so the replay invariance is spec-testable. */
  private[graft] def writeBatchDelta(batch: Dataset[ImageRow], batchId: Long,
                                         polyDs: Dataset[PolyRow], cellRes: Int,
                                         tileSize: Int, outDir: String): Unit = {
    implicit val s: SparkSession = batch.sparkSession
    val tiles = Tiler.tiles(batch, tileSize, cellRes)
    ZonalStats.histogram(tiles, polyDs, cellRes)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Fold the streamed histogram deltas into final zonal stats. */
  def stats(spark: SparkSession, outDir: String): DataFrame =
    ZonalStats.stats(ZonalStats.foldPartials(spark.read.parquet(outDir)))
}
