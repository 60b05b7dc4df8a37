package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ImageRow, PolyRow}
import graft.operators.{Tiler, ZonalStats}

/**
 * The checkpoint-resumable flagship pipeline (north rule: "all stages
 * checkpoint to snapshot-tagged state so a killed job resumes
 * per-partition with lineage and row-count/byte metrics").
 *
 * The image table is INGESTED with a materialized `shard` PARTITION
 * column (shard id = crc32(image_id) mod nShards — at 10^12-image scale
 * this is the ingest-shard key). Each shard runs the full decode -> tile
 * -> polygon cell-index probe -> PIP -> histogram slice and commits its
 * histogram rows to a SnapshotTable keyed by shard. A killed run leaves a manifest
 * covering the finished shards only; `run` derives pending work by
 * anti-joining the shard list against the manifest and processes just
 * that.
 *
 * Scale: the per-shard scan is a COLUMN predicate on the partition key
 * (`col("shard") === s`), so Catalyst prunes the read to that shard's
 * files (PartitionFilters — plan-gated in PlanShapeSpec). A resume over
 * a 10^5-shard backlog therefore reads each pending shard's bytes
 * exactly once, never a full-table rescan per batch (a typed
 * `filter(img => ...)` lambda here would be opaque to the optimizer and
 * rescan 100 TB per batch).
 *
 * Idempotence: SnapshotTable.commit drops already-committed shard rows,
 * so overlapping re-runs cannot double-count.
 */
object Pipeline {

  /** Column-native shard id — the ingest partition key. crc32 is exactly
    * computable on both the Column and driver (java.util.zip.CRC32)
    * sides, unlike String.hashCode which has no Catalyst form. */
  def shardCol(nShards: Int): Column =
    concat(lit("s"), (crc32(col("image_id").cast("binary")) % nShards).cast("string"))

  def shardOf(imageId: String, nShards: Int): String = {
    val c = new java.util.zip.CRC32()
    c.update(imageId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"s${c.getValue % nShards}"
  }

  /** Ingest: write the image table partitioned by `shard` — the layout
    * every resume reads. One shuffle-free pass over the source. */
  def ingest(images: Dataset[ImageRow], path: String, nShards: Int): Unit =
    images.withColumn("shard", shardCol(nShards))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** One shard's images: partition-pruned scan (Column predicate on the
    * partition key — PlanShapeSpec gates the PartitionFilters). */
  private[graft] def shardScan(imagesPath: String, shard: String)
                              (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    spark.read.parquet(imagesPath)
      .where(col("shard") === shard)
      .drop("shard").as[ImageRow]
  }

  /** Process all pending shards in batches of `batchShards` — ONE Spark
    * job (and one manifest publish) per batch rather than per shard, so
    * a 10^5-shard backlog doesn't pay 10^5 job/commit round-trips. The
    * manifest stays per-shard (resume granularity unchanged); only the
    * in-flight batch is lost on a crash. Returns shards processed. */
  def run(imagesPath: String, polys: Dataset[PolyRow],
          table: SnapshotTable, nShards: Int, tileSize: Int, cellRes: Int,
          failAfterShards: Int = Int.MaxValue, batchShards: Int = 16)
         (implicit spark: SparkSession): Set[String] = {
    val allShards = (0 until nShards).map(i => s"s$i")
    val pending = table.pending(allShards)
    var done = Set.empty[String]
    var started = 0
    for (batch <- pending.grouped(math.max(1, batchShards))) {
      if (started >= failAfterShards)
        throw new RuntimeException(s"injected failure before shard ${batch.head}")
      started += batch.size
      // per-shard sub-histograms union into one commit: each scan is
      // partition-pruned to its own shard's files, so the union reads the
      // batch's bytes exactly once
      val hist = batch.map { shard =>
        ZonalStats.histogram(
            Tiler.tiles(shardScan(imagesPath, shard), tileSize, cellRes),
            polys, cellRes)
          .withColumn("shard", lit(shard))
      }.reduce(_.unionByName(_))
      done ++= table.commit(hist, writer = s"pipeline-${batch.mkString("+")}",
        declaredKeys = batch.toSet) // empty shard results still complete
    }
    done
  }

  /** Zonal stats over everything committed so far. */
  def stats(table: SnapshotTable): DataFrame =
    ZonalStats.stats(ZonalStats.foldPartials(table.read()))
}
