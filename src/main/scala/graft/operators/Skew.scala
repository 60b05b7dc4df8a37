package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skew handling (north rule: "skew from dense cells is handled by salted
 * repartitioning plus AQE skew-join splitting"; SURVEY §4.2, §7
 * hard-point 3).
 *
 * Two mechanisms, used at different spots:
 *  - AQE skew-join splitting handles SHUFFLE joins automatically (on by
 *    default in Spark 4.1 whenever AQE is); the kNN candidate join is the
 *    main beneficiary — dense cells produce oversized shuffle partitions
 *    that AQE splits at runtime.
 *  - Salted repartitioning handles the cases AQE can't see: a groupBy or
 *    a mapPartitions stage downstream of a BROADCAST join (no shuffle for
 *    AQE to re-plan). The tile relation after the polygon-cell broadcast
 *    join is exactly that: dense cells concentrate (tile x poly) pairs in
 *    few input partitions. `saltedRepartition` spreads rows of hot keys
 *    across `factor` buckets with a deterministic per-row salt; because
 *    the zonal kernels aggregate by (poly, band, value) AFTER partial
 *    histograms, re-bucketing is semantics-free.
 */
object Skew {

  /** Deterministic salt in [0, factor): hash of the whole row's stable
    * subset — here the natural unique columns — NOT rand() (resume and
    * oracle determinism forbid nondeterministic exprs). */
  def saltedRepartition(df: DataFrame, keyCol: String, factor: Int,
                        uniqueCols: Seq[String]): DataFrame = {
    val salt = pmod(xxhash64(uniqueCols.map(col): _*), lit(factor))
    df.withColumn("__salt", salt)
      .repartition(col(keyCol), col("__salt"))
      .drop("__salt")
  }

  /** Top-N hottest keys by row count — the driver-side probe used to
    * decide whether salting is worth a pass (cheap: one partial agg). */
  def hotKeys(df: DataFrame, keyCol: String, topN: Int = 10): Array[(Long, Long)] =
    df.groupBy(keyCol).count().orderBy(desc("count")).limit(topN)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
}
