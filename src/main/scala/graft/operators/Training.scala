package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{MultiTileRow, PolyRow, TileRow}

/**
 * The reference's ML pipeline capability (SURVEY §3.3):
 *  - get_training (learning.py:1706-1825): the zonal spatial join emitting
 *    per-pixel labeled samples (label, features[bands]);
 *  - create_model (learning.py:465-706): fit on extracted samples — here a
 *    deterministic nearest-class-centroid model computed with one grouped
 *    aggregate (parity is judged on the extraction and application joins,
 *    which the north rule pins, not sklearn internals — SURVEY §3.3);
 *  - classify_pixel_bloc (learning.py:1259-1398): per-pixel scoring with
 *    the broadcast model inside a typed map, ZERO shuffle.
 *
 * Both consume `Tiler.multiTiles` rows (all bands per tile), so band
 * alignment comes straight from the decoder — no groupByKey-on-tile-key
 * pixel shuffle anywhere in either path (plan-gated in PlanShapeSpec),
 * matching the reference's block loop which reads all bands of a block
 * in one ReadAsArray (learning.py:1374-1387).
 */
object Training {

  final case class Sample(label: Int, features: Array[Float])
  final case class CentroidModel(labels: Array[Int], centroids: Array[Array[Double]]) {
    def predict(features: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < centroids.length) {
        var d = 0.0
        val c = centroids(i)
        var j = 0
        while (j < c.length) { val e = features(j) - c(j); d += e * e; j += 1 }
        if (d < bestD || (d == bestD && labels(i) < labels(best))) { bestD = d; best = i }
        i += 1
      }
      labels(best)
    }
  }

  /** get_training: per-pixel (label, features) rows — the flagship zonal
    * probe over all-bands tiles: one flatMap reads the driver-built
    * polygon cell index ([[PolyLayer.broadcastIndex]]; each part carries
    * its class) and emits the PIP-passing pixels each (tile, cell) row
    * owns. No exchange and no join in the plan. */
  def extractSamples(tiles: Dataset[MultiTileRow], polys: Dataset[PolyRow], cellRes: Int)
                    (implicit spark: SparkSession): Dataset[Sample] = {
    import spark.implicits._
    val index = PolyLayer.broadcastIndex(polys, cellRes)
    tiles.flatMap { t =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
      PolyLayer.tileHits(index.value, t.cell_id, t.x_min, t.y_max, t.px, t.tw, t.th).foreach {
        case (p, win) =>
          var row = win.rowLo
          while (row <= win.rowHi) {
            val cy = t.y_max - (row + 0.5) * t.px
            var c = win.colLo
            while (c <= win.colHi) {
              if (win.fullInside || p.poly.contains(t.x_min + (c + 0.5) * t.px, cy))
                out += Sample(p.cls, t.bands.map(_(row * t.tw + c)))
              c += 1
            }
            row += 1
          }
      }
      out
    }
  }

  /** create_model: class centroids with one grouped aggregate. */
  def fitCentroids(samples: Dataset[Sample])(implicit spark: SparkSession): CentroidModel = {
    import spark.implicits._
    val nBands = samples.head().features.length
    val agg = samples.toDF()
      .select(col("label") +: (0 until nBands)
        .map(i => col("features").getItem(i).as(s"f$i")): _*)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        (0 until nBands).map(i => avg(s"f$i").as(s"c$i")): _*)
      .orderBy("label")
      .collect()
    CentroidModel(
      agg.map(_.getInt(0)),
      agg.map(r => (0 until nBands).map(i => r.getDouble(2 + i)).toArray))
  }

  /** classify_object (learning.py:1541-1614): OBJECT-wise model apply —
    * per-feature-vector rows (e.g. per-polygon zonal means) scored by
    * the centroid model as pure column math: squared distances per
    * class, argmin via least() with first-match (= smallest label) tie
    * break, matching CentroidModel.predict on non-null features. Rows
    * with any NULL feature get a NULL prediction (never silently the
    * last label). Codegen'd exprs, no UDF, no shuffle. */
  def classifyObjects(df: DataFrame, model: CentroidModel,
                      featureCols: Seq[String],
                      predCol: String = "pred"): DataFrame = {
    require(model.labels.nonEmpty)
    require(model.centroids.forall(_.length == featureCols.length))
    // label-ascending order so first-match == smallest label on distance
    // ties, exactly predict()'s convention even for unsorted models
    val ordered = model.labels.zip(model.centroids).sortBy(_._1)
    val dists = ordered.map { case (_, c) =>
      featureCols.zipWithIndex.map { case (f, j) =>
        (col(f) - c(j)) * (col(f) - c(j))
      }.reduce(_ + _)
    }
    // least() needs >= 2 args; a one-class model predicts its only label
    val dmin = if (dists.length == 1) dists(0) else least(dists: _*)
    val pred = ordered.indices.drop(1).foldLeft(
      when(dists(0) === dmin, ordered(0)._1)) { (acc, i) =>
      acc.when(dists(i) === dmin, ordered(i)._1)
    }.otherwise(lit(null).cast("int"))
    df.withColumn(predCol, pred)
  }

  /** prob_pixel_bloc (learning.py:1401-1539): per-pixel per-CLASS
    * probability bands. sklearn's predict_proba is estimator-specific;
    * the centroid model's analog is inverse-squared-distance weighting
    * p_c = (1/(d_c^2 + eps)) / sum_k (1/(d_k^2 + eps)) — deterministic,
    * rational (no libm), so the SQL oracle replays it bit-for-bit (the
    * only rounding is the Float store, which the oracle mirrors with a
    * FLOAT cast). One TileRow per class, band = class label; broadcast
    * model, zero shuffle, same plan shape as classify. */
  def classifyProb(tiles: Dataset[MultiTileRow], model: CentroidModel,
                   eps: Double = 1e-12)
                  (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(model)
    tiles.flatMap { t =>
      val m = mB.value
      val nb = t.bands.length
      val nc = m.centroids.length
      val feat = new Array[Float](nb)
      val inv = new Array[Double](nc)
      val out = Array.fill(nc)(new Array[Float](t.tw * t.th))
      var i = 0
      while (i < t.tw * t.th) {
        var b = 0
        while (b < nb) { feat(b) = t.bands(b)(i); b += 1 }
        var denom = 0.0
        var k = 0
        while (k < nc) {
          var d = 0.0
          val c = m.centroids(k)
          var j = 0
          while (j < nb) { val e = feat(j) - c(j); d += e * e; j += 1 }
          inv(k) = 1.0 / (d + eps)
          denom += inv(k)
          k += 1
        }
        k = 0
        while (k < nc) { out(k)(i) = (inv(k) / denom).toFloat; k += 1 }
        i += 1
      }
      (0 until nc).map { k =>
        TileRow(t.image_id, t.cell_id, t.tx, t.ty, t.x_min, t.y_max, t.px,
          band = m.labels(k), pixels = out(k), tw = t.tw, th = t.th,
          nodata = t.nodata)
      }
    }
  }

  /** classify_pixel_bloc: broadcast model, per-pixel predict in a typed
    * map over all-bands tiles — genuinely no shuffle (plan-gated). */
  def classify(tiles: Dataset[MultiTileRow], model: CentroidModel)
              (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    val mB = spark.sparkContext.broadcast(model)
    tiles.map { t =>
      val m = mB.value
      val nb = t.bands.length
      val feat = new Array[Float](nb)
      val out = new Array[Float](t.tw * t.th)
      var i = 0
      while (i < out.length) {
        var b = 0
        while (b < nb) { feat(b) = t.bands(b)(i); b += 1 }
        out(i) = m.predict(feat).toFloat
        i += 1
      }
      TileRow(t.image_id, t.cell_id, t.tx, t.ty, t.x_min, t.y_max, t.px,
        band = -1, pixels = out, tw = t.tw, th = t.th, nodata = t.nodata)
    }
  }
}
