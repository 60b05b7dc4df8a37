package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{PolyRow, TileRow}

/**
 * GLCM texture statistics per polygon (reference texture_stats,
 * shape.py:1566-1731; GLCM via skimage greycomatrix shape.py:1704-1711):
 * contrast, dissimilarity, homogeneity, ASM, energy, correlation.
 *
 * Distributed shape: like ZonalStats.histogram (one flatMap probing the
 * driver-built polygon cell index, [[PolyLayer]]) but emitting PAIR
 * histograms (q1, q2, cnt) for pixel pairs at offset (dx, dy). The pair
 * ORIGIN must fall inside the polygon AND the owning cell (so tile
 * overlap never double-counts); the PARTNER only needs the polygon —
 * exactly skimage's full-window pair semantics. Pairs that cross a tile
 * boundary come from the tiler's HALO pixels: feed tiles built with
 * `Tiler.tiles(..., halo = max(|dx|, |dy|))` and every reference pair
 * (shape.py:1704-1711) is formed exactly once, with zero shuffle.
 * Values are quantized to `levels` bins (SURVEY §7 hard-point 5:
 * bounded buffer; the reference's uint8 regime quantized the same way).
 * The co-occurrence matrix is made symmetric (skimage symmetric=True)
 * by emitting both (q1,q2) and (q2,q1).
 */
object Glcm {

  /** `halo`/`tileSize`: when the tiles carry halo pixels
    * (Tiler.tiles(..., halo = h)), pass the same h and the tile size so
    * the kernel can restrict pair ORIGINS to the core region — the core
    * partitions the image across tiles and the cell bounds partition it
    * across cells, so each origin is counted exactly once even when a
    * cell spans several tiles. halo = 0 (default) = plain tiles. */
  def pairHistogram(tiles: Dataset[TileRow], polys: Dataset[PolyRow], cellRes: Int,
                    dx: Int = 1, dy: Int = 0, levels: Int = 32, maxVal: Float = 256f,
                    halo: Int = 0, tileSize: Int = 0)
                   (implicit spark: SparkSession): DataFrame = {
    require(halo == 0 || tileSize > 0, "halo tiles need the tileSize for core bounds")
    require(halo >= math.max(math.abs(dx), math.abs(dy)) || halo == 0,
      s"halo $halo too small for offset ($dx, $dy) cross-tile pairs")
    import spark.implicits._
    val index = PolyLayer.broadcastIndex(polys, cellRes)
    val lv = levels
    tiles.flatMap { t =>
      // the interior-tile shortcut covers ALL pixel centers this tile
      // can touch: core + one offset of halo
      val pad = (math.max(math.abs(dx), math.abs(dy)) + 0.5) * t.px
      // origin: core region, owning cell (dedupe) and polygon — the
      // window; partner: polygon only (it may sit in a neighbor cell —
      // that's what the halo is for)
      val hits = PolyLayer.tileHits(index.value, t.cell_id, t.x_min, t.y_max, t.px,
        t.tw, t.th, pad)
      if (hits.isEmpty) Iterator.empty
      else {
        def quant(v: Float): Int = math.min(lv - 1, math.max(0, (v / maxVal * lv).toInt))
        // nodata pixels form NO pair (the reference masks them out of the
        // GLCM, shape.py:1690-1694): unguarded, quant(NaN) = 0 and a
        // sentinel clamps to 0 — phantom level-0 mass in every stat
        val nod = t.nodata
        def valid(v: Float): Boolean =
          !v.isNaN && java.lang.Float.compare(v, nod) != 0
        // core region inside the (possibly halo-expanded) pixel array —
        // the ONE shared definition (Tiler.coreWindow), so the cropping
        // arithmetic cannot drift from the tiler's halo clipping and the
        // halo-mismatch tripwire guards this consumer too
        val (cLeft, rTop, coreW, coreH) =
          if (halo == 0) (0, 0, t.tw, t.th)
          else Tiler.coreWindow(t.tx, t.ty, t.tw, t.th, tileSize, halo)
        hits.iterator.flatMap { case (p, win) =>
          val poly = p.poly
          def inPoly(row: Int, c: Int): Boolean =
            win.fullInside || poly.contains(t.x_min + (c + 0.5) * t.px,
              t.y_max - (row + 0.5) * t.px)
          val acc = new scala.collection.mutable.HashMap[(Int, Int), Long]
          // origins scan the core; partner indices bounds-check against the
          // FULL array (halo included), handling negative offsets too
          var row = math.max(rTop, win.rowLo)
          while (row <= math.min(rTop + coreH - 1, win.rowHi)) {
            val pr = row + dy
            if (pr >= 0 && pr < t.th) {
              var c = math.max(cLeft, win.colLo)
              while (c <= math.min(cLeft + coreW - 1, win.colHi)) {
                val pc2 = c + dx
                if (pc2 >= 0 && pc2 < t.tw &&
                  valid(t.pixels(row * t.tw + c)) && valid(t.pixels(pr * t.tw + pc2)) &&
                  inPoly(row, c) && inPoly(pr, pc2)) {
                  val a = quant(t.pixels(row * t.tw + c))
                  val b = quant(t.pixels(pr * t.tw + pc2))
                  acc.update((a, b), acc.getOrElse((a, b), 0L) + 1L)
                  acc.update((b, a), acc.getOrElse((b, a), 0L) + 1L) // symmetric
                }
                c += 1
              }
            }
            row += 1
          }
          acc.iterator.map { case ((a, b), n) => (p.polyId, t.band, a, b, n) }
        }
      }
    }.toDF("poly_id", "band", "q1", "q2", "cnt")
      .groupBy("poly_id", "band", "q1", "q2").agg(sum("cnt").as("cnt"))
  }

  /** Texture properties from the merged pair histogram — exactly the
    * skimage greycoprops formulas the reference calls. */
  def textureStats(pairHist: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("poly_id", "band")
    val p = col("cnt") / col("n") // normalized joint probability
    val d = (col("q1") - col("q2")).cast("double")
    val withN = pairHist.withColumn("n", sum("cnt").over(w))
    // marginal means/stds for correlation (symmetric matrix: mu_i = mu_j)
    val withMu = withN
      .withColumn("mu", sum(col("q1") * p).over(w))
    val sig2 = sum((col("q1") - col("mu")) * (col("q1") - col("mu")) * p)
    withMu.groupBy("poly_id", "band").agg(
      round(sum(d * d * p), 6).as("contrast"),
      round(sum(abs(d) * p), 6).as("dissimilarity"),
      round(sum(p / (lit(1.0) + d * d)), 6).as("homogeneity"),
      round(sum(p * p), 6).as("asm"),
      round(sqrt(sum(p * p)), 6).as("energy"),
      round(
        when(sig2 <= 0, lit(1.0)).otherwise(
          sum((col("q1") - col("mu")) * (col("q2") - col("mu")) * p) / sig2),
        6).as("correlation"))
  }
}
