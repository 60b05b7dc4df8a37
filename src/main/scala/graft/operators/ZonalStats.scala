package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{PolyRow, Pt, TileRow}
import graft.core.{Geom, GridIndex}

/**
 * Zonal statistics — the flagship spatial join (reference `zonal_stats`,
 * /root/reference/geospatial_learn/shape.py:837-1090, stat dispatch
 * shape.py:1023-1068).
 *
 * Engine plan (SURVEY §3.1): the polygon side (small) is covered into
 * grid cells on the driver and broadcast as a cell index
 * ([[PolyLayer]]); the tile side — arbitrarily huge — probes it by
 * `cell_id` with zero shuffle inside one mapPartitions, which applies
 * the exact per-pixel test (cell-ownership + nodata + PIP) and emits
 * per-(poly, band, value) HISTOGRAM partials. Every zonal statistic is
 * then derived from the merged histogram with built-in aggregates, so
 * partial/final aggregation, codegen and AQE all come from Catalyst.
 *
 * Pixel values are whatever the raster holds; the histogram is exact
 * (the reference's zonal regime is uint8-ish, shape.py:1704-1710, so
 * distinct values per (poly, band) stay bounded).
 *
 * Scale: the only shuffle in the whole pipeline is the final
 * groupBy(poly_id, band, value) over histogram partials — rows whose
 * count is bounded by (polygons x bands x distinct-values), i.e. tiny
 * compared to pixels. Dense-cell skew lands on the tile side only
 * (`pipParallelism` salts it); no single reducer ever sees a
 * pixel-proportional row count.
 */
object ZonalStats {

  final case class PolyCell(cell_id: Long, poly_id: Long, part: Int,
                            rings: Array[Array[Pt]])

  /** Explode polygons into covering cells at `res` — the build side of
    * the relational point join ([[SpatialJoin]]). The raster x polygon
    * operators build the same cover on the driver instead
    * ([[PolyLayer.byCell]]), with no Spark job. */
  def polyCells(polys: Dataset[PolyRow], res: Int)
               (implicit spark: SparkSession): Dataset[PolyCell] = {
    import spark.implicits._
    polys.flatMap { p =>
      GridIndex.coverPolygon(Geom.PackedPoly(p.rings), res)
        .map(c => PolyCell(c, p.poly_id, p.part, p.rings))
    }
  }

  /**
   * Exact per-(poly_id, band, value) pixel histogram of all pixels whose
   * center falls inside the polygon (nodata skipped). This is the zonal
   * core; every stat below derives from it.
   *
   * Scale contract: the histogram's cardinality is the number of
   * DISTINCT values per (poly, band) — bounded (256-entry fast path) on
   * the uint8-like imagery this engine targets, but pixel-proportional
   * on continuous floats, where stats()'s per-(poly, band) ordered
   * window would funnel a giant AOI's whole histogram through one
   * reducer. Continuous rasters must pre-bin: [[quantize]] maps pixels
   * onto a fixed bin grid in one shuffle-free pass (the otsuThreshold
   * probe+bin pattern, made explicit for callers).
   */
  /** Shuffle-free pre-binning for continuous-float rasters: every pixel
    * maps to the CENTER of its `width`-sized bin anchored at `origin`
    * (nodata/NaN pass through untouched). Bounds the zonal histogram's
    * distinct-value cardinality at (range/width) regardless of raster
    * size — run it before [[histogram]] whenever the value domain is
    * not already discrete. */
  def quantize(tiles: Dataset[TileRow], width: Double, origin: Double = 0.0)
              (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    require(width > 0, s"bin width must be positive: $width")
    tiles.map { t =>
      t.copy(pixels = t.pixels.map { v =>
        if (v.isNaN || v == t.nodata) v
        else (origin + (math.floor((v - origin) / width) + 0.5) * width).toFloat
      })
    }
  }

  /**
   * Tiles x polygons histogram over the driver-built cell index
   * ([[PolyLayer.broadcastIndex]]): the tile side streams through ONE
   * mapPartitions that accumulates per-(poly, band) histograms for the
   * whole partition and emits only the merged partials, so the
   * pre-shuffle row count is (polys x bands x values x partitions), not
   * (pairs x distinct values). The pass runs two Spark jobs (the
   * aggregate's shuffle-map and result stages), and the only shuffle is
   * the summary-sized histogram merge.
   */
  def histogram(tiles: Dataset[TileRow], polys: Dataset[PolyRow], cellRes: Int,
                pipParallelism: Int = 0)
               (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val bc = PolyLayer.broadcastIndex(polys, cellRes)
    // Dense cells concentrate (tile x poly) pairs in few input partitions
    // and the map-side probe gives AQE no shuffle to split — the salted
    // repartition below is the north rule's fix. Worth it exactly when the
    // per-pair PIP kernel dominates the one-off payload shuffle.
    val src = if (pipParallelism > 0) tiles.repartition(pipParallelism) else tiles
    src.mapPartitions { it =>
      val idx = bc.value
      // partition-level accumulators keyed by (poly_id, band):
      // uint8-regime fast path (the reference's native domain,
      // shape.py:1704-1710) counts integral values in [0, 256) into a
      // flat array; anything else falls to a float-bits map. Flushed
      // early if the float-value cardinality grows past the cap (the
      // final groupBy re-merges partials, so flushing never changes the
      // result).
      val flat = new java.util.HashMap[(Long, Int), Array[Long]]()
      val over = new java.util.HashMap[(Long, Int), scala.collection.mutable.LongMap[Long]]()
      var overCount = 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Float, Long)]
      def flush(): Unit = {
        val fi = flat.entrySet().iterator()
        while (fi.hasNext) {
          val e = fi.next(); val (pid, band) = e.getKey; val arr = e.getValue
          var iv = 0
          while (iv < 256) {
            if (arr(iv) > 0L) out += ((pid, band, iv.toFloat, arr(iv)))
            iv += 1
          }
        }
        val oi = over.entrySet().iterator()
        while (oi.hasNext) {
          val e = oi.next(); val (pid, band) = e.getKey
          e.getValue.foreach { case (bits, c) =>
            out += ((pid, band, java.lang.Float.intBitsToFloat(bits.toInt), c))
          }
        }
        flat.clear(); over.clear(); overCount = 0L
      }
      it.foreach { t =>
        PolyLayer.tileHits(idx, t.cell_id, t.x_min, t.y_max, t.px, t.tw, t.th).foreach {
          case (p, win) =>
            val poly = p.poly
            val fullInside = win.fullInside
            val key = (p.polyId, t.band)
            var arr = flat.get(key)
            if (arr == null) { arr = new Array[Long](256); flat.put(key, arr) }
            var acc = over.get(key)
            val nod = t.nodata
            val nodNaN = nod.isNaN
            var row = win.rowLo
            while (row <= win.rowHi) {
              val cy = t.y_max - (row + 0.5) * t.px
              val base = row * t.tw
              var col = win.colLo
              while (col <= win.colHi) {
                val v = t.pixels(base + col)
                val isNodata = if (nodNaN) v.isNaN else v == nod
                if (!isNodata && (fullInside ||
                    poly.contains(t.x_min + (col + 0.5) * t.px, cy))) {
                  val iv = v.toInt
                  if (iv >= 0 && iv < 256 && iv.toFloat == v) arr(iv) += 1L
                  else {
                    if (acc == null) {
                      acc = over.get(key)
                      if (acc == null) {
                        acc = scala.collection.mutable.LongMap.empty[Long]
                        over.put(key, acc)
                      }
                    }
                    // canonical bits (not raw): merges NaN payloads the
                    // way a Float-keyed HashMap's equals would
                    val bits = java.lang.Float.floatToIntBits(v).toLong
                    val prev = acc.getOrElse(bits, 0L)
                    if (prev == 0L) overCount += 1
                    acc.update(bits, prev + 1L)
                  }
                }
                col += 1
              }
              row += 1
            }
        }
        if (overCount > (1L << 20)) flush()
      }
      flush()
      out.iterator
    }.toDF("poly_id", "band", "value", "cnt")
      .groupBy("poly_id", "band", "value").agg(sum("cnt").as("cnt"))
  }

  /** Fold partial histograms (per batch / per shard) back into one
    * histogram row per (poly_id, band, value) — the shared re-aggregation
    * both resumable-pipeline and streaming reads apply before stats();
    * ONE definition so the batch and streaming paths cannot silently
    * diverge on the histogram key set. */
  def foldPartials(hist: DataFrame): DataFrame =
    hist.groupBy("poly_id", "band", "value").agg(sum("cnt").as("cnt"))

  /**
   * Full reference stat set per (poly_id, band), from the histogram:
   * count/sum/mean/min/max/std/var (shape.py:1023-1068), skew/kurtosis
   * (shape.py:1056-1059), median (np even/odd convention), mode (smallest
   * value on ties, scipy mstats.mode convention shape.py:1023-1024),
   * entropy of the value histogram in nats (scipy default,
   * shape.py:1697-1699), vol = sum * pixel area (shape.py:1060-1065).
   */
  def stats(hist: DataFrame, pxArea: Double = 1.0): DataFrame = {
    val v = col("value").cast("double")
    val c = col("cnt")
    val byPoly = Window.partitionBy("poly_id", "band")
    val cumW = byPoly.orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val withCum = hist
      .withColumn("n", sum(c).over(byPoly))
      .withColumn("cum", sum(c).over(cumW))
      .withColumn("maxcnt", max(c).over(byPoly))

    // lower/upper middle positions (1-based), np.median convention:
    // k1 = floor((n+1)/2) is the LOWER middle (equals k2 for odd n; for
    // even n the two straddle the midpoint and are averaged)
    val k1 = floor((col("n") + 1) / 2.0)
    val k2 = floor(col("n") / 2.0) + 1

    withCum.groupBy("poly_id", "band").agg(
      first("n").as("pix_count"),
      round(sum(v * c), 6).as("sum"),
      round(sum(v * c) / first("n"), 6).as("mean"),
      min("value").cast("double").as("min"),
      max("value").cast("double").as("max"),
      round(sqrt(sum(v * v * c) / first("n") - pow(sum(v * c) / first("n"), 2)), 6).as("std"),
      round((min(when(col("cum") >= k1, v)) + min(when(col("cum") >= k2, v))) / 2.0, 6).as("median"),
      min(when(c === col("maxcnt"), v)).as("mode"),
      round(skewFromMoments(v, c, first("n")), 6).as("skew"),
      round(kurtFromMoments(v, c, first("n")), 6).as("kurtosis"),
      // per-row n (constant within group) — nesting first(n) inside sum
      // would be a NESTED_AGGREGATE_FUNCTION error
      round(-sum((c / col("n")) * log(c / col("n"))), 6).as("entropy"),
      round(sum(v * c) * lit(pxArea), 6).as("vol"))
  }

  /** Fisher-Pearson skewness g1 = m3 / m2^1.5 (scipy.stats.skew default,
    * bias=True — matching shape.py:1056). */
  private def skewFromMoments(v: org.apache.spark.sql.Column,
                              c: org.apache.spark.sql.Column,
                              n: org.apache.spark.sql.Column) = {
    val mean = sum(v * c) / n
    val m2 = sum(v * v * c) / n - mean * mean
    val m3 = sum(v * v * v * c) / n - lit(3) * mean * (sum(v * v * c) / n) + lit(2) * mean * mean * mean
    when(m2 <= 0, lit(0.0)).otherwise(m3 / pow(m2, 1.5))
  }

  /** Excess kurtosis g2 = m4 / m2^2 - 3 (scipy default, shape.py:1058). */
  private def kurtFromMoments(v: org.apache.spark.sql.Column,
                              c: org.apache.spark.sql.Column,
                              n: org.apache.spark.sql.Column) = {
    val mean = sum(v * c) / n
    val s1 = sum(v * c) / n
    val s2 = sum(v * v * c) / n
    val s3 = sum(v * v * v * c) / n
    val s4 = sum(v * v * v * v * c) / n
    val m2 = s2 - mean * mean
    val m4 = s4 - lit(4) * mean * s3 + lit(6) * mean * mean * s2 -
      lit(3) * mean * mean * mean * s1
    when(m2 <= 0, lit(0.0)).otherwise(m4 / (m2 * m2) - lit(3))
  }

  /** Per-(poly, value) class fraction — the reference's `zonal_frac`
    * (shape.py:1092-1320), arrays kept typed instead of stringified. */
  /**
   * zonal_point (reference shape.py:2525-2613): gather the raster value
   * under each point — map coord -> grid cell (codegen'd column math),
   * equi-join points to tiles on cell_id, then the affine pixel lookup
   * (shape.py:2589-2593) inside the joined row. Points outside every
   * image drop out of the join (the reference's bounds filter,
   * shape.py:2747-2750). One hash join keyed by cell; no explode.
   * Returns (pt_id, image_id, band, value).
   */
  def zonalPoint(tiles: Dataset[TileRow], points: DataFrame, cellRes: Int)
                (implicit spark: SparkSession): DataFrame = {
    import graft.functions.SpatialFunctions.gridCellId
    import spark.implicits._
    val p = points.select(col("pt_id"), col("x"), col("y"),
      gridCellId(col("x"), col("y"), cellRes).as("__cell"))
    tiles.toDF().join(p, col("__cell") === col("cell_id"))
      .withColumn("__col", floor((col("x") - col("x_min")) / col("px")).cast("int"))
      .withColumn("__row", floor((col("y_max") - col("y")) / col("px")).cast("int"))
      .where(col("__col") >= 0 && col("__col") < col("tw") &&
        col("__row") >= 0 && col("__row") < col("th"))
      .select(col("pt_id"), col("image_id"), col("band"),
        element_at(col("pixels"), col("__row") * col("tw") + col("__col") + 1).as("value"))
  }

  def frac(hist: DataFrame): DataFrame = {
    val byPoly = Window.partitionBy("poly_id", "band")
    hist.withColumn("n", sum("cnt").over(byPoly))
      .select(col("poly_id"), col("band"), col("value"),
        col("cnt"), round(col("cnt") / col("n"), 6).as("frac"))
  }
}
