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
 * Engine plan (SURVEY §3.1): the polygon side explodes into its covering
 * grid cells and is BROADCAST (small); the tile side — arbitrarily huge —
 * joins on `cell_id` with zero shuffle, then a typed flatMap applies the
 * exact per-pixel test (cell-ownership + nodata + PIP) and emits
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
 * compared to pixels. Dense-cell skew lands on the broadcast-join's
 * streamed side only, which AQE splits; no single reducer ever sees a
 * pixel-proportional row count.
 */
object ZonalStats {

  final case class PolyCell(cell_id: Long, poly_id: Long, part: Int,
                            rings: Array[Array[Pt]])

  /** One polygon part packed for PIP ([[Geom.PackedPoly]]) and the grid
    * cells at `res` it covers: bbox cover refined by exact rect-polygon
    * intersection, mirroring the reference's bbox prefilter
    * shape.py:942-976. The ONE cover definition: [[polyCells]] flatMaps
    * it and the driver-built index of [[histogram]] calls it. */
  private def cover(p: PolyRow, res: Int): (Geom.PackedPoly, Array[Long]) = {
    val poly = Geom.PackedPoly(p.rings)
    (poly, GridIndex.coverPolygon(poly, res))
  }

  /** Explode polygons into covering cells at `res` — the build side of
    * the join-shaped prefilters. [[histogram]] builds the same cover on
    * the driver instead, with no Spark job. */
  def polyCells(polys: Dataset[PolyRow], res: Int)
               (implicit spark: SparkSession): Dataset[PolyCell] = {
    import spark.implicits._
    polys.flatMap { p =>
      cover(p, res)._2.map(c => PolyCell(c, p.poly_id, p.part, p.rings))
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

  /** One pre-resolved polygon part of the prefilter index: rings packed
    * with their bbox ONCE per polygon at build time and shared by every
    * cell the polygon covers (the broadcast serializes a shared reference
    * once, so rings ship once per polygon, not once per (cell, polygon)). */
  private[operators] final case class PolyPre(polyId: Long, poly: Geom.PackedPoly)

  /** Hard cap on the (cell, polygon) entries of the driver-held prefilter
    * index — the smallness contract of the zonal polygon layer, made
    * loud: a layer whose cell cover exceeds it fails fast instead of
    * OOM-ing the driver. */
  val MaxBroadcastPolyCells: Int = 1 << 22

  /** Byte budget of the index's rings, next to the entry cap: 16 bytes
    * (x, y doubles) per vertex of every polygon part that covers a cell.
    * A few very detailed polygons fit the entry cap yet hold far more
    * bytes; they fail here. The index holds each vertex once (packed
    * x and y arrays), so 256 MiB of vertices is ~256 MiB of heap and of
    * broadcast blocks. */
  val MaxBroadcastRingBytes: Long = 1L << 28

  /** Driver-side prefilter index over an already collected polygon
    * layer: cell_id -> the polygon parts covering it, in layer order.
    * Fails past `maxEntries` (cell, polygon) entries or `maxRingBytes`
    * bytes of vertices, counted while covering. */
  private[operators] def buildIndex(polys: Array[PolyRow], res: Int,
                                    maxEntries: Int, maxRingBytes: Long)
      : java.util.HashMap[Long, Array[PolyPre]] = {
    val byCell = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[PolyPre]]()
    var entries = 0L
    var ringBytes = 0L
    polys.foreach { p =>
      val (poly, cells) = cover(p, res)
      if (cells.nonEmpty) {
        entries += cells.length
        require(entries <= maxEntries,
          s"zonal prefilter index exceeds $maxEntries (cell, polygon) " +
            "entries — coarsen cellRes or shard the polygon layer")
        ringBytes += 16L * p.rings.map(_.length.toLong).sum
        require(ringBytes <= maxRingBytes,
          s"zonal prefilter index rings exceed $maxRingBytes bytes of vertices " +
            "— simplify or shard the polygon layer")
        val pre = PolyPre(p.poly_id, poly)
        cells.foreach { c =>
          byCell.computeIfAbsent(c, _ => scala.collection.mutable.ArrayBuffer.empty[PolyPre]) += pre
        }
      }
    }
    val index = new java.util.HashMap[Long, Array[PolyPre]](byCell.size * 2)
    byCell.forEach((c, b) => index.put(c, b.toArray))
    index
  }

  /**
   * Tiles x polygons histogram, executed as a broadcast-VARIABLE map
   * join: the polygon layer (small by the zonal contract) is collected
   * once with `limit(cap + 1)` — no Spark job for a local layer, at most
   * the scan's jobs for a file-backed one — and covered into cells ON THE
   * DRIVER ([[buildIndex]], bounded by [[MaxBroadcastPolyCells]] entries
   * and [[MaxBroadcastRingBytes]] of vertices, both loud), then shipped
   * via sparkContext.broadcast with each polygon's rings once. The tile
   * side streams through ONE mapPartitions that accumulates
   * per-(poly, band) histograms for the whole partition and emits only
   * the merged partials. vs a plan-level joinWith(broadcast(pc)):
   *  - pixels never enter Tungsten rows between the tiler and the
   *    kernel (EliminateSerialization fuses the two typed operators —
   *    the join forced a serialize + per-matched-pair deserialize of
   *    every pixel array);
   *  - the pre-shuffle row count drops from (pairs x distinct values)
   *    to (polys x bands x values x partitions);
   *  - ring/bbox conversion happens once per polygon, not once per
   *    joined pair.
   * Output rows and the final groupBy are IDENTICAL to the join form
   * (oracle-checked); the pass runs two Spark jobs (the aggregate's
   * shuffle-map and result stages), and the only shuffle is the
   * summary-sized histogram merge.
   */
  def histogram(tiles: Dataset[TileRow], polys: Dataset[PolyRow], cellRes: Int,
                pipParallelism: Int = 0)
               (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // driver-held build side (bounded, fail-fast); more polygons than the
    // entry cap fail too, so the limit never truncates silently
    val layer = polys.limit(MaxBroadcastPolyCells + 1).collect()
    require(layer.length <= MaxBroadcastPolyCells,
      s"zonal polygon layer exceeds $MaxBroadcastPolyCells polygon parts " +
        "— shard the polygon layer")
    val bc = spark.sparkContext.broadcast(
      buildIndex(layer, cellRes, MaxBroadcastPolyCells, MaxBroadcastRingBytes))
    // Dense cells concentrate (tile x poly) pairs in few input partitions
    // and the map-side join gives AQE no shuffle to split — the salted
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
        val entries = idx.get(t.cell_id)
        if (entries != null) {
          val cb = GridIndex.cellBounds(t.cell_id)
          var ei = 0
          while (ei < entries.length) {
            val p = entries(ei)
            val poly = p.poly
            val pb = poly.box
            // interior-tile shortcut: when the rect spanned by the tile's
            // pixel CENTERS sits entirely inside the polygon, every center
            // passes PIP — large polygons pay zero per-pixel geometry
            val fullInside = Geom.rectInsidePolygon(Geom.BBox(
              t.x_min + 0.5 * t.px, t.y_max - (t.th - 0.5) * t.px,
              t.x_min + (t.tw - 0.5) * t.px, t.y_max - 0.5 * t.px), poly)
            // Hoist the per-pixel ownership + bbox bounds out of the inner
            // loop: the row predicate (cy in cell & poly-bbox y-range) and
            // col predicate (cx in cell & poly-bbox x-range) are monotone
            // in row/col, so each holds on a contiguous index range found
            // by scanning the EXACT per-pixel expressions once per pair
            // (bit-identical acceptance set, O(tw+th) instead of tw*th).
            var rowLo = 0
            while (rowLo < t.th && !rowOk(t, rowLo, cb, pb)) rowLo += 1
            var rowHi = t.th - 1
            while (rowHi >= rowLo && !rowOk(t, rowHi, cb, pb)) rowHi -= 1
            var colLo = 0
            while (colLo < t.tw && !colOk(t, colLo, cb, pb)) colLo += 1
            var colHi = t.tw - 1
            while (colHi >= colLo && !colOk(t, colHi, cb, pb)) colHi -= 1
            if (rowLo <= rowHi && colLo <= colHi) {
              val key = (p.polyId, t.band)
              var arr = flat.get(key)
              if (arr == null) { arr = new Array[Long](256); flat.put(key, arr) }
              var acc = over.get(key)
              val nod = t.nodata
              val nodNaN = nod.isNaN
              var row = rowLo
              while (row <= rowHi) {
                val cy = t.y_max - (row + 0.5) * t.px
                val base = row * t.tw
                var col = colLo
                while (col <= colHi) {
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
            ei += 1
          }
          if (overCount > (1L << 20)) flush()
        }
      }
      flush()
      out.iterator
    }.toDF("poly_id", "band", "value", "cnt")
      .groupBy("poly_id", "band", "value").agg(sum("cnt").as("cnt"))
  }

  /** The EXACT per-row ownership/bbox predicate of the histogram kernel
    * (hoisted — see the range scan above). */
  @inline private def rowOk(t: TileRow, row: Int, cb: Geom.BBox,
                            pb: Geom.BBox): Boolean = {
    val cy = t.y_max - (row + 0.5) * t.px
    cy >= cb.y0 && cy < cb.y1 && cy >= pb.y0 && cy <= pb.y1
  }

  /** The EXACT per-col ownership/bbox predicate (pixel belongs to exactly
    * one (tile, cell) row). */
  @inline private def colOk(t: TileRow, col: Int, cb: Geom.BBox,
                            pb: Geom.BBox): Boolean = {
    val cx = t.x_min + (col + 0.5) * t.px
    cx >= cb.x0 && cx < cb.x1 && cx >= pb.x0 && cx <= pb.x1
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
