package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.{ImageRow, MultiTileRow, TileRow}
import graft.core.{PixelCodec, GridIndex, Geom}

/**
 * The core tiler — the engine's analogue of the reference's
 * `tile_rasters` / blockwise reads
 * (/root/reference/geospatial_learn/raster.py:445-470 and the 256-px
 * block loops raster.py:1104-1127, learning.py:1362-1396; 256 px is the
 * reference's own "quickest" block size, learning.py:1283-1285).
 *
 * One image row fans out to (tile x overlapping-cell x band) rows via
 * `flatMap` (Generator-shaped, SURVEY §2.10): pixel decode happens here,
 * executor-side, never on the driver. Tiles are keyed by every planar
 * grid cell they overlap; DOWNSTREAM OWNERSHIP RULE: a pixel belongs to
 * a (tile, cell) row iff its center lies inside that cell's half-open
 * bounds [x0, x1) x [y0, y1) — so multi-cell tiles never double-count
 * and no distinct/shuffle is needed to dedupe. Every tile x polygon
 * operator applies it through `PolyLayer.tileHits`;
 * `RasterOps.rasterToPoints` applies it as column math.
 *
 * Scale notes: payload per row is <= tileSize^2 floats (~256 KB at 256),
 * well inside executor memory at any partition count; the fan-out factor
 * is bounded (<= 4 cells when cellRes matches tileSize, x bands), so a
 * 10^12-image table maps to a predictable row multiple with zero shuffle.
 */
object Tiler {

  /** Per-partition first-occurrence filter over the tiler flatMap's
    * overlapped-cell duplicate MultiTileRows — the zero-shuffle
    * replacement for a dropDuplicates that would shuffle pixel
    * payloads. Input must come straight off the tiler (narrow chain):
    * the same tripwire as Mesh.dedupeConsecutive fails loudly on a
    * NON-adjacent duplicate key (the signature of repartitioned or
    * sorted input) instead of silently double-counting. The seen-set
    * holds one small tuple per distinct tile key in the partition. */
  private[operators] def firstCellOnly(it: Iterator[graft.MultiTileRow])
      : Iterator[graft.MultiTileRow] =
    firstByKey(it, (t: graft.MultiTileRow) => (t.image_id, t.tx, t.ty),
      "firstCellOnly")

  /** First occurrence per key with the adjacency tripwire — ONE
    * definition of the zero-shuffle dedupe semantics shared by
    * `firstCellOnly` (MultiTileRow) and `Mesh.dedupeConsecutive`
    * (TileRow), so the contract cannot drift between row types.
    * Duplicates must be adjacent (input straight off the tiler);
    * a non-adjacent duplicate — the signature of repartitioned or
    * sorted input — fails loudly instead of double-counting. The
    * seen-set holds one key tuple per distinct key in the partition. */
  private[operators] def firstByKey[T, K](it: Iterator[T], key: T => K,
                                          what: String): Iterator[T] = {
    var last: Option[K] = None
    val seen = scala.collection.mutable.HashSet.empty[K]
    it.filter { t =>
      val k = key(t)
      if (last.contains(k)) false
      else {
        require(seen.add(k),
          s"$what saw non-adjacent duplicate tile $k — input " +
            "must come straight off the tiler (no repartition/sort in between)")
        last = Some(k); true
      }
    }
  }

  /** Image-clipped core window of a HALOED tile (`multiTiles(halo)`):
    * (offX, offY, coreW, coreH) — the offset of the tile's owned region
    * inside its expanded window (the halo is image-clipped on the low
    * sides) and the owned extent. One definition for every haloed-tile
    * consumer (ConvNet.segPredictTiles, Edge.cannyTiles, the PhaseCong
    * tile paths, Mesh.imAngle) so the cropping arithmetic cannot
    * drift between them. */
  @inline private[graft] def coreWindow(tx: Int, ty: Int, tw: Int,
                                            th: Int, tileSize: Int,
                                            halo: Int): (Int, Int, Int, Int) = {
    // tripwire: a truthful (tileSize, halo) bounds every window at
    // tileSize + 2*halo per side. A caller claiming a SMALLER halo than
    // the tiler used (the silent-coordinate-shift direction) trips this
    // on its first interior tile. The opposite direction (claiming a
    // larger halo) yields cores narrower than tileSize on interior
    // tiles — indistinguishable per-row from a genuine image edge, so
    // it stays a documented caller contract.
    require(tw <= tileSize + 2 * halo && th <= tileSize + 2 * halo,
      s"coreWindow: window ${tw}x$th exceeds tileSize=$tileSize + " +
        s"2*halo=$halo per side — the tiler was run with a larger halo " +
        "than this consumer was told")
    val offX = math.min(halo, tx * tileSize)
    val offY = math.min(halo, ty * tileSize)
    (offX, offY, math.min(tw - offX, tileSize), math.min(th - offY, tileSize))
  }

  /** Grid resolution whose cell size (world units) equals tileSize * px
    * when px = 1; callers pass the res matching their tile/pixel scale. */
  def resForCellSize(sizeWorldUnits: Double): Int = {
    val r = GridIndex.WorldPow - (math.log(sizeWorldUnits) / math.log(2.0)).round.toInt
    math.max(0, math.min(GridIndex.MaxRes, r))
  }

  /** Tile world bounds are shrunk by epsilon before cell covering so an
    * exactly-aligned tile edge doesn't pull in a neighbor cell it only
    * touches. Geotransform convention (x_min, px, 0, y_max, 0, -px) per
    * raster.py:260-266.
    *
    * `halo` > 0 expands each tile's PIXEL payload by that many
    * image-clipped border pixels on every side (the emitted x_min/y_max/
    * tw/th describe the expanded window) while the CELL covering stays
    * that of the core tile. Windowed kernels that need cross-tile
    * neighbors (GLCM pixel pairs, reference shape.py:1704-1711) read
    * them with zero shuffle; such consumers must restrict their pair
    * ORIGINS to the core region (Glcm.pairHistogram does, via its
    * halo/tileSize params) — feeding halo tiles to a plain per-pixel
    * consumer like ZonalStats.histogram would double-count borders. */
  def tiles(images: Dataset[ImageRow], tileSize: Int, cellRes: Int,
            nodata: Float = Float.NaN, halo: Int = 0)
           (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    val eps = 1e-9
    images.flatMap { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val nTx = (img.w + tileSize - 1) / tileSize
      val nTy = (img.h + tileSize - 1) / tileSize
      val out = scala.collection.mutable.ArrayBuffer.empty[TileRow]
      var ty = 0
      while (ty < nTy) {
        var tx = 0
        while (tx < nTx) {
          val x0 = tx * tileSize
          val y0 = ty * tileSize
          val tw = math.min(tileSize, img.w - x0)
          val th = math.min(tileSize, img.h - y0)
          val wx0 = img.x_min + x0 * img.px
          val wy1 = img.y_max - y0 * img.px
          val wy0 = wy1 - th * img.px
          val wx1 = wx0 + tw * img.px
          // cells cover the CORE tile only (ownership unchanged by halo)
          val cells = GridIndex.coverBBox(
            Geom.BBox(wx0 + eps, wy0 + eps, wx1 - eps, wy1 - eps), cellRes)
          // expanded pixel window, clipped to the image
          val hx0 = math.max(0, x0 - halo)
          val hy0 = math.max(0, y0 - halo)
          val htw = math.min(img.w, x0 + tw + halo) - hx0
          val hth = math.min(img.h, y0 + th + halo) - hy0
          val hwx0 = img.x_min + hx0 * img.px
          val hwy1 = img.y_max - hy0 * img.px
          var band = 0
          while (band < dec.bands.length) {
            val src = dec.bands(band)
            val px = new Array[Float](htw * hth)
            var r = 0
            while (r < hth) {
              System.arraycopy(src, (hy0 + r) * img.w + hx0, px, r * htw, htw)
              r += 1
            }
            cells.foreach { c =>
              out += TileRow(img.image_id, c, tx, ty, hwx0, hwy1, img.px,
                band, px, htw, hth, nodata)
            }
            band += 1
          }
          tx += 1
        }
        ty += 1
      }
      out
    }
  }

  /** All-bands variant: one row per (image, tile, overlapping cell) with
    * EVERY band's pixels — for consumers that need aligned bands per
    * pixel (get_training sample extraction, classify_pixel_bloc). Keeps
    * those paths genuinely shuffle-free: the single-band tiler would
    * force a groupByKey on the tile key (a full pixel-payload shuffle)
    * just to re-zip what the decoder already had together. */
  def multiTiles(images: Dataset[ImageRow], tileSize: Int, cellRes: Int,
                 nodata: Float = Float.NaN, halo: Int = 0)
                (implicit spark: SparkSession): Dataset[MultiTileRow] = {
    import spark.implicits._
    val eps = 1e-9
    images.flatMap { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val nTx = (img.w + tileSize - 1) / tileSize
      val nTy = (img.h + tileSize - 1) / tileSize
      val out = scala.collection.mutable.ArrayBuffer.empty[MultiTileRow]
      var ty = 0
      while (ty < nTy) {
        var tx = 0
        while (tx < nTx) {
          val x0 = tx * tileSize
          val y0 = ty * tileSize
          val tw = math.min(tileSize, img.w - x0)
          val th = math.min(tileSize, img.h - y0)
          val wx0 = img.x_min + x0 * img.px
          val wy1 = img.y_max - y0 * img.px
          val wy0 = wy1 - th * img.px
          val wx1 = wx0 + tw * img.px
          val cells = GridIndex.coverBBox(
            Geom.BBox(wx0 + eps, wy0 + eps, wx1 - eps, wy1 - eps), cellRes)
          // expanded pixel window (image-clipped), as in `tiles`
          val hx0 = math.max(0, x0 - halo)
          val hy0 = math.max(0, y0 - halo)
          val htw = math.min(img.w, x0 + tw + halo) - hx0
          val hth = math.min(img.h, y0 + th + halo) - hy0
          val hwx0 = img.x_min + hx0 * img.px
          val hwy1 = img.y_max - hy0 * img.px
          val bands = dec.bands.map { src =>
            val px = new Array[Float](htw * hth)
            var r = 0
            while (r < hth) {
              System.arraycopy(src, (hy0 + r) * img.w + hx0, px, r * htw, htw)
              r += 1
            }
            px
          }
          cells.foreach { c =>
            out += MultiTileRow(img.image_id, c, tx, ty, hwx0, hwy1, img.px,
              bands, htw, hth, nodata)
          }
          tx += 1
        }
        ty += 1
      }
      out
    }
  }
}
