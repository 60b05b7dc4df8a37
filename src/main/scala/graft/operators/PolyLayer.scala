package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.broadcast.Broadcast
import graft.{ImageRow, PolyRow}
import graft.core.{Geom, GridIndex, PixelCodec}

/**
 * The build side of every raster x polygon operator (the reference's
 * per-feature rasterize-and-mask loop, shape.py:932-1078): how a polygon
 * layer becomes a per-tile or per-image probe.
 *
 * The layer is small by contract. [[collect]] pulls it to the driver
 * once, packs each part once and fails loudly past its part and
 * ring-byte caps. Tile operators probe a cell index ([[byCell]] /
 * [[broadcastIndex]]) and clip each (tile, cell) row to the pixels one
 * part can claim ([[tileHits]]); image operators clip each image to a
 * part's buffered bbox ([[perImage]]). Callers keep their own inner
 * pixel loops.
 */
private[operators] object PolyLayer {

  /** One polygon part of a collected layer, packed for PIP once. */
  final case class Part(polyId: Long, part: Int, cls: Int, poly: Geom.PackedPoly)

  /** Hard cap on the parts of a collected layer: the smallness contract
    * made loud, so a layer past it fails fast instead of OOM-ing the
    * driver. */
  val MaxParts: Int = 1 << 20

  /** Hard cap on the (cell, part) entries of a cell index. */
  val MaxBroadcastPolyCells: Int = 1 << 22

  /** Byte budget of a collected layer's rings: 16 bytes (x, y doubles)
    * per vertex. A few very detailed polygons fit the part and entry
    * caps yet hold far more bytes; they fail here. Each vertex is held
    * once (packed x and y arrays, shared by every cell the part covers),
    * so 256 MiB of vertices is ~256 MiB of heap and of broadcast
    * blocks. */
  val MaxBroadcastRingBytes: Long = 1L << 28

  /** Collect the layer once with `limit(maxParts + 1)` (no Spark job for
    * a local layer, at most the scan's jobs for a file-backed one),
    * sorted by (poly_id, part). Fails past `maxParts` parts or
    * `maxRingBytes` bytes of vertices, so the limit never truncates
    * silently. */
  def collect(polys: Dataset[PolyRow], maxParts: Int = MaxParts,
              maxRingBytes: Long = MaxBroadcastRingBytes): Array[Part] = {
    val rows = polys.limit(maxParts + 1).collect()
    require(rows.length <= maxParts,
      s"polygon layer exceeds $maxParts polygon parts — shard the polygon layer")
    var ringBytes = 0L
    rows.foreach { p =>
      ringBytes += 16L * p.rings.map(_.length.toLong).sum
      require(ringBytes <= maxRingBytes,
        s"polygon layer rings exceed $maxRingBytes bytes of vertices " +
          "— simplify or shard the polygon layer")
    }
    rows.sortBy(p => (p.poly_id, p.part))
      .map(p => Part(p.poly_id, p.part, p.cls, Geom.PackedPoly(p.rings)))
  }

  /** Cell index over a collected layer: cell_id at `res` -> the parts
    * covering it, in layer order. The cover is
    * `GridIndex.coverPolygon`, the same one `ZonalStats.polyCells`
    * explodes. Each part is one shared instance in every cell it covers
    * (a broadcast serializes it once). Fails past `maxEntries`
    * (cell, part) entries. */
  def byCell(parts: Array[Part], res: Int, maxEntries: Int = MaxBroadcastPolyCells)
      : java.util.HashMap[Long, Array[Part]] = {
    val cells = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Part]]()
    var entries = 0L
    parts.foreach { p =>
      val cover = GridIndex.coverPolygon(p.poly, res)
      entries += cover.length
      require(entries <= maxEntries,
        s"polygon cell index exceeds $maxEntries (cell, polygon) " +
          "entries — coarsen cellRes or shard the polygon layer")
      cover.foreach { c =>
        cells.computeIfAbsent(c, _ => scala.collection.mutable.ArrayBuffer.empty[Part]) += p
      }
    }
    val index = new java.util.HashMap[Long, Array[Part]](cells.size * 2)
    cells.forEach((c, b) => index.put(c, b.toArray))
    index
  }

  /** [[collect]] + [[byCell]], shipped with `sparkContext.broadcast`:
    * the probe tile operators read inside their `mapPartitions` /
    * `flatMap`, with no join operator in the plan. Against a plan-level
    * broadcast join of the exploded cells (`ZonalStats.polyCells`):
    * pixels never enter Tungsten rows between the tiler and the kernel
    * (the join serialized every pixel array and deserialized it once per
    * matched pair), rings ship once per part instead of once per
    * (cell, part) row, and each part is packed once instead of once per
    * pair. */
  def broadcastIndex(polys: Dataset[PolyRow], res: Int,
                     maxRingBytes: Long = MaxBroadcastRingBytes)
                    (implicit spark: SparkSession)
      : Broadcast[java.util.HashMap[Long, Array[Part]]] =
    spark.sparkContext.broadcast(byCell(collect(polys, MaxParts, maxRingBytes), res))

  /** The pixels of one (tile, cell) row that one part can claim: rows
    * `rowLo..rowHi` and columns `colLo..colHi` (inclusive). `fullInside`:
    * every pixel center of the tile, padded by `pad` world units, lies
    * inside the polygon, so callers may skip PIP. */
  final case class TileWindow(rowLo: Int, rowHi: Int, colLo: Int, colHi: Int,
                              fullInside: Boolean)

  /** The parts of `index` in cell `cellId` that claim pixels of a tile
    * (geotransform `xMin`, `yMax`, `px`, size `tw` x `th`), in index
    * order, each with its [[TileWindow]]. The Tiler's ownership rule — a
    * pixel belongs to the (tile, cell) row whose cell holds its center,
    * x and y in `[x0, x1)` — and the part's bbox are both monotone in row
    * and column, so each range is found by scanning the exact per-pixel
    * predicate from both ends: the same acceptance set as a per-pixel
    * test, in O(tw + th). */
  def tileHits(index: java.util.HashMap[Long, Array[Part]], cellId: Long,
               xMin: Double, yMax: Double, px: Double, tw: Int, th: Int,
               pad: Double = 0.0): Array[(Part, TileWindow)] = {
    val parts = index.get(cellId)
    if (parts == null) return Array.empty
    val cell = GridIndex.cellBounds(cellId)
    parts.flatMap { p =>
      val pb = p.poly.box
      def rowOk(row: Int): Boolean = {
        val cy = yMax - (row + 0.5) * px
        cy >= cell.y0 && cy < cell.y1 && cy >= pb.y0 && cy <= pb.y1
      }
      def colOk(col: Int): Boolean = {
        val cx = xMin + (col + 0.5) * px
        cx >= cell.x0 && cx < cell.x1 && cx >= pb.x0 && cx <= pb.x1
      }
      var rowLo = 0
      while (rowLo < th && !rowOk(rowLo)) rowLo += 1
      var rowHi = th - 1
      while (rowHi >= rowLo && !rowOk(rowHi)) rowHi -= 1
      var colLo = 0
      while (colLo < tw && !colOk(colLo)) colLo += 1
      var colHi = tw - 1
      while (colHi >= colLo && !colOk(colHi)) colHi -= 1
      if (rowLo > rowHi || colLo > colHi) None
      else {
        val fullInside = Geom.rectInsidePolygon(Geom.BBox(
          xMin + 0.5 * px - pad, yMax - (th - 0.5) * px - pad,
          xMin + (tw - 0.5) * px + pad, yMax - 0.5 * px + pad), p.poly)
        Some((p, TileWindow(rowLo, rowHi, colLo, colHi, fullInside)))
      }
    }
  }

  /** Pixel window of a part's bbox, buffered by `buf` world units and
    * clamped to the image: columns `x0 until x0 + w`, rows
    * `y0 until y0 + h`. */
  final case class ImageWindow(x0: Int, y0: Int, w: Int, h: Int)

  /** The probe of the image operators: per image, every part of the
    * collected layer whose buffered-bbox [[ImageWindow]] is non-empty,
    * in (poly_id, part) order, goes through `kernel` with the image's
    * decoded `band` (decoded once, and only when some part hits). */
  def perImage[T: Encoder](images: Dataset[ImageRow], polys: Dataset[PolyRow], buf: Double,
                           band: Int, maxRingBytes: Long = MaxBroadcastRingBytes)
                          (kernel: (ImageRow, Array[Float], Part, ImageWindow) => Iterator[T])
                          (implicit spark: SparkSession): Dataset[T] = {
    val layer = spark.sparkContext.broadcast(collect(polys, MaxParts, maxRingBytes))
    images.flatMap { im =>
      val hits = layer.value.flatMap { p =>
        val bb = p.poly.box
        val cx0 = math.max(0, math.floor((bb.x0 - buf - im.x_min) / im.px).toInt)
        val cx1 = math.min(im.w - 1, math.ceil((bb.x1 + buf - im.x_min) / im.px).toInt - 1)
        val cy0 = math.max(0, math.floor((im.y_max - (bb.y1 + buf)) / im.px).toInt)
        val cy1 = math.min(im.h - 1, math.ceil((im.y_max - (bb.y0 - buf)) / im.px).toInt - 1)
        if (cx1 < cx0 || cy1 < cy0) None
        else Some((p, ImageWindow(cx0, cy0, cx1 - cx0 + 1, cy1 - cy0 + 1)))
      }
      if (hits.isEmpty) Iterator.empty
      else {
        val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
        hits.iterator.flatMap { case (p, w) => kernel(im, pix, p, w) }
      }
    }
  }
}
