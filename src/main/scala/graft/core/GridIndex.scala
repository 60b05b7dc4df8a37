package graft.core

/**
 * Planar square-grid cell index — the engine's exact prefilter key for the
 * raster<->vector joins, replacing the reference's per-feature bbox window
 * (`_bbox_to_pixel_offsets`, /root/reference/geospatial_learn/shape.py:551-619).
 *
 * World domain is [-2^19, 2^19) on both axes (projected CRS units). At
 * resolution r (0..20) the cell size is 2^(20-r); res 20 = unit cells.
 * A cell id packs [res:5 | ix:20 | iy:20] into the low 45 bits of a Long,
 * so ids at different resolutions never collide and the encode is plain
 * integer column math (stays inside WholeStageCodegen — see
 * graft.functions.cells for the Column form mirroring this object).
 */
object GridIndex {
  val MaxRes   = 20
  val WorldPow = 20            // world spans 2^20 units
  val Offset   = 1L << (WorldPow - 1) // shift so negatives encode

  def cellSize(res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"res out of range: $res")
    1L << (WorldPow - res)
  }

  /** floor((x + Offset) / size) — clamped into the world. */
  def axisIndex(x: Double, res: Int): Long = {
    val size = cellSize(res)
    val idx  = math.floor((x + Offset) / size).toLong
    math.max(0L, math.min((1L << res) - 1, idx))
  }

  def pack(res: Int, ix: Long, iy: Long): Long =
    (res.toLong << 40) | (ix << 20) | iy

  def cellId(x: Double, y: Double, res: Int): Long =
    pack(res, axisIndex(x, res), axisIndex(y, res))

  def res(cell: Long): Int = ((cell >> 40) & 0x1f).toInt
  def ix(cell: Long): Long = (cell >> 20) & 0xfffff
  def iy(cell: Long): Long = cell & 0xfffff

  /** World-coordinate bounds of a cell. */
  def cellBounds(cell: Long): Geom.BBox = {
    val r = res(cell); val size = cellSize(r).toDouble
    val x0 = ix(cell) * size - Offset
    val y0 = iy(cell) * size - Offset
    Geom.BBox(x0, y0, x0 + size, y0 + size)
  }

  def parent(cell: Long): Long = {
    val r = res(cell)
    require(r > 0)
    pack(r - 1, ix(cell) >> 1, iy(cell) >> 1)
  }

  /** All cells with Chebyshev distance <= k (the square-grid k-ring used
    * by the kNN expansion, SURVEY §2.3). (2k+1)^2 cells, world-clamped. */
  def kRing(cell: Long, k: Int): Array[Long] = {
    val r = res(cell); val cx = ix(cell); val cy = iy(cell)
    val lim = (1L << r) - 1
    val out = new scala.collection.mutable.ArrayBuffer[Long]((2 * k + 1) * (2 * k + 1))
    var dx = -k
    while (dx <= k) {
      val x = cx + dx
      if (x >= 0 && x <= lim) {
        var dy = -k
        while (dy <= k) {
          val y = cy + dy
          if (y >= 0 && y <= lim) out += pack(r, x, y)
          dy += 1
        }
      }
      dx += 1
    }
    out.toArray
  }

  /** Exactly the cells at Chebyshev distance == k (ring shell). */
  def ring(cell: Long, k: Int): Array[Long] = {
    if (k == 0) return Array(cell)
    val r = res(cell); val cx = ix(cell); val cy = iy(cell)
    val lim = (1L << r) - 1
    val out = new scala.collection.mutable.ArrayBuffer[Long](8 * k)
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          val x = cx + dx; val y = cy + dy
          if (x >= 0 && x <= lim && y >= 0 && y <= lim) out += pack(r, x, y)
        }
        dy += 1
      }
      dx += 1
    }
    out.toArray
  }

  /** Hard per-feature cell-cover cap (16M cells = a 128 MB Long array).
    * PolyLayer.collect caps feature COUNT; this caps cells-per-feature so a
    * continent-sized bbox at fine res fails loudly instead of silently
    * truncating the Long product to Int (negative allocation size) or
    * OOMing the broadcast build side. */
  val MaxCoverCells: Long = 1L << 24

  /** Cells overlapping an axis-aligned box (inclusive of edge-touching). */
  def coverBBox(b: Geom.BBox, res: Int): Array[Long] = {
    // an inverted bbox is Geom.bbox of EMPTY rings — zero cells, not a
    // large garbage allocation (axisIndex clamping would make the
    // inverted extent read as nearly the whole grid) or a misleading
    // "too large" require
    if (b.x1 < b.x0 || b.y1 < b.y0) return Array.empty
    val x0 = axisIndex(b.x0, res); val x1 = axisIndex(b.x1, res)
    val y0 = axisIndex(b.y0, res); val y1 = axisIndex(b.y1, res)
    val n = (x1 - x0 + 1) * (y1 - y0 + 1) // Long arithmetic
    require(n <= MaxCoverCells,
      s"coverBBox: $n cells at res $res for bbox $b exceeds $MaxCoverCells" +
        " — coarsen the grid res for features this large")
    val out = new Array[Long](n.toInt)
    var i = 0; var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = pack(res, x, y); i += 1; y += 1 }
      x += 1
    }
    out
  }

  /** Cells whose square actually intersects the polygon — the broadcast
    * build side of the prefilter join (exactness comes from the PIP refine,
    * so this only needs to be a superset-free-enough cover). */
  def coverPolygon(poly: Geom.PackedPoly, res: Int): Array[Long] =
    coverBBox(poly.box, res).filter(c => Geom.rectIntersectsPolygon(cellBounds(c), poly))
}
