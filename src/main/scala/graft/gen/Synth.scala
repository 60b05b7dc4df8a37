package graft.gen

import graft.{ImageRow, PolyRow, PointRow, Pt}
import graft.core.PixelCodec
import graft.operators.ImageOps

/**
 * Deterministic synthetic data per FIXTURES.md — seeded, no wall clock,
 * no network. Generates the north-rule image+caption table, the polygon
 * layer, and the point layer, reproducing the reference's only fixture
 * role (a small multi-band geo-referenced grid,
 * /root/reference/example_notebooks/figures/weetestorig.tif) at arbitrary
 * scale.
 *
 * Skew: ~20% of images land in a handful of dense "urban" clusters so the
 * salting + AQE paths are actually exercised (SURVEY §7 hard-point 3).
 * Pixel values are value-noise + gradient, quantized to integers in
 * [0,255] stored as float — integer-valued so histogram stats (median/
 * mode/frac) are exact across engines, matching the reference's uint8
 * regime (shape.py:1704-1710).
 */
object Synth {

  /** splitmix64 — stable across JVMs, no java.util.Random quirks. */
  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  }

  private val Words = Array(
    "tile", "cell", "join", "polygon", "raster", "band", "pixel", "zonal",
    "index", "grid", "scene", "caption", "field", "crop", "edge", "mask")

  val Sizes = Array(64, 128, 256, 257) // 257 exercises edge tiles
  val Fmts  = Array(PixelCodec.FmtRawLe, PixelCodec.FmtRle, PixelCodec.FmtQnt8)

  def caption(i: Long, rng: Rng): String = {
    val n = 4 + rng.nextInt(5)
    (0 until n).map(_ => Words(rng.nextInt(Words.length))).mkString(" ") + s" #$i"
  }

  /** Smooth-ish deterministic pixel field: bilinear value noise from a
    * per-image hashed lattice plus a gradient, quantized to [0,255]. */
  def pixels(seed: Long, w: Int, h: Int, band: Int): Array[Float] = {
    def lat(ix: Int, iy: Int): Double = {
      var z = seed ^ (ix.toLong * 0x9e3779b97f4a7c15L) ^
        (iy.toLong * 0xc2b2ae3d27d4eb4fL) ^ (band.toLong * 0x165667b19e3779f9L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) >>> 11) * 1.1102230246251565e-16
    }
    val cellPx = 16 // noise lattice spacing
    val out = new Array[Float](w * h)
    var y = 0
    while (y < h) {
      val gy = y.toDouble / cellPx; val iy = gy.toInt; val fy = gy - iy
      var x = 0
      while (x < w) {
        val gx = x.toDouble / cellPx; val ix = gx.toInt; val fx = gx - ix
        val v00 = lat(ix, iy); val v10 = lat(ix + 1, iy)
        val v01 = lat(ix, iy + 1); val v11 = lat(ix + 1, iy + 1)
        val noise = v00 * (1 - fx) * (1 - fy) + v10 * fx * (1 - fy) +
          v01 * (1 - fx) * fy + v11 * fx * fy
        val grad = 0.3 * x / math.max(w - 1, 1) + 0.2 * y / math.max(h - 1, 1)
        val v = math.min(255, math.max(0, math.round((0.5 * noise + grad) * 255.0 / 1.0)))
        out(y * w + x) = math.min(v, 255).toFloat
        x += 1
      }
      y += 1
    }
    out
  }

  /** The north-rule image table. px (pixel size in world units) fixed at
    * 1.0 so pixel centers land at x_min + col + 0.5 — integer-free, which
    * keeps every pixel strictly off polygon edges drawn on integers.
    *
    * `imageAt` is per-index and independent of every other index, so the
    * table generates DISTRIBUTED (spark.range(n).map(imageAt)) — the
    * driver never holds the dataset. */
  def images(n: Int, seed: Long = 42L, bands: Int = 3): IndexedSeq[ImageRow] =
    (0 until n).map(i => imageAt(i.toLong, seed, bands))

  def imageAt(i: Long, seed: Long = 42L, bands: Int = 3): ImageRow = {
    val clusterCenters = Array((0.0, 0.0), (900.0, 900.0), (-900.0, 600.0))
    val rng = new Rng(seed ^ (i * 0x5851f42d4c957f2dL))
    val w = Sizes(rng.nextInt(Sizes.length))
    val h = Sizes(rng.nextInt(Sizes.length))
    val fmt = Fmts(rng.nextInt(Fmts.length))
    val dense = rng.nextDouble() < 0.2
    val (ox, oy): (Double, Double) =
      if (dense) {
        val c = clusterCenters(rng.nextInt(clusterCenters.length))
        (c._1 + rng.nextDouble() * 64 - 32, c._2 + rng.nextDouble() * 64 - 32)
      } else (rng.nextDouble() * 8000 - 4000, rng.nextDouble() * 8000 - 4000)
    val bs = Array.tabulate(bands)(b => pixels(seed ^ i, w, h, b))
    ImageOps.fromArray(f"img$i%08d", bs, w, h, xMin = math.floor(ox),
      yMax = math.floor(oy) + h, px = 1.0, fmt = fmt, caption = caption(i, rng))
  }

  /** Polygon layer per FIXTURES.md §3: boxes, rotated convex, concave "L",
    * ring-with-hole, sub-pixel sliver, partially- and fully-outside. */
  def polygons(nExtra: Int, seed: Long = 7L): IndexedSeq[PolyRow] = {
    val rng = new Rng(seed)
    def box(x0: Double, y0: Double, x1: Double, y1: Double): Array[Array[Pt]] =
      Array(Array(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1)))
    val fixed = IndexedSeq(
      PolyRow(0, 0, box(-40, -40, 40, 40), 1, "big_box", 168.0),
      PolyRow(1, 0, Array(Array( // rotated convex pentagon near cluster 2
        Pt(900, 860), Pt(945, 885), Pt(935, 935), Pt(885, 940), Pt(865, 895))), 2, "pent", 42.0),
      PolyRow(2, 0, Array(Array( // concave L
        Pt(-940, 560), Pt(-860, 560), Pt(-860, 590), Pt(-910, 590),
        Pt(-910, 650), Pt(-940, 650))), 3, "ell", 99.0),
      PolyRow(3, 0, Array( // square with square hole
        Array(Pt(-30, 880), Pt(70, 880), Pt(70, 980), Pt(-30, 980)),
        Array(Pt(0, 910), Pt(40, 910), Pt(40, 950), Pt(0, 950))), 1, "holed", 10.0),
      PolyRow(4, 0, box(0.1, 0.1, 0.4, 0.4), 2, "sliver", 1.0), // sub-pixel
      PolyRow(5, 0, box(50000, 50000, 50100, 50100), 3, "outside", 0.0),
      PolyRow(6, 0, box(-60, -60, -35, -35), 1, "partial", 5.0),
      // multipolygon: two parts sharing poly_id 7
      PolyRow(7, 0, box(10, -20, 30, 0), 2, "multi", 77.0),
      PolyRow(7, 1, box(-30, 5, -10, 25), 2, "multi", 77.0)
    )
    val extra = (0 until nExtra).map { k =>
      val cx = rng.nextDouble() * 7000 - 3500
      val cy = rng.nextDouble() * 7000 - 3500
      val r0 = 10 + rng.nextDouble() * 120
      val nv = 3 + rng.nextInt(6)
      val ring = Array.tabulate(nv) { v =>
        val ang = 2 * math.Pi * v / nv + rng.nextDouble() * 0.3
        Pt(cx + r0 * math.cos(ang), cy + r0 * math.sin(ang))
      }
      PolyRow(8L + k, 0, Array(ring), 1 + rng.nextInt(3), s"gen$k", rng.nextDouble() * 200)
    }
    fixed ++ extra
  }

  /** Point layer per FIXTURES.md §4: includes out-of-raster points and
    * duplicate coordinates (kNN tie-break). */
  def points(n: Int, seed: Long = 11L): IndexedSeq[PointRow] = {
    val rng = new Rng(seed)
    val base = (0 until n).map { i =>
      PointRow(i.toLong, rng.nextDouble() * 8200 - 4100,
        rng.nextDouble() * 8200 - 4100, s"p${i % 5}")
    }
    // duplicates + far-outside markers appended deterministically
    base ++ IndexedSeq(
      PointRow(n.toLong, base.head.x, base.head.y, "dup"),
      PointRow(n + 1L, 99999.0, 99999.0, "far"))
  }
}
