package graft.gen

import graft.ImageRow
import graft.core.PixelCodec
import graft.operators.ImageOps

/**
 * Deterministic image table whose band-b pixel at (x, y) of image i is the
 * CLOSED-FORM integer function `value(i, b, x, y)` — plus/times/mod math
 * that a DuckDB oracle regenerates with generate_series. Every raster operator
 * (tiler, raster2points, mosaic, features, GLCM, classify, the full zonal
 * pipeline) run over these images is then end-to-end SQL-checkable: the
 * Spark side decodes REAL encoded bytes through the REAL tiler while the
 * oracle recomputes the same pixels relationally (the driver's
 * lineitem-derived-pixel pattern, extended to the image payload).
 *
 * Layout contract (keeps the SQL mirror simple):
 *  - px = 1, W = 80, H = 48; x_min = (i % 8) * 256, y_max = (i / 8) * 256,
 *    both multiples of the 64-unit grid cell, so at tileSize 64 every tile
 *    lands in EXACTLY one grid cell (no ownership splits) and images never
 *    overlap (mosaic uses the explicit overlapping placement below).
 *  - fmt alternates raw-le / rle — lossless, so decoded pixels equal the
 *    formula exactly.
 *
 * SQL mirror of one image set: `GridImages.pxSql(n, bands)`.
 */
object GridImages {
  val W = 80  // 2 tiles at tileSize 64: one full, one 16-px edge tile
  val H = 48

  def value(i: Long, band: Int, x: Int, y: Int): Float =
    ((x * 7 + y * 13 + band * 31 + i * 17) % 97).toFloat

  def xMin(i: Long): Double = (i % 8) * 256.0
  def yMax(i: Long): Double = (i / 8) * 256.0

  /** Fixture image `g<i>`: `bands` bands whose pixel (x, y) of band b is
    * `v(b, x, y)`, `w`×`h` with px = 1 at the standard placement unless
    * `x0`/`y1` are given, encoded raw-le for even i and rle for odd i (or
    * raw-le for every i with `rawLe`) — both lossless, so decoded pixels
    * equal the formula. Built by `ImageOps.fromArray`, like every row. */
  private def fixture(i: Long, caption: String, bands: Int = 1,
                      rawLe: Boolean = false, w: Int = W, h: Int = H,
                      x0: Double = Double.NaN, y1: Double = Double.NaN)
                     (v: (Int, Int, Int) => Float): ImageRow = {
    val bs = Array.tabulate(bands)(b => Array.tabulate(w * h)(p => v(b, p % w, p / w)))
    val fmt = if (rawLe || i % 2 == 0) PixelCodec.FmtRawLe else PixelCodec.FmtRle
    ImageOps.fromArray(f"g$i%03d", bs, w, h, if (x0.isNaN) xMin(i) else x0,
      if (y1.isNaN) yMax(i) else y1, 1.0, fmt, caption)
  }

  def imageAt(i: Long, bands: Int,
              xMin0: Double = Double.NaN, yMax0: Double = Double.NaN): ImageRow =
    fixture(i, s"grid image $i", bands, x0 = xMin0, y1 = yMax0)(value(i, _, _, _))

  def images(n: Int, bands: Int = 2): IndexedSeq[ImageRow] =
    (0 until n).map(i => imageAt(i.toLong, bands))

  /** Horizontal-stripe images (single band): every 6-row stripe is a
    * connected region with value ((i*5 + y/6) % 7) * 13 — adjacent
    * stripes always differ, so polygonize's components are exactly the
    * stripes and the oracle counts them in closed form. */
  def stripeValue(i: Long, y: Int): Float = (((i * 5 + y / 6) % 7) * 13).toFloat

  def striped(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"striped $i")((_, _, y) => stripeValue(i, y)))

  // ---- step-edge fixture (Canny / Hough / RANSAC family) ----
  // Piecewise-constant vertical strips + one horizontal value change
  // inside the right strip. Every Canny stage is exercised non-trivially:
  //  - the c1 step (diff 50, |sobel| 200) is a strong double-column edge
  //  - the c2 step (diff 3, |sobel| 12 < lowT 20) never enters the weak
  //    set — suppressed regardless of connectivity
  //  - the c3 strip's step diff is 15 above row k and 8 below, so its
  //    edge line mixes strong (60) and weak (32) pixels — the weak tail
  //    is kept ONLY via hysteresis; two pixels of column c3-1 at rows
  //    k-1/k are NMS-suppressed by the stronger column-c3 neighbor
  //  - the internal horizontal change at row k (diff 7, |sobel| 28)
  //    is a weak line kept only through its 8-connection to column c3.
  // The surviving edge set is closed-form (EdgeSpec pins it; the q_canny
  // oracle enumerates it in SQL).
  def edgeC1(i: Long): Int = 8 + (i % 3).toInt
  def edgeC2(i: Long): Int = 20 + (i % 5).toInt
  def edgeC3(i: Long): Int = 40 + (i % 7).toInt
  def edgeK(i: Long): Int = 12 + (i % 9).toInt

  def edgeValue(i: Long, x: Int, y: Int): Float = {
    var v = 10
    if (x >= edgeC1(i)) v += 50
    if (x >= edgeC2(i)) v += 3
    if (x >= edgeC3(i)) v += (if (y < edgeK(i)) 15 else 8)
    v.toFloat
  }

  def edgeImages(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"edge fixture $i")((_, x, y) => edgeValue(i, x, y)))

  /** DuckDB CTE of the closed-form Canny edge set for `edgeImages(n)`
    * at sigma=0, lowT=20, highT=40: (i, image_id, x, y). */
  def edgeSetSql(n: Int): String =
    s"""ep AS (
       |  SELECT i, 8 + (i % 3) AS c1, 40 + (i % 7) AS c3, 12 + (i % 9) AS k
       |  FROM generate_series(0, ${n - 1}) t(i)),
       |edges AS (
       |  SELECT i, c1 - 1 + e AS x, y FROM ep,
       |    generate_series(0, 1) te(e), generate_series(0, ${H - 1}) ty(y)
       |  UNION ALL
       |  SELECT i, c3, y FROM ep, generate_series(0, ${H - 1}) ty(y)
       |  UNION ALL
       |  SELECT i, c3 - 1, y FROM ep, generate_series(0, ${H - 1}) ty(y)
       |  WHERE y <> k - 1 AND y <> k
       |  UNION ALL
       |  SELECT i, x, k - 1 + e FROM ep, generate_series(0, 1) te(e),
       |    generate_series(0, ${W - 1}) tx(x) WHERE x > c3)""".stripMargin

  // ---- grid-line fixture (Hough segmentation / RANSAC) ----
  // Bright 1-px lines on a dark field: vertical lines at x ≡ a(i) mod 16
  // (5 of them), horizontal at y ≡ b(i) mod 12 (4 of them). Thresholding
  // recovers exactly the planted lines, the Hough peaks recover exactly
  // the line coordinates, and the inverted mask's 4-connected components
  // are the 30 grid cells with closed-form widths — the q_hough_seg
  // oracle enumerates them relationally.
  def lineA(i: Long): Int = 3 + (i % 5).toInt
  def lineB(i: Long): Int = 2 + (i % 7).toInt

  def lineValue(i: Long, x: Int, y: Int): Float =
    if (x % 16 == lineA(i) || y % 12 == lineB(i)) 90f else 10f

  def lineImages(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"line fixture $i")((_, x, y) => lineValue(i, x, y)))

  // ---- RANSAC fixture ----
  // Two 40-px strips per image; each strip plants a dominant VERTICAL
  // line (15 pixels, every 3rd row, column 40s + 8 + ((i+2s) % 5)) plus
  // 5 noise pixels >= 13 columns away. Any non-planted pair's consensus
  // is provably < 15 (the tilt needed to reach the far noise column
  // sweeps the planted pixels out of the 1-px residual band), so the
  // exhaustive argmax lands on a planted (vertical) pair and the burned
  // line is exactly column a at the edge pixels' rows — closed-form,
  // and the q_ransac oracle replays the whole pair enumeration in SQL.
  def ransacA(i: Long, s: Int): Int = 40 * s + 8 + ((i + 2 * s) % 5).toInt

  def ransacBright(i: Long, x: Int, y: Int): Boolean = {
    val s = x / 40
    val planted = x == ransacA(i, s) && y % 3 == 1 && y <= 43
    val noise = (0 until 5).exists { j =>
      x == 40 * s + 25 + ((i + j) % 7).toInt && y == ((5 * j + 7 * s + i) % 48).toInt
    }
    planted || noise
  }

  def ransacImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"ransac fixture $i")((_, x, y) => if (ransacBright(i, x, y)) 90f else 10f)
  }

  /** DuckDB CTE of the fixture's bright pixels: (i, s, x, y, ord). */
  def ransacPxSql(n: Int): String =
    s"""rpx AS (
       |  SELECT DISTINCT * FROM (
       |    SELECT i, s, 40*s + 8 + ((i + 2*s) % 5) AS x, 3*j + 1 AS y
       |    FROM generate_series(0, ${n - 1}) t(i), generate_series(0, 1) ts(s),
       |         generate_series(0, 14) tj(j)
       |    UNION ALL
       |    SELECT i, s, 40*s + 25 + ((i + j) % 7), (5*j + 7*s + i) % 48
       |    FROM generate_series(0, ${n - 1}) t(i), generate_series(0, 1) ts(s),
       |         generate_series(0, 4) tj(j)))""".stripMargin

  // ---- iter_ransac fixture ----
  // Two planted VERTICAL lines of unequal support plus three strongly
  // non-collinear noise points (value 90 on a 10 field):
  //  - line A: column 10+(i%4), rows 2,6,...,38 (10 points)
  //  - line B: column 40+(i%3), rows 3,9,...,27 (5 points)
  //  - noise: (60, 5+(i%3)), (67, 25), (62, 40+(i%2))
  // Any pair spanning two clusters tilts so far that its 1-px residual
  // band holds <= 4 points (|y - ya| <= len/dx with dx >= 18), so round
  // 1's exhaustive argmax is an A-pair (consensus 10, exactly the A
  // points — everything else is >= 27 columns away), its inliers drop,
  // and round 2's argmax is a B-pair (consensus 5 > any noise line's
  // <= 4). Both winners are vertical, so the burns are closed-form:
  // column a (then b) at every CURRENT point's row. The q_iter_ransac
  // oracle replays BOTH rounds' full pair enumeration in SQL;
  // RansacSpec additionally checks the numeric no-better-pair claims.
  def iterRanA(i: Long): Int = 10 + (i % 4).toInt
  def iterRanB(i: Long): Int = 40 + (i % 3).toInt

  def iterRanPts(i: Long): Seq[(Int, Int)] = {
    val a = iterRanA(i); val b = iterRanB(i)
    (0 until 10).map(k => (a, 2 + 4 * k)) ++
      (0 until 5).map(k => (b, 3 + 6 * k)) ++
      Seq((60, 5 + (i % 3).toInt), (67, 25), (62, 40 + (i % 2).toInt))
  }

  def iterRanImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    val bright = iterRanPts(i.toLong).toSet
    fixture(i, s"iter_ransac fixture $i")((_, x, y) => if (bright((x, y))) 90f else 10f)
  }

  /** DuckDB CTE of the iter_ransac fixture points: (i, x, y). */
  def iterRanPtsSql(n: Int): String =
    s"""ipts AS (
       |  SELECT i, 10 + (i % 4) AS x, 2 + 4*k AS y
       |  FROM generate_series(0, ${n - 1}) t(i), generate_series(0, 9) tk(k)
       |  UNION ALL
       |  SELECT i, 40 + (i % 3), 3 + 6*k
       |  FROM generate_series(0, ${n - 1}) t(i), generate_series(0, 4) tk(k)
       |  UNION ALL
       |  SELECT i, 60, 5 + (i % 3) FROM generate_series(0, ${n - 1}) t(i)
       |  UNION ALL
       |  SELECT i, 67, 25 FROM generate_series(0, ${n - 1}) t(i)
       |  UNION ALL
       |  SELECT i, 62, 40 + (i % 2) FROM generate_series(0, ${n - 1}) t(i))""".stripMargin

  // ---- morphological-snakes fixture ----
  // Two planted hi=90 rectangles ("blobs") on a lo=10 background plus a
  // flat zone. Three init polygons per image:
  //  - A ⊃ blob1 with 3..5-px margins: ACWE shrinks ring-by-ring (the
  //    shed ring is all-lo, c0 stays exactly lo) and converges to blob1
  //  - B ⊂ blob2 with 2..3-px inner margins: ACWE grows (c1 stays
  //    exactly hi) and converges to blob2
  //  - C over the flat zone: ACWE is stationary (c1 = c0 -> aux = 0);
  //    GAC with gimg = 1, manual threshold and balloon = -1 erodes
  //    exactly one ring per iteration
  // All three finals are closed-form pixel rectangles (SnakesSpec pins
  // the derivation; the q_snake* oracles enumerate them in SQL).
  def snakeB1(i: Long): (Int, Int, Int, Int) = {
    val x0 = 10 + (i % 4).toInt; val y0 = 8 + (i % 3).toInt
    (x0, y0, x0 + 13 + (i % 3).toInt, y0 + 9 + (i % 2).toInt)
  }
  def snakeB2(i: Long): (Int, Int, Int, Int) = {
    val x0 = 50 + (i % 3).toInt; val y0 = 22 + (i % 4).toInt
    (x0, y0, x0 + 15 + (i % 2).toInt, y0 + 11 + (i % 3).toInt)
  }
  def snakePolyA(i: Long): (Int, Int, Int, Int) = {
    val (x0, y0, x1, y1) = snakeB1(i)
    (x0 - 3 - (i % 3).toInt, y0 - 3, x1 + 4 - (i % 2).toInt, y1 + 5 - (i % 3).toInt)
  }
  def snakePolyB(i: Long): (Int, Int, Int, Int) = {
    val (x0, y0, x1, y1) = snakeB2(i)
    (x0 + 2 + (i % 2).toInt, y0 + 2, x1 - 2, y1 - 3 + (i % 2).toInt)
  }
  def snakePolyC(i: Long): (Int, Int, Int, Int) =
    (8 + (i % 3).toInt, 33, 26, 44 - (i % 2).toInt)

  def snakeValue(i: Long, x: Int, y: Int): Float = {
    val b1 = snakeB1(i); val b2 = snakeB2(i)
    val in1 = x >= b1._1 && x <= b1._3 && y >= b1._2 && y <= b1._4
    val in2 = x >= b2._1 && x <= b2._3 && y >= b2._2 && y <= b2._4
    if (in1 || in2) 90f else 10f
  }

  def snakeImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"snake fixture $i")((_, x, y) => snakeValue(i, x, y))
  }

  /** World-coordinate polygon burning EXACTLY the pixel rect
    * [x0..x1]x[y0..y1] of image i (0.25-px margins keep every pixel
    * center strictly inside and neighbors strictly outside). */
  def pixelRectPoly(i: Long, polyId: Long,
                    r: (Int, Int, Int, Int)): graft.PolyRow = {
    val (x0, y0, x1, y1) = r
    val wx0 = xMin(i) + x0 + 0.25; val wx1 = xMin(i) + x1 + 0.75
    val wy0 = yMax(i) - y1 - 0.75; val wy1 = yMax(i) - y0 - 0.25
    graft.PolyRow(polyId, 0, Array(Array(
      graft.Pt(wx0, wy0), graft.Pt(wx1, wy0), graft.Pt(wx1, wy1),
      graft.Pt(wx0, wy1))), 1, s"snake $polyId", 0.0)
  }

  def snakePolys(n: Int): IndexedSeq[graft.PolyRow] =
    (0 until n).flatMap { i =>
      Seq(pixelRectPoly(i.toLong, i * 3L, snakePolyA(i.toLong)),
        pixelRectPoly(i.toLong, i * 3L + 1, snakePolyB(i.toLong)),
        pixelRectPoly(i.toLong, i * 3L + 2, snakePolyC(i.toLong)))
    }

  /** DuckDB CTE of the snake fixture's per-image rectangle corners:
    * blob1/blob2 and the three init polys. */
  def snakeRectSql(n: Int): String =
    s"""sr AS (
       |  SELECT i,
       |    10 + (i % 4) AS s_x0, 8 + (i % 3) AS s_y0,
       |    10 + (i % 4) + 13 + (i % 3) AS s_x1,
       |    8 + (i % 3) + 9 + (i % 2) AS s_y1,
       |    50 + (i % 3) AS t_x0, 22 + (i % 4) AS t_y0,
       |    50 + (i % 3) + 15 + (i % 2) AS t_x1,
       |    22 + (i % 4) + 11 + (i % 3) AS t_y1,
       |    10 + (i % 4) - 3 - (i % 3) AS a_x0, 8 + (i % 3) - 3 AS a_y0,
       |    10 + (i % 4) + 13 + (i % 3) + 4 - (i % 2) AS a_x1,
       |    8 + (i % 3) + 9 + (i % 2) + 5 - (i % 3) AS a_y1,
       |    50 + (i % 3) + 2 + (i % 2) AS b_x0, 22 + (i % 4) + 2 AS b_y0,
       |    50 + (i % 3) + 15 + (i % 2) - 2 AS b_x1,
       |    22 + (i % 4) + 11 + (i % 3) - 3 + (i % 2) AS b_y1,
       |    8 + (i % 3) AS c_x0, 33 AS c_y0, 26 AS c_x1,
       |    44 - (i % 2) AS c_y1
       |  FROM generate_series(0, ${n - 1}) t(i))""".stripMargin

  // ---- thresh_seg fixture ----
  // The snake blobs (90 on 10) plus three planted defects with
  // closed-form fates:
  //  - a 1-px HOLE inside blob1 (value 10): area 1 < holeArea 4 ->
  //    remove_small_holes fills it, so the final segment is the FULL
  //    blob1 rectangle
  //  - a 1-px speck and a 2-px domino speck (value 90) in polyA's
  //    margin band, >= 2 px from the blob: areas 1, 2 < minArea 4 ->
  //    remove_small_objects deletes them
  // Otsu over each window's {10, 90} values lands at 10 (the only valid
  // between-class split), so bw = v > 10 recovers blobs + specks.
  def threshHole(i: Long): (Int, Int) = {
    val (x0, y0, _, _) = snakeB1(i)
    (x0 + 2 + (i % 3).toInt, y0 + 1 + (i % 2).toInt)
  }
  def threshSpeck1(i: Long): (Int, Int) = {
    val (_, y0, x1, _) = snakeB1(i)
    (x1 + 2, y0 + 1)
  }
  def threshSpeck2(i: Long): (Int, Int) = { // and the pixel to its right
    val (x0, _, _, y1) = snakeB1(i)
    (x0 + 1, y1 + 2)
  }
  /** polyD: blob2 with a 2-px margin (clean window, no defects). */
  def threshPolyD(i: Long): (Int, Int, Int, Int) = {
    val (x0, y0, x1, y1) = snakeB2(i)
    (x0 - 2, y0 - 2, x1 + 2, y1 + 2)
  }

  def threshValue(i: Long, x: Int, y: Int): Float = {
    val (hx, hy) = threshHole(i)
    val (s1x, s1y) = threshSpeck1(i)
    val (s2x, s2y) = threshSpeck2(i)
    if (x == hx && y == hy) 10f
    else if ((x == s1x && y == s1y) || (y == s2y && (x == s2x || x == s2x + 1))) 90f
    else snakeValue(i, x, y)
  }

  def threshImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"thresh fixture $i")((_, x, y) => threshValue(i, x, y))
  }

  // ---- meshgrid fixture ----
  // One bright (90) rectangle on a ZERO background (meshgrid masks with
  // `im > 0`, shape.py:2421). Even i: wide rect (mu20 > mu02 ->
  // orientation 0, grid frame = the rect); odd i: the same dims
  // transposed (orientation pi/2, grid frame = the rect's bounds
  // swapped about its center). Dims are chosen so no side is a
  // near-integer multiple of the 4.5 fixture cell side (the ceil-count
  // is then immune to the ~1e-15 rotation drift).
  def meshRect(i: Long): (Int, Int, Int, Int) = {
    val w0 = 14 + (i % 3).toInt; val h0 = 10 + (i % 2).toInt
    val (w, h) = if (i % 2 == 0) (w0, h0) else (h0, w0)
    val x0 = 12 + (i % 5).toInt; val y0 = 9 + (i % 3).toInt
    (x0, y0, x0 + w - 1, y0 + h - 1)
  }

  def meshValue(i: Long, x: Int, y: Int): Float = {
    val (x0, y0, x1, y1) = meshRect(i)
    if (x >= x0 && x <= x1 && y >= y0 && y <= y1) 90f else 0f
  }

  def meshImages(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"mesh fixture $i")((_, x, y) => meshValue(i, x, y)))

  /** DuckDB CTE of the mesh rect corners (pixel indices): (i, m_x0,
    * m_y0, m_x1, m_y1). */
  def meshRectSql(n: Int): String =
    s"""mr AS (
       |  SELECT i,
       |    12 + (i % 5) AS m_x0, 9 + (i % 3) AS m_y0,
       |    12 + (i % 5) + CASE WHEN i % 2 = 0 THEN 14 + (i % 3)
       |                        ELSE 10 + (i % 2) END - 1 AS m_x1,
       |    9 + (i % 3) + CASE WHEN i % 2 = 0 THEN 10 + (i % 2)
       |                       ELSE 14 + (i % 3) END - 1 AS m_y1
       |  FROM generate_series(0, ${n - 1}) t(i))""".stripMargin

  /** 16x16 single-band images on the standard value formula — the
    * phase-congruency fixture (power-of-2 dims: the engine FFT runs
    * unpadded and a DuckDB oracle can replay the DFT as explicit trig
    * sums). */
  def pcImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"pc fixture $i", rawLe = true, w = 16, h = 16)(
      (_, x, y) => value(i, 0, x, y))
  }

  /** Standard grid images with ISOLATED nodata holes burned at the
    * closed-form lattice x%7==3, y%5==2, y<=42 (spacing >= 5 keeps every
    * hole's 8-neighborhood valid and interior) — the fill_nodata
    * fixture: each fill is exactly the mean of its 8 neighbors. */
  val HoleNodata: Float = -1f
  def holeAt(x: Int, y: Int): Boolean = x % 7 == 3 && y % 5 == 2 && y <= 42

  def holeImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"hole fixture $i")(
      (_, x, y) => if (holeAt(x, y)) HoleNodata else value(i, 0, x, y))
  }

  /** Binary blob mask of the snake fixture (1 inside blob1/blob2, else
    * 0) — the toposnakes init segmentation. On this stationary ACWE
    * configuration the background skeleton never touches the blobs, so
    * the final components are exactly the two rectangles. */
  def snakeSegImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"snake seg $i", rawLe = true)(
      (_, x, y) => if (snakeValue(i, x, y) > 10f) 1f else 0f)
  }

  /** Snake blobs on a ZERO background (toposeg's nodata regime: the
    * reference NaNs out zeros before peak detection). Every blob pixel
    * is a plateau peak, dilation grows one ring of zeros, and the first
    * ACWE step sheds the ring exactly — so toposeg's final components
    * are the two blob rectangles, closed-form. */
  def snakeZeroImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"snake zero $i")((_, x, y) => if (snakeValue(i, x, y) > 10f) 90f else 0f)
  }

  // ---- do_ac fixture ----
  // DARK objects on a BRIGHT (90) background — do_ac's gray path inits
  // the level set with `img < thresh` (utilities.py:371), so the
  // objects must be the low values. Against thresh = 75:
  //  - blob1 (value 10, the snakeB1 rect) wears a 1-px penumbra ring of
  //    value 74: the threshold OVER-selects it, and ACWE sheds the whole
  //    ring in step 1 (c1 is the blob-dominated inside mean <= ~20, so
  //    |74 - c1| >> |74 - c0| = 16 with c0 = 90 exactly) then sits on
  //    the exact rectangle (c1 = 10 exactly from step 2 on);
  //  - blob2 (value 10, the snakeB2 rect) is threshold-exact and
  //    ACWE-stationary from the start;
  //  - a 1-px speck and a 2-px domino (value 10, in the clear bottom
  //    band) SURVIVE ACWE (their data term keeps them: |10 - c1| <
  //    |10 - c0| always) and are dropped by the AREA filter — the
  //    reference's gdf.Area > area_thresh tail (utilities.py:390-392).
  // DoAcSpec pins the shed/stationary derivation against the kernel;
  // the q_do_ac oracle enumerates the two surviving rectangles in SQL.
  def doAcSpeck1(i: Long): (Int, Int) = (5 + (i % 3).toInt, 41 + (i % 2).toInt)
  def doAcSpeck2(i: Long): (Int, Int) = (34 + (i % 4).toInt, 44) // and x+1

  def doAcValue(i: Long, x: Int, y: Int): Float = {
    val b1 = snakeB1(i); val b2 = snakeB2(i)
    val in1 = x >= b1._1 && x <= b1._3 && y >= b1._2 && y <= b1._4
    val ring1 = !in1 && x >= b1._1 - 1 && x <= b1._3 + 1 &&
      y >= b1._2 - 1 && y <= b1._4 + 1
    val in2 = x >= b2._1 && x <= b2._3 && y >= b2._2 && y <= b2._4
    val (s1x, s1y) = doAcSpeck1(i)
    val (s2x, s2y) = doAcSpeck2(i)
    if (in1 || in2) 10f
    else if (ring1) 74f
    else if ((x == s1x && y == s1y) || (y == s2y && (x == s2x || x == s2x + 1))) 10f
    else 90f
  }

  def doAcImages(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"do_ac fixture $i")((_, x, y) => doAcValue(i, x, y)))

  // ---- ragmerge fixture ----
  // Three regions: A (label 1, top-left of the T-split), B (2,
  // top-right), C (3, the full-width bottom). Region values make the
  // A-B boundary always weak (|20-22| -> Sobel ~8 << thresh 100), so
  // A+B merge first; the combined (AB)-C edge is the count-weighted
  // mean of the A-C and B-C boundary strengths (the _weight_boundary
  // recomputation) — below thresh for even i (C = 25, all three merge
  // to label 1) and far above for odd i (C = 150, the bottom stays
  // label 3). Corner/junction Sobel cross-terms are bounded well away
  // from the 100 threshold in both parities.
  def ragSplitX(i: Long): Int = 32 + 4 * (i % 4).toInt
  def ragSplitY(i: Long): Int = 24 + 2 * (i % 3).toInt

  def ragSegValue(i: Long, x: Int, y: Int): Float =
    if (y < ragSplitY(i)) { if (x < ragSplitX(i)) 1f else 2f } else 3f

  def ragImgValue(i: Long, x: Int, y: Int): Float =
    if (y >= ragSplitY(i)) { if (i % 2 == 0) 25f else 150f }
    else if (x < ragSplitX(i)) 20f
    else 22f

  def ragSegImages(n: Int): IndexedSeq[ImageRow] = (0 until n).map { i =>
    fixture(i, s"rag seg $i", rawLe = true)((_, x, y) => ragSegValue(i, x, y))
  }

  def ragImages(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"rag raster $i")((_, x, y) => ragImgValue(i, x, y)))

  // ---- training-mask fixture (CNN chip collection / maskblock) ----
  // Zero background with labeled patches: pixel (x, y) of mask i is
  // class (x/8 + y/6 + i) % 3 + 1 on the 16x12-granular patch lattice
  // where (x/16 + y/12 + i) % 4 == 0, else 0 — so chips mix all-zero,
  // single-class and multi-class windows and every chip's max label is
  // closed-form.
  def maskValue(i: Long, x: Int, y: Int): Float =
    if ((x / 16 + y / 12 + i) % 4 == 0) ((x / 8 + y / 6 + i) % 3 + 1).toFloat
    else 0f

  def maskImages(n: Int): IndexedSeq[ImageRow] =
    (0 until n).map(i => fixture(i, s"mask $i")((_, x, y) => maskValue(i, x, y)))

  /** DuckDB CTE of the mask-fixture pixels: (i, x, y, mv). */
  def maskSql(n: Int): String =
    s"""mpx AS (
       |  SELECT i, x, y,
       |    CASE WHEN (x // 16 + y // 12 + i) % 4 = 0
       |         THEN CAST((x // 8 + y // 6 + i) % 3 + 1 AS DOUBLE)
       |         ELSE CAST(0 AS DOUBLE) END AS mv
       |  FROM generate_series(0, ${n - 1}) t(i),
       |       generate_series(0, ${W - 1}) tx(x),
       |       generate_series(0, ${H - 1}) ty(y))""".stripMargin

  /** `nLoc` locations, two images each (i and i+nLoc share a footprint) —
    * the mosaic fixture. */
  def overlapping(nLoc: Int, bands: Int = 1): IndexedSeq[ImageRow] =
    (0 until 2 * nLoc).map { i =>
      val loc = i % nLoc
      imageAt(i.toLong, bands, xMin0 = loc * 256.0, yMax0 = 0.0)
    }

  /** DuckDB CTE producing the identical pixel relation:
    * (i, image_id, b, x, y, v, wx, wy) for n images with the standard
    * placement — wx/wy are pixel-CENTER world coordinates. */
  def pxSql(n: Int, bands: Int): String =
    s"""px AS (
       |  SELECT i, printf('g%03d', i) AS image_id, b, x, y,
       |         CAST((x*7 + y*13 + b*31 + i*17) % 97 AS DOUBLE) AS v,
       |         (i % 8) * 256 + x + CAST(0.5 AS DOUBLE) AS wx,
       |         (i // 8) * 256 - y - CAST(0.5 AS DOUBLE) AS wy
       |  FROM generate_series(0, ${n - 1}) t(i),
       |       generate_series(0, ${bands - 1}) tb(b),
       |       generate_series(0, ${W - 1}) tx(x),
       |       generate_series(0, ${H - 1}) ty(y))""".stripMargin
}
