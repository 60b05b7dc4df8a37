package graft.core

/**
 * Planar geometry kernel. The reference does all raster<->vector geometry
 * in the raster's projected CRS (geotransform math,
 * /root/reference/geospatial_learn/shape.py:551-619 and
 * shape.py:2589-2593), i.e. planar — so the exact predicates here are
 * planar too; the spherical S2/hex indexes are only coarse partitioning
 * keys, never the correctness predicate.
 *
 * Point-in-polygon is ray casting with a winding-number fallback for
 * boundary ambiguity, per the north rule (BASELINE.json). Polygons follow
 * FIXTURES.md §3: `rings(0)` = exterior, others = holes; even-odd over
 * all rings implements holes naturally. There is ONE kernel,
 * [[pointInPolygonPacked]] over [[PackedPoly]] rings; the tuple-ring
 * form and the Catalyst path (`PipRuntime`) go through its edge test.
 */
object Geom {

  final case class BBox(x0: Double, y0: Double, x1: Double, y1: Double) {
    def intersects(o: BBox): Boolean = x0 <= o.x1 && o.x0 <= x1 && y0 <= o.y1 && o.y0 <= y1
    def contains(x: Double, y: Double): Boolean = x >= x0 && x <= x1 && y >= y0 && y <= y1
  }

  /** rings: ring -> vertex -> (x, y). Rings need not repeat the first
    * vertex; closure is implicit. */
  type Rings = Array[Array[(Double, Double)]]

  /** Bounding box of all ring vertices; inverted (x0 > x1) for no
    * vertices. */
  def bbox(rings: Rings): BBox = PackedPoly(rings).box

  /** A polygon's rings packed once into per-ring flat vertex arrays
    * (`xss(r)(i)`, `yss(r)(i)`), with its bbox — the one form every PIP
    * caller tests against. Build it once per polygon (never per pixel):
    * the per-pixel kernel then reads doubles from contiguous arrays
    * instead of chasing a Tuple2 pointer per vertex. */
  final case class PackedPoly(xss: Array[Array[Double]], yss: Array[Array[Double]],
                              box: BBox) {
    def contains(px: Double, py: Double): Boolean = pointInPolygonPacked(px, py, xss, yss)
  }

  object PackedPoly {
    def apply(rings: Rings): PackedPoly =
      packed(rings.map(_.map(_._1)), rings.map(_.map(_._2)))
    def apply(rings: Array[Array[graft.Pt]]): PackedPoly =
      packed(rings.map(_.map(_.x)), rings.map(_.map(_.y)))

    private def packed(xss: Array[Array[Double]], yss: Array[Array[Double]]): PackedPoly = {
      var x0 = Double.MaxValue; var y0 = Double.MaxValue
      var x1 = Double.MinValue; var y1 = Double.MinValue
      xss.foreach(_.foreach { x => if (x < x0) x0 = x; if (x > x1) x1 = x })
      yss.foreach(_.foreach { y => if (y < y0) y0 = y; if (y > y1) y1 = y })
      PackedPoly(xss, yss, BBox(x0, y0, x1, y1))
    }
  }

  private val Eps = 1e-12

  /** True if (px,py) lies on segment (ax,ay)-(bx,by) within Eps.
    * The threshold Eps * max(1, hypot(dx, dy)) is DECIDED without the
    * ~100ns StrictMath.hypot call in all but a ~1e-9-relative-wide band:
    * hypot(dx,dy) lies in [m, m*sqrt2] for m = max(|dx|,|dy|), so
    * |cross| > Eps*max(1,m)*1.5 implies the original test's true branch
    * and |cross| <= Eps*max(1,m)*0.999999999 its false branch; only the
    * in-between band (never hit by real data) computes the exact hypot
    * — result identical to the unguarded form for EVERY input. */
  private def onSegment(px: Double, py: Double, ax: Double, ay: Double,
                        bx: Double, by: Double): Boolean = {
    val dxe = bx - ax; val dye = by - ay
    val cross = dxe * (py - ay) - dye * (px - ax)
    val ac = math.abs(cross)
    val m = math.max(1.0, math.max(math.abs(dxe), math.abs(dye)))
    if (ac > Eps * m * 1.5) return false
    if (ac > Eps * m * 0.999999999 &&
        ac > Eps * math.max(1.0, math.hypot(dxe, dye))) return false
    val dot = (px - ax) * dxe + (py - ay) * dye
    val len2 = dxe * dxe + dye * dye
    dot >= -Eps && dot <= len2 + Eps
  }

  /** [[edgeStep]] result: the probe lies on the edge (inside). */
  final val OnEdge = -1
  /** [[edgeStep]] bit: the probe's rightward ray crosses the edge. */
  final val Crosses = 1
  /** [[edgeStep]] bit: an edge endpoint lies within Eps of the probe's
    * scanline, so the crossing count is ambiguous. */
  final val Ambiguous = 2

  /** One edge (a -> b) of the ray cast for probe (px, py): [[OnEdge]], or
    * the [[Crosses]] | [[Ambiguous]] bits. The edge test of both the
    * packed kernel and the Catalyst path (`PipRuntime`). */
  def edgeStep(px: Double, py: Double, ax: Double, ay: Double,
               bx: Double, by: Double): Int = {
    if (onSegment(px, py, ax, ay, bx, by)) return OnEdge
    val amb = if (math.abs(ay - py) < Eps || math.abs(by - py) < Eps) Ambiguous else 0
    if ((ay > py) != (by > py)) {
      val xInt = ax + (py - ay) / (by - ay) * (bx - ax)
      if (xInt > px) return amb | Crosses
    }
    amb
  }

  /** Winding-number contribution (+1, -1 or 0) of edge a -> b around
    * (px, py). */
  def windingStep(px: Double, py: Double, ax: Double, ay: Double,
                  bx: Double, by: Double): Int = {
    val isLeft = (bx - ax) * (py - ay) - (px - ax) * (by - ay)
    if (ay <= py) { if (by > py && isLeft > 0) 1 else 0 }
    else if (by <= py && isLeft < 0) -1 else 0
  }

  /** [[pointInPolygonPacked]] over tuple rings, packed per call — for
    * one-off tests; per-pixel callers hold a [[PackedPoly]]. */
  def pointInPolygon(px: Double, py: Double, rings: Rings): Boolean =
    PackedPoly(rings).contains(px, py)

  /**
   * THE point-in-polygon kernel, over per-ring flat (xs, ys) vertex
   * arrays. Even-odd (crossing-number) test over all rings; a point
   * exactly on any edge is defined as inside (deterministic boundary
   * convention). When the crossing count is numerically ambiguous (a
   * vertex lies within Eps of the scanline), falls back to the nonzero
   * winding number, mirroring the north rule's "ray-casting with
   * winding-number fallback".
   */
  def pointInPolygonPacked(px: Double, py: Double,
                           xss: Array[Array[Double]],
                           yss: Array[Array[Double]]): Boolean = {
    var crossings = 0
    var ambiguous = 0
    var r = 0
    while (r < xss.length) {
      val xs = xss(r); val ys = yss(r)
      val n = xs.length
      var i = 0
      while (i < n) {
        val j = if (i + 1 < n) i + 1 else 0
        val s = edgeStep(px, py, xs(i), ys(i), xs(j), ys(j))
        if (s == OnEdge) return true
        crossings ^= s & Crosses
        ambiguous |= s & Ambiguous
        i += 1
      }
      r += 1
    }
    if (ambiguous == 0) crossings == Crosses
    else {
      // Orientation-independent fallback: a ring "contains" the point iff
      // its own winding number is nonzero; even-odd parity across rings
      // then implements holes REGARDLESS of how callers wind hole rings
      // (fixtures wind holes the same way as exteriors).
      var inside = false
      var r = 0
      while (r < xss.length) {
        val xs = xss(r); val ys = yss(r)
        val n = xs.length
        var wn = 0
        var i = 0
        while (i < n) {
          val j = if (i + 1 < n) i + 1 else 0
          wn += windingStep(px, py, xs(i), ys(i), xs(j), ys(j))
          i += 1
        }
        if (wn != 0) inside = !inside
        r += 1
      }
      inside
    }
  }

  /** Nonzero winding number summed across rings (holes wind opposite) —
    * an independent reference for the ray cast, used by the specs. */
  def windingNumber(px: Double, py: Double, rings: Rings): Int =
    rings.iterator.map { ring =>
      ring.indices.map { i =>
        val (ax, ay) = ring(i); val (bx, by) = ring((i + 1) % ring.length)
        windingStep(px, py, ax, ay, bx, by)
      }.sum
    }.sum

  /** Signed area of one ring (positive = CCW). Shoelace. */
  def signedArea(ring: Array[(Double, Double)]): Double = {
    var s = 0.0
    val n = ring.length
    var i = 0
    while (i < n) {
      val (ax, ay) = ring(i); val (bx, by) = ring((i + 1) % n)
      s += ax * by - bx * ay
      i += 1
    }
    s / 2.0
  }

  /** Polygon area: |exterior| minus hole areas (reference `shape_props`
    * "Area", /root/reference/geospatial_learn/shape.py:399-469). */
  def area(rings: Rings): Double =
    rings.iterator.zipWithIndex.map { case (rg, i) =>
      val a = math.abs(signedArea(rg)); if (i == 0) a else -a
    }.sum

  def perimeter(rings: Rings): Double =
    rings.iterator.map { rg =>
      val n = rg.length
      (0 until n).map { i =>
        val (ax, ay) = rg(i); val (bx, by) = rg((i + 1) % n)
        math.hypot(bx - ax, by - ay)
      }.sum
    }.sum

  /** Area-weighted centroid of the exterior ring. */
  def centroid(rings: Rings): (Double, Double) = {
    val ring = rings(0)
    val a = signedArea(ring)
    if (math.abs(a) < Eps) {
      val n = ring.length
      return (ring.map(_._1).sum / n, ring.map(_._2).sum / n)
    }
    var cx = 0.0; var cy = 0.0
    val n = ring.length
    var i = 0
    while (i < n) {
      val (ax, ay) = ring(i); val (bx, by) = ring((i + 1) % n)
      val w = ax * by - bx * ay
      cx += (ax + bx) * w; cy += (ay + by) * w
      i += 1
    }
    (cx / (6 * a), cy / (6 * a))
  }

  /** Monotone-chain convex hull (input order irrelevant, collinear dropped). */
  def convexHull(pts: Array[(Double, Double)]): Array[(Double, Double)] = {
    val p = pts.distinct.sortBy(t => (t._1, t._2))
    if (p.length <= 2) return p
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val hull = new scala.collection.mutable.ArrayBuffer[(Double, Double)]
    for (pt <- p) {
      while (hull.length >= 2 && cross(hull(hull.length - 2), hull.last, pt) <= 0)
        hull.remove(hull.length - 1)
      hull += pt
    }
    val lower = hull.length + 1
    for (pt <- p.reverseIterator) {
      while (hull.length >= lower && cross(hull(hull.length - 2), hull.last, pt) <= 0)
        hull.remove(hull.length - 1)
      hull += pt
    }
    hull.remove(hull.length - 1)
    hull.toArray
  }

  /**
   * Minimum-area enclosing rectangle via rotating calipers over the convex
   * hull — the reference's `min_bound_rectangle`
   * (/root/reference/geospatial_learn/utilities.py:1285-1356), used by
   * `shape_props` for Major/MinorAxisLength and Eccentricity.
   * Returns (majorAxis, minorAxis, angleRadians).
   */
  def minAreaRect(pts: Array[(Double, Double)]): (Double, Double, Double) = {
    val hull = convexHull(pts)
    if (hull.length == 1) return (0.0, 0.0, 0.0)
    if (hull.length == 2) {
      val d = math.hypot(hull(1)._1 - hull(0)._1, hull(1)._2 - hull(0)._2)
      return (d, 0.0, math.atan2(hull(1)._2 - hull(0)._2, hull(1)._1 - hull(0)._1))
    }
    var best = (Double.MaxValue, 0.0, 0.0, 0.0) // area, w, h, angle
    val n = hull.length
    var i = 0
    while (i < n) {
      val (ax, ay) = hull(i); val (bx, by) = hull((i + 1) % n)
      val theta = math.atan2(by - ay, bx - ax)
      val c = math.cos(-theta); val s = math.sin(-theta)
      var x0 = Double.MaxValue; var x1 = Double.MinValue
      var y0 = Double.MaxValue; var y1 = Double.MinValue
      hull.foreach { case (x, y) =>
        val rx = x * c - y * s; val ry = x * s + y * c
        if (rx < x0) x0 = rx; if (rx > x1) x1 = rx
        if (ry < y0) y0 = ry; if (ry > y1) y1 = ry
      }
      val w = x1 - x0; val h = y1 - y0
      if (w * h < best._1) best = (w * h, w, h, theta)
      i += 1
    }
    val (_, w, h, ang) = best
    // ang is the angle of the hull edge the WIDTH was measured along;
    // when the min rectangle is taller than wide the major axis lies a
    // quarter turn away — the returned angle must pair with the major
    // axis the tuple reports (normalized to (-pi/2, pi/2])
    val majorAng = if (h > w) ang + math.Pi / 2 else ang
    val norm = {
      var a = majorAng
      while (a > math.Pi / 2) a -= math.Pi
      while (a <= -math.Pi / 2) a += math.Pi
      a
    }
    (math.max(w, h), math.min(w, h), norm)
  }

  /** Does axis-aligned rect intersect the polygon (conservative exact):
    * true if any rect corner is inside, any polygon vertex is inside the
    * rect, or any edge pair intersects. Used for cell covering. */
  def rectIntersectsPolygon(rect: BBox, poly: PackedPoly): Boolean = {
    if (!rect.intersects(poly.box)) return false
    if (poly.contains(rect.x0, rect.y0) || poly.contains(rect.x1, rect.y0) ||
        poly.contains(rect.x0, rect.y1) || poly.contains(rect.x1, rect.y1)) return true
    anyVertexInRect(rect, poly) || anyEdgeIntersectsRect(rect, poly)
  }

  /** Is the rect ENTIRELY inside the polygon (holes respected)? True only
    * when the rect sits inside the polygon's bbox, every rect corner is
    * inside, no polygon vertex lies inside the rect (a hole fully inside
    * would), and no polygon edge crosses the rect boundary — the
    * per-pixel-PIP skip condition for interior tiles. The bbox check
    * runs first, so boundary/exterior rects (the common case) skip the
    * ring scans. */
  def rectInsidePolygon(rect: BBox, poly: PackedPoly): Boolean = {
    val b = poly.box
    b.x0 <= rect.x0 && rect.x1 <= b.x1 && b.y0 <= rect.y0 && rect.y1 <= b.y1 &&
      poly.contains(rect.x0, rect.y0) && poly.contains(rect.x1, rect.y0) &&
      poly.contains(rect.x0, rect.y1) && poly.contains(rect.x1, rect.y1) &&
      !anyVertexInRect(rect, poly) && !anyEdgeIntersectsRect(rect, poly)
  }

  private def anyVertexInRect(rect: BBox, poly: PackedPoly): Boolean =
    poly.xss.indices.exists { r =>
      val xs = poly.xss(r); val ys = poly.yss(r)
      xs.indices.exists(i => rect.contains(xs(i), ys(i)))
    }

  private def anyEdgeIntersectsRect(rect: BBox, poly: PackedPoly): Boolean = {
    val cxs = Array(rect.x0, rect.x1, rect.x1, rect.x0)
    val cys = Array(rect.y0, rect.y0, rect.y1, rect.y1)
    var r = 0
    while (r < poly.xss.length) {
      val xs = poly.xss(r); val ys = poly.yss(r); val n = xs.length
      var i = 0
      while (i < n) {
        val j = if (i + 1 < n) i + 1 else 0
        var c = 0
        while (c < 4) {
          val d = (c + 1) % 4
          if (segmentsIntersect(xs(i), ys(i), xs(j), ys(j), cxs(c), cys(c), cxs(d), cys(d)))
            return true
          c += 1
        }
        i += 1
      }
      r += 1
    }
    false
  }

  private def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                                cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double) = {
      val v = (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
      if (v > Eps) 1 else if (v < -Eps) -1 else 0
    }
    val o1 = orient(ax, ay, bx, by, cx, cy); val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay); val o4 = orient(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) return true
    if (o1 == 0 && onSegment(cx, cy, ax, ay, bx, by)) return true
    if (o2 == 0 && onSegment(dx, dy, ax, ay, bx, by)) return true
    if (o3 == 0 && onSegment(ax, ay, cx, cy, dx, dy)) return true
    if (o4 == 0 && onSegment(bx, by, cx, cy, dx, dy)) return true
    false
  }
}
