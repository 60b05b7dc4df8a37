package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.gen.Synth

/** Deterministic property loops (scalatestplus isn't in the offline
  * cache, so seeded exhaustion replaces ScalaCheck's forAll). */
trait SeededProps { self: AnyFunSuite =>
  def forSeeds(n: Int)(f: Synth.Rng => Unit): Unit =
    (0 until n).foreach(i => f(new Synth.Rng(0xabc123L + i * 7919L)))
}

class PixelCodecSpec extends AnyFunSuite with SeededProps {

  test("raw-le and rle round-trip losslessly") {
    forSeeds(30) { rng =>
      val w = 1 + rng.nextInt(40); val h = 1 + rng.nextInt(40)
      val nb = 1 + rng.nextInt(4)
      val bands = Array.tabulate(nb)(b => Synth.pixels(rng.nextLong(), w, h, b))
      for (fmt <- Seq(PixelCodec.FmtRawLe, PixelCodec.FmtRle)) {
        val dec = PixelCodec.decode(PixelCodec.encode(fmt, w, h, bands), fmt, w, h)
        assert(dec.bands.length == nb)
        dec.bands.zip(bands).foreach { case (a, b) => assert(a.sameElements(b)) }
      }
    }
  }

  test("qnt8 round-trip meets the PSNR >= 40 dB invariant (BASELINE.json:15)") {
    for (seed <- 0L until 20L) {
      val w = 64; val h = 48
      val bands = Array.tabulate(3)(b => Synth.pixels(seed, w, h, b))
      val dec = PixelCodec.decode(PixelCodec.encode(PixelCodec.FmtQnt8, w, h, bands),
        PixelCodec.FmtQnt8, w, h)
      bands.zip(dec.bands).foreach { case (a, b) =>
        assert(PixelCodec.psnr(a, b) >= 40.0, s"PSNR < 40 for seed $seed")
      }
    }
  }

  test("phash is stable under qnt8 lossy round-trip") {
    for (seed <- 0L until 20L) {
      val w = 128; val h = 128
      val band = Synth.pixels(seed, w, h, 0)
      val dec = PixelCodec.decode(
        PixelCodec.encode(PixelCodec.FmtQnt8, w, h, Array(band)), PixelCodec.FmtQnt8, w, h)
      assert(PixelCodec.phash64(w, h, band) == PixelCodec.phash64(w, h, dec.bands(0)))
    }
  }

  test("rle compresses constant images and decodes them exactly") {
    val flat = Array.fill(100 * 100)(7.0f)
    val enc = PixelCodec.encode(PixelCodec.FmtRle, 100, 100, Array(flat))
    assert(enc.length < 100) // one run
    assert(PixelCodec.decode(enc, PixelCodec.FmtRle, 100, 100).bands(0).sameElements(flat))
  }
}

class GeomSpec extends AnyFunSuite with SeededProps {
  val square: Geom.Rings = Array(Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)))
  val holed: Geom.Rings = Array(
    Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)),
    Array((3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0)))
  val concaveL: Geom.Rings = Array(Array(
    (0.0, 0.0), (8.0, 0.0), (8.0, 3.0), (3.0, 3.0), (3.0, 8.0), (0.0, 8.0)))

  test("PIP: square basics incl. boundary convention (boundary = inside)") {
    assert(Geom.pointInPolygon(5, 5, square))
    assert(!Geom.pointInPolygon(-1, 5, square))
    assert(!Geom.pointInPolygon(11, 5, square))
    assert(Geom.pointInPolygon(0, 5, square))   // edge
    assert(Geom.pointInPolygon(10, 10, square)) // vertex
  }

  test("PIP: hole excluded, shell kept") {
    assert(Geom.pointInPolygon(1, 1, holed))
    assert(!Geom.pointInPolygon(5, 5, holed)) // in hole
    assert(Geom.pointInPolygon(3, 3, holed)) // hole boundary = on edge = inside
  }

  test("PIP: concave L") {
    assert(Geom.pointInPolygon(1, 1, concaveL))
    assert(Geom.pointInPolygon(7, 1, concaveL))
    assert(Geom.pointInPolygon(1, 7, concaveL))
    assert(!Geom.pointInPolygon(6, 6, concaveL)) // notch
  }

  test("PIP: ray-cast agrees with winding number on random convex polys") {
    forSeeds(200) { rng =>
      val nv = 3 + rng.nextInt(7)
      val ring = Array.tabulate(nv) { v =>
        val ang = 2 * math.Pi * v / nv
        val rr = 5 + rng.nextDouble() * 5
        (rr * math.cos(ang), rr * math.sin(ang))
      }
      val rings: Geom.Rings = Array(ring)
      for (_ <- 0 until 20) {
        val px = rng.nextDouble() * 24 - 12
        val py = rng.nextDouble() * 24 - 12
        val rc = Geom.pointInPolygon(px, py, rings)
        val wn = Geom.windingNumber(px, py, rings) != 0
        assert(rc == wn, s"disagree at ($px,$py)")
      }
    }
  }

  test("PIP: packed form decision-identical to tuple form (incl. boundary/edge points)") {
    // the tuple-ring entry point packs through PackedPoly; on random
    // polygons + deliberate on-edge/on-vertex probes it must decide
    // exactly as the kernel called on hand-packed arrays, including the
    // boundary band the onSegment guard splits
    val shapes: Seq[Geom.Rings] = Seq(square, holed, concaveL)
    shapes.foreach { rings =>
      val xss = rings.map(_.map(_._1)); val yss = rings.map(_.map(_._2))
      // probe a dense grid plus every vertex and edge midpoint
      val probes = (for (x <- -2 to 12; y <- -2 to 12) yield (x * 1.0, y * 0.98)) ++
        rings.flatMap(_.toSeq) ++
        rings.flatMap(r => r.indices.map { i =>
          val (ax, ay) = r(i); val (bx, by) = r((i + 1) % r.length)
          ((ax + bx) / 2, (ay + by) / 2)
        })
      probes.foreach { case (px, py) =>
        assert(Geom.pointInPolygon(px, py, rings) ==
          Geom.pointInPolygonPacked(px, py, xss, yss), s"($px,$py)")
      }
    }
    forSeeds(100) { rng =>
      val nv = 3 + rng.nextInt(7)
      val ring = Array.tabulate(nv) { v =>
        val ang = 2 * math.Pi * v / nv
        val rr = 5 + rng.nextDouble() * 5
        (rr * math.cos(ang), rr * math.sin(ang))
      }
      val rings: Geom.Rings = Array(ring)
      val xss = rings.map(_.map(_._1)); val yss = rings.map(_.map(_._2))
      for (_ <- 0 until 30) {
        val px = rng.nextDouble() * 24 - 12
        val py = rng.nextDouble() * 24 - 12
        assert(Geom.pointInPolygon(px, py, rings) ==
          Geom.pointInPolygonPacked(px, py, xss, yss), s"($px,$py)")
      }
    }
  }

  /** Distance from (px, py) to segment a-b: the test-side "on the
    * boundary" reference, independent of the kernel's onSegment. */
  private def segDist(px: Double, py: Double, ax: Double, ay: Double,
                      bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0) 0.0 else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    math.hypot(px - (ax + t * dx), py - (ay + t * dy))
  }

  private def onBoundary(px: Double, py: Double, rings: Geom.Rings): Boolean =
    rings.exists(r => r.indices.exists { i =>
      val (ax, ay) = r(i); val (bx, by) = r((i + 1) % r.length)
      segDist(px, py, ax, ay, bx, by) < 1e-9
    })

  /** Per-ring winding parity: inside iff an odd number of rings wind
    * around the point — holes excluded whichever way they wind. */
  private def windingParity(px: Double, py: Double, rings: Geom.Rings): Boolean =
    rings.count(r => Geom.windingNumber(px, py, Array(r)) != 0) % 2 == 1

  test("PIP: on-edge and on-vertex probes read as inside; off the boundary the kernel == winding parity") {
    // fixed shapes: a dense grid (some of it on edges) plus every vertex,
    // edge midpoint and edge third, through the packed kernel
    val shapes: Seq[Geom.Rings] = Seq(square, holed, concaveL)
    shapes.foreach { rings =>
      val poly = Geom.PackedPoly(rings)
      val onEdge = rings.flatMap(_.toSeq) ++
        rings.flatMap(r => r.indices.flatMap { i =>
          val (ax, ay) = r(i); val (bx, by) = r((i + 1) % r.length)
          Seq(((ax + bx) / 2, (ay + by) / 2), (ax + (bx - ax) / 3, ay + (by - ay) / 3))
        })
      onEdge.foreach { case (px, py) =>
        assert(onBoundary(px, py, rings))
        assert(poly.contains(px, py), s"boundary ($px,$py)")
      }
      for (x <- -2 to 12; y <- -2 to 12) {
        val (px, py) = (x * 1.0, y * 0.98)
        val want = onBoundary(px, py, rings) || windingParity(px, py, rings)
        assert(Geom.pointInPolygonPacked(px, py, poly.xss, poly.yss) == want, s"($px,$py)")
      }
    }
    // random convex polygons: random probes against the winding number,
    // random points along each edge must read as inside
    forSeeds(100) { rng =>
      val nv = 3 + rng.nextInt(7)
      val ring = Array.tabulate(nv) { v =>
        val ang = 2 * math.Pi * v / nv
        val rr = 5 + rng.nextDouble() * 5
        (rr * math.cos(ang), rr * math.sin(ang))
      }
      val rings: Geom.Rings = Array(ring)
      val poly = Geom.PackedPoly(rings)
      for (_ <- 0 until 30) {
        val px = rng.nextDouble() * 24 - 12
        val py = rng.nextDouble() * 24 - 12
        if (!onBoundary(px, py, rings))
          assert(poly.contains(px, py) == (Geom.windingNumber(px, py, rings) != 0), s"($px,$py)")
      }
      ring.indices.foreach { i =>
        val (ax, ay) = ring(i); val (bx, by) = ring((i + 1) % nv)
        val t = rng.nextDouble()
        val (px, py) = (ax + t * (bx - ax), ay + t * (by - ay))
        assert(poly.contains(px, py), s"edge $i at t=$t: ($px,$py)")
      }
    }
  }

  test("PIP fallback: same-winding hole + grazing scanline classifies correctly") {
    // exterior has a collinear vertex at y=50, so the y=50 scanline is
    // "ambiguous" and takes the fallback; the hole winds the SAME way as
    // the exterior (like the Synth 'holed' fixture) — the old summed
    // winding number returned 2 (inside); per-ring parity must say outside
    // (the expression-path half lives in SpatialFunctionsSpec)
    val rings: Geom.Rings = Array(
      Array((0.0, 0.0), (100.0, 0.0), (100.0, 50.0), (100.0, 100.0), (0.0, 100.0)),
      Array((20.0, 20.0), (80.0, 20.0), (80.0, 80.0), (20.0, 80.0)))
    assert(!Geom.pointInPolygon(50.0, 50.0, rings), "inside the hole -> outside")
    assert(Geom.pointInPolygon(10.0, 50.0, rings), "between hole and shell -> inside")
    assert(Geom.pointInPolygon(90.0, 50.0, rings))
    assert(!Geom.pointInPolygon(-5.0, 50.0, rings))
  }

  test("PIP == JTS covers on random star polygons + holed rings (off-boundary)") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf = new GeometryFactory()
    val rng = new graft.gen.Synth.Rng(99L)
    var checked = 0
    for (trial <- 0 until 15) {
      val cx = rng.nextDouble() * 200 - 100
      val cy = rng.nextDouble() * 200 - 100
      val k = 3 + rng.nextInt(4)
      val nv = 12 + rng.nextInt(20)
      val ring = Array.tabulate(nv) { v =>
        val ang = 2 * math.Pi * v / nv
        val r = 30.0 * (1.0 + 0.45 * math.sin(k * ang))
        (cx + r * math.cos(ang), cy + r * math.sin(ang))
      }
      // every other trial adds a SAME-WINDING square hole at the center
      val rings: Geom.Rings =
        if (trial % 2 == 0) Array(ring)
        else Array(ring, Array((cx - 5.0, cy - 5.0), (cx + 5.0, cy - 5.0),
          (cx + 5.0, cy + 5.0), (cx - 5.0, cy + 5.0)))
      val poly = Geom.PackedPoly(rings)
      val jts = graft.operators.VectorOps.toJts(rings)
      val boundary = jts.getBoundary
      for (_ <- 0 until 200) {
        val px = cx + rng.nextDouble() * 120 - 60
        val py = cy + rng.nextDouble() * 120 - 60
        val pt = gf.createPoint(new Coordinate(px, py))
        if (boundary.distance(pt) > 1e-6) { // off-boundary: conventions agree
          assert(poly.contains(px, py) == jts.covers(pt),
            s"trial $trial point ($px, $py)")
          checked += 1
        }
      }
    }
    assert(checked > 2500)
  }

  test("area / perimeter / centroid on known shapes") {
    assert(math.abs(Geom.area(square) - 100.0) < 1e-9)
    assert(math.abs(Geom.area(holed) - 84.0) < 1e-9)
    assert(math.abs(Geom.perimeter(square) - 40.0) < 1e-9)
    val (cx, cy) = Geom.centroid(square)
    assert(math.abs(cx - 5) < 1e-9 && math.abs(cy - 5) < 1e-9)
  }

  test("minAreaRect of an axis-aligned rectangle") {
    val pts = Array((0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (0.0, 2.0), (2.0, 1.0))
    val (major, minor, ang) = Geom.minAreaRect(pts)
    assert(math.abs(major - 4.0) < 1e-9 && math.abs(minor - 2.0) < 1e-9)
    // the major (4-unit) axis lies along x: angle ~ 0, not pi/2
    assert(math.abs(ang) < 1e-9, s"angle $ang must pair with the MAJOR axis")
    // a TALL rectangle: major axis along y -> angle ~ +-pi/2... which
    // normalizes into (-pi/2, pi/2] as pi/2
    val tall = Array((0.0, 0.0), (2.0, 0.0), (2.0, 4.0), (0.0, 4.0))
    val (ma2, mi2, ang2) = Geom.minAreaRect(tall)
    assert(math.abs(ma2 - 4.0) < 1e-9 && math.abs(mi2 - 2.0) < 1e-9)
    assert(math.abs(math.abs(ang2) - math.Pi / 2) < 1e-9,
      s"tall rect: angle $ang2 must be a quarter turn, not 0")
  }

  test("codec: RLE NaN runs compress and -0.0 round-trips bit-exactly") {
    import graft.core.PixelCodec
    val band = Array(Float.NaN, Float.NaN, Float.NaN, Float.NaN,
      0.0f, -0.0f, 1f, 1f, 1f, 2f, Float.NaN, Float.NaN, 3f, 3f, 4f, 5f)
    val enc = PixelCodec.encode(PixelCodec.FmtRle, 4, 4, Array(band))
    val dec = PixelCodec.decode(enc, PixelCodec.FmtRle, 4, 4).bands(0)
    band.indices.foreach { i =>
      assert(java.lang.Float.floatToRawIntBits(dec(i)) ==
             java.lang.Float.floatToRawIntBits(band(i)),
        s"i=$i: ${dec(i)} != ${band(i)} (bit-exact lossless contract)")
    }
    // 9 runs (NaN x4 | 0.0 | -0.0 | 1 x3 | 2 | NaN x2 | 3 x2 | 4 | 5):
    // the NaN runs merge (float == would emit 6 singleton NaN pairs ->
    // 97 bytes) and +-0.0 stay SEPARATE runs (== would fuse them)
    assert(enc.length == 1 + 9 * 8, s"unexpected run structure: ${enc.length}")
  }

  test("codec: qnt8 rejects non-finite pixels loudly") {
    import graft.core.PixelCodec
    val nan = Array(1f, Float.NaN, 3f, 4f)
    val ex = intercept[IllegalArgumentException] {
      PixelCodec.encode(PixelCodec.FmtQnt8, 2, 2, Array(nan))
    }
    assert(ex.getMessage.contains("non-finite"))
    val inf = Array(1f, Float.PositiveInfinity, 3f, 4f)
    intercept[IllegalArgumentException] {
      PixelCodec.encode(PixelCodec.FmtQnt8, 2, 2, Array(inf))
    }
  }

  test("rectIntersectsPolygon: disjoint, contained, crossing") {
    val sq = Geom.PackedPoly(square)
    assert(Geom.rectIntersectsPolygon(Geom.BBox(2, 2, 3, 3), sq))    // inside
    assert(Geom.rectIntersectsPolygon(Geom.BBox(-2, -2, 1, 1), sq))  // crossing
    assert(!Geom.rectIntersectsPolygon(Geom.BBox(20, 20, 30, 30), sq))
    assert(Geom.rectIntersectsPolygon(Geom.BBox(-5, -5, 15, 15), sq)) // contains poly
    assert(!Geom.rectIntersectsPolygon(Geom.BBox(4.5, 4.5, 5.5, 5.5), Geom.PackedPoly(holed))) // in hole
  }

  test("rectInsidePolygon: interior, crossing, around a hole, past the bbox") {
    val sq = Geom.PackedPoly(square); val ho = Geom.PackedPoly(holed)
    assert(Geom.rectInsidePolygon(Geom.BBox(2, 2, 3, 3), sq))
    assert(!Geom.rectInsidePolygon(Geom.BBox(0, 0, 10, 10), sq))       // vertices on the rect
    assert(!Geom.rectInsidePolygon(Geom.BBox(-2, -2, 1, 1), sq))       // crossing
    assert(!Geom.rectInsidePolygon(Geom.BBox(2, 2, 10.5, 3), sq))      // past the bbox
    assert(Geom.rectInsidePolygon(Geom.BBox(0.5, 0.5, 2.5, 2.5), ho))  // shell only
    assert(!Geom.rectInsidePolygon(Geom.BBox(1, 1, 9, 9), ho))         // hole inside the rect
    assert(!Geom.rectInsidePolygon(Geom.BBox(4.5, 4.5, 5.5, 5.5), ho)) // in the hole
    val el = Geom.PackedPoly(concaveL)
    assert(Geom.rectInsidePolygon(Geom.BBox(1, 1, 7, 2), el))          // along one arm
    assert(!Geom.rectInsidePolygon(Geom.BBox(1, 1, 6, 6), el))         // corner in the notch
  }
}

class GridIndexSpec extends AnyFunSuite with SeededProps {
  test("cell round-trip: point is inside its cell bounds") {
    forSeeds(300) { rng =>
      val x = rng.nextDouble() * 8000 - 4000
      val y = rng.nextDouble() * 8000 - 4000
      val res = 4 + rng.nextInt(17)
      val c = GridIndex.cellId(x, y, res)
      val b = GridIndex.cellBounds(c)
      assert(x >= b.x0 && x < b.x1 + 1e-9 && y >= b.y0 && y < b.y1 + 1e-9)
      assert(GridIndex.res(c) == res)
    }
  }

  test("parent contains child and equals re-encode at res-1") {
    forSeeds(300) { rng =>
      val x = rng.nextDouble() * 8000 - 4000
      val y = rng.nextDouble() * 8000 - 4000
      val res = 5 + rng.nextInt(16)
      val c = GridIndex.cellId(x, y, res)
      val p = GridIndex.parent(c)
      val pb = GridIndex.cellBounds(p); val cb = GridIndex.cellBounds(c)
      assert(pb.x0 <= cb.x0 && pb.x1 >= cb.x1 && pb.y0 <= cb.y0 && pb.y1 >= cb.y1)
      assert(p == GridIndex.cellId(x, y, res - 1))
    }
  }

  test("kRing size and coverage guarantee") {
    val c = GridIndex.cellId(100, 100, 12)
    assert(GridIndex.kRing(c, 0).sameElements(Array(c)))
    assert(GridIndex.kRing(c, 1).length == 9)
    assert(GridIndex.kRing(c, 2).length == 25)
    assert(GridIndex.ring(c, 1).length == 8)
    assert(GridIndex.ring(c, 2).length == 16)
    // any point within distance <2*size of a point in the center cell
    // is inside kRing(2) of that cell
    val size = GridIndex.cellSize(12).toDouble
    val ring2 = GridIndex.kRing(c, 2).toSet
    for (ang <- 0 until 16) {
      val d = 1.9 * size
      val x = 100 + d * math.cos(ang * math.Pi / 8)
      val y = 100 + d * math.sin(ang * math.Pi / 8)
      assert(ring2.contains(GridIndex.cellId(x, y, 12)))
    }
  }

  test("coverBBox covers every sampled interior point") {
    val b = Geom.BBox(-17.3, 22.1, 140.9, 260.0)
    val cover = GridIndex.coverBBox(b, 14).toSet
    val rng = new Synth.Rng(5)
    for (_ <- 0 until 200) {
      val x = b.x0 + rng.nextDouble() * (b.x1 - b.x0)
      val y = b.y0 + rng.nextDouble() * (b.y1 - b.y0)
      assert(cover.contains(GridIndex.cellId(x, y, 14)))
    }
  }

  test("coverPolygon: covers interior points, prunes vs bbox cover") {
    val rings: Geom.Rings = Array(Array((0.0, 0.0), (100.0, 0.0), (0.0, 100.0)))
    val cover = GridIndex.coverPolygon(Geom.PackedPoly(rings), 15).toSet
    val bboxCover = GridIndex.coverBBox(Geom.bbox(rings), 15).toSet
    assert(cover.subsetOf(bboxCover))
    assert(cover.size < bboxCover.size) // triangle: strictly smaller
    val rng = new Synth.Rng(9)
    for (_ <- 0 until 300) {
      val x = rng.nextDouble() * 100; val y = rng.nextDouble() * 100
      if (Geom.pointInPolygon(x, y, rings))
        assert(cover.contains(GridIndex.cellId(x, y, 15)))
    }
  }

  test("coverBBox fail-fasts on a cell cover past the per-feature cap") {
    // whole-world bbox at the finest res: the Long product vastly
    // exceeds MaxCoverCells and must fail loudly, not allocate
    val huge = Geom.BBox(-260000, -260000, 260000, 260000)
    val e = intercept[IllegalArgumentException] {
      GridIndex.coverBBox(huge, GridIndex.MaxRes)
    }
    assert(e.getMessage.contains("coarsen the grid res"))
    // normal covers still work
    assert(GridIndex.coverBBox(Geom.BBox(0, 0, 100, 100), 14).nonEmpty)
  }
}

class S2Spec extends AnyFunSuite with SeededProps {
  private def randLatLng(rng: Synth.Rng): (Double, Double) =
    (rng.nextDouble() * 179.8 - 89.9, rng.nextDouble() * 359.8 - 179.9)

  test("face uv <-> xyz round-trips") {
    forSeeds(500) { rng =>
      val (lat, lng) = randLatLng(rng)
      val (x, y, z) = S2.latLngToXyz(lat, lng)
      val (f, u, v) = S2.xyzToFaceUv(x, y, z)
      val (x2, y2, z2) = S2.faceUvToXyz(f, u, v)
      val n = math.sqrt(x2 * x2 + y2 * y2 + z2 * z2)
      assert(math.abs(x2 / n - x) < 1e-12 && math.abs(y2 / n - y) < 1e-12 &&
        math.abs(z2 / n - z) < 1e-12)
    }
  }

  test("st <-> uv round-trips") {
    forSeeds(500) { rng =>
      val s = rng.nextDouble()
      assert(math.abs(S2.uvToSt(S2.stToUv(s)) - s) < 1e-12)
    }
  }

  test("level arithmetic and parent prefix containment") {
    forSeeds(300) { rng =>
      val (lat, lng) = randLatLng(rng)
      val lev = 1 + rng.nextInt(30)
      val id = S2.cellId(lat, lng, lev)
      assert(S2.level(id) == lev)
      val par = S2.parent(id, lev - 1)
      assert(S2.level(par) == lev - 1)
      assert(S2.contains(par, id))
    }
  }

  test("cell id is stable for its own center (decode/encode round trip)") {
    forSeeds(300) { rng =>
      val (lat, lng) = randLatLng(rng)
      val lev = rng.nextInt(29)
      val id = S2.cellId(lat, lng, lev)
      val (clat, clng) = S2.cellCenterLatLng(id)
      assert(S2.cellId(clat, clng, lev) == id, s"center re-encode mismatch at level $lev")
    }
  }

  test("containment transitivity across levels") {
    forSeeds(100) { rng =>
      val (lat, lng) = randLatLng(rng)
      val leaf = S2.leafCellId(lat, lng)
      for (lev <- 0 to 29) assert(S2.contains(S2.parent(leaf, lev), leaf))
    }
  }

  test("nearby points at fine level get distinct ids; same point same id") {
    val a = S2.cellId(47.6062, -122.3321, 20)
    val b = S2.cellId(47.6062, -122.3321, 20)
    val c = S2.cellId(47.7062, -122.3321, 20)
    assert(a == b && a != c)
  }

  test("circumradiusBound dominates measured center-to-corner distances (levels 0..12)") {
    def angle(a: (Double, Double), b: (Double, Double)): Double = {
      val (x1, y1, z1) = S2.latLngToXyz(a._1, a._2)
      val (x2, y2, z2) = S2.latLngToXyz(b._1, b._2)
      math.acos(math.max(-1.0, math.min(1.0, x1 * x2 + y1 * y2 + z1 * z2)))
    }
    for (lev <- 0 to 12) {
      var worst = 0.0
      forSeeds(200) { rng =>
        val (lat, lng) = randLatLng(rng)
        val id = S2.cellId(lat, lng, lev)
        val center = S2.cellCenterLatLng(id)
        // cells are convex spherical quads: the farthest point is a corner
        S2.cellVertexLatLngs(id).foreach(v => worst = math.max(worst, angle(center, v)))
      }
      assert(worst < S2.circumradiusBound(lev),
        f"level $lev: measured $worst%.4f >= bound ${S2.circumradiusBound(lev)}%.4f")
    }
  }

  test("coverLatLngRect never misses a contained point's cell (incl. polar/antimeridian-adjacent)") {
    val rects = Seq(
      (10.0, 20.0, 30.0, 55.0), (-5.0, 5.0, -1.0, 1.0),
      (60.0, 85.0, -170.0, -100.0),   // high latitude
      (78.0, 89.5, 0.0, 40.0),        // near-polar
      (-89.0, -70.0, 100.0, 179.5),   // south polar band to the antimeridian
      (-30.0, 40.0, -179.9, -140.0))  // hugging the antimeridian
    for ((la0, la1, lo0, lo1) <- rects; lev <- Seq(4, 6, 8)) {
      val cover = S2.coverLatLngRect(la0, la1, lo0, lo1, lev).toSet
      assert(cover.nonEmpty)
      forSeeds(300) { rng =>
        val lat = la0 + rng.nextDouble() * (la1 - la0)
        val lng = lo0 + rng.nextDouble() * (lo1 - lo0)
        assert(cover.contains(S2.cellId(lat, lng, lev)),
          s"point ($lat, $lng) cell missing from cover of [$la0,$la1]x[$lo0,$lo1] @ $lev")
      }
    }
  }
}

class HexSpec extends AnyFunSuite with SeededProps {
  test("point -> cell -> center -> cell is stable") {
    forSeeds(300) { rng =>
      val x = rng.nextDouble() * 80000 - 40000
      val y = rng.nextDouble() * 80000 - 40000
      val res = rng.nextInt(13)
      val c = Hex.cellId(x, y, res)
      val (cx, cy) = Hex.center(c)
      assert(Hex.cellId(cx, cy, res) == c)
      assert(math.hypot(cx - x, cy - y) <= Hex.size(res) + 1e-6)
    }
  }

  test("kRing sizes follow 3k(k+1)+1 and contain the origin cell") {
    val c = Hex.cellId(12.3, 45.6, 9)
    assert(Hex.kRing(c, 0).sameElements(Array(c)))
    assert(Hex.kRing(c, 1).length == 7)
    assert(Hex.kRing(c, 2).length == 19)
    assert(Hex.kRing(c, 3).length == 37)
    assert(Hex.kRing(c, 2).contains(c))
  }

  test("kRing(k) = all cells with gridDistance <= k") {
    val c = Hex.cellId(-500.0, 300.0, 8)
    val ring = Hex.kRing(c, 3)
    assert(ring.forall(o => Hex.gridDistance(c, o) <= 3))
    assert(ring.count(o => Hex.gridDistance(c, o) == 3) == 18)
  }

  test("geometric parent is one resolution up and nearby") {
    forSeeds(300) { rng =>
      val x = rng.nextDouble() * 80000 - 40000
      val y = rng.nextDouble() * 80000 - 40000
      val res = 1 + rng.nextInt(12)
      val c = Hex.cellId(x, y, res)
      val p = Hex.parent(c)
      assert(Hex.res(p) == res - 1)
      val (px2, py2) = Hex.center(p)
      val (cx, cy) = Hex.center(c)
      assert(math.hypot(px2 - cx, py2 - cy) <= Hex.size(res - 1) + 1e-6)
    }
  }

  test("kNN guarantee: points within 2.9*minWidth of center are in kRing(4)") {
    val res = 8
    val c = Hex.cellId(777.7, -333.3, res)
    val (cx, cy) = Hex.center(c)
    val minWidth = Hex.size(res) * math.sqrt(3.0)
    val ring = Hex.kRing(c, 4).toSet
    for (ang <- 0 until 24) {
      val d = 2.9 * minWidth
      val p = Hex.cellId(cx + d * math.cos(ang * math.Pi / 12),
        cy + d * math.sin(ang * math.Pi / 12), res)
      assert(ring.contains(p), s"angle $ang")
    }
  }
}
