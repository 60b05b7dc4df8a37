package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Geom, GridIndex, PixelCodec}
import graft.gen.{GridImages, Synth}
import graft.operators._

object TileFixtures {
  /** Hand-built 4x4 single-cell tile at origin, band b. */
  def tile(pixels: Array[Float], band: Int = 0, t: Int = 0): TileRow = {
    val cell = GridIndex.cellId(2.0, 2.0, GridIndex.MaxRes - 2) // 4-unit cell at origin
    TileRow("imgX", cell, 0, 0, x_min = 0.0, y_max = 4.0, px = 1.0,
      band = band, pixels = pixels, tw = 4, th = 4, nodata = Float.NaN)
  }
  val p0: Array[Float] = Array(
    1, 2, 3, 4,
    5, 6, 7, 8,
    9, 10, 11, 12,
    13, 14, 15, 16)
  val p1: Array[Float] = p0.map(_ * 2)

  /** Single-band raw image at the origin with 1-unit pixels. */
  def img1(id: String, b: Array[Float], w: Int, h: Int): ImageRow =
    ImageRow(id, PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(b)),
      w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, h.toDouble, 1.0)
}

class RasterOpsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import TileFixtures._

  test("maskRule applies ==/</> with replacement") {
    val df = Seq(tile(p0)).toDS.toDF()
    val lt = RasterOps.maskRule(df, "<", 5f, 0f).select("pixels")
      .as[Array[Float]].head()
    assert(lt.take(4).forall(_ == 0f) && lt(4) == 5f)
    val gt = RasterOps.maskRule(df, ">", 12f, -1f).select("pixels")
      .as[Array[Float]].head()
    assert(gt.drop(12).forall(_ == -1f) && gt(11) == 12f)
    val eq = RasterOps.maskEquals(df, 6f).select("pixels").as[Array[Float]].head()
    assert(eq(5) == 6f && eq.count(_ != 0f) == 1)
  }

  test("normalizedDifference matches per-pixel (a-b)/(a+b)") {
    val ds = Seq(tile(p0, band = 0), tile(p1, band = 1)).toDS
    val ndvi = RasterOps.normalizedDifference(ds, 1, 0)
      .select("pixels").as[Array[Float]].head()
    p0.indices.foreach { i =>
      val want = (p1(i) - p0(i)) / (p1(i) + p0(i))
      assert(math.abs(ndvi(i) - want) < 1e-6, s"i=$i")
    }
  }

  test("combineScene: zeros in s1 take s2, else keep s1") {
    val s1 = tile(Array[Float](0, 1, 0, 2, 0, 3, 0, 4, 5, 0, 6, 0, 7, 0, 8, 0))
    val s2 = tile(Array.fill(16)(9f))
    val r = RasterOps.combineScene(Seq(s1).toDS, Seq(s2).toDS)
      .select("pixels").as[Array[Float]].head()
    assert(r.sameElements(Array[Float](9, 1, 9, 2, 9, 3, 9, 4, 5, 9, 6, 9, 7, 9, 8, 9)))
  }

  test("temporalComposite mean/min/max/sum with NaN frames") {
    val frames = Seq(
      (0, tile(p0)), (1, tile(p1)),
      (2, tile(Array.fill(16)(Float.NaN)))) // all-NaN frame must not poison
      .map { case (t, tr) => (tr.image_id, tr.cell_id, tr.tx, tr.ty, tr.x_min,
        tr.y_max, tr.px, tr.band, tr.pixels, tr.tw, tr.th, tr.nodata, t) }
      .toDF("image_id", "cell_id", "tx", "ty", "x_min", "y_max", "px",
        "band", "pixels", "tw", "th", "nodata", "t")
    def run(stat: String) = RasterOps.temporalComposite(frames, stat)
      .select("pixels").as[Array[Float]].head()
    val mean = run("mean"); val mn = run("min"); val mx = run("max"); val sm = run("sum")
    p0.indices.foreach { i =>
      assert(mean(i) == (p0(i) + p1(i)) / 2, s"mean $i")
      assert(mn(i) == p0(i), s"min $i")
      assert(mx(i) == p1(i), s"max $i")
      assert(sm(i) == p0(i) + p1(i), s"sum $i")
    }
  }

  test("temporalComposite: mixed sentinels composite as missing; std") {
    // layer 2 declares -9999 (not NaN): its sentinel pixels must be
    // skipped like NaN, not averaged in as real values; the output
    // sentinel is deterministically NaN regardless of input order
    val sentinelLayer = tile(Array.fill(16)(-9999f)).copy(nodata = -9999f)
    val frames = Seq((0, tile(p0)), (1, tile(p1)), (2, sentinelLayer))
      .map { case (t, tr) => (tr.image_id, tr.cell_id, tr.tx, tr.ty, tr.x_min,
        tr.y_max, tr.px, tr.band, tr.pixels, tr.tw, tr.th, tr.nodata, t) }
      .toDF("image_id", "cell_id", "tx", "ty", "x_min", "y_max", "px",
        "band", "pixels", "tw", "th", "nodata", "t")
    val out = RasterOps.temporalComposite(frames, "mean")
      .select("pixels", "nodata").as[(Array[Float], Float)].head()
    p0.indices.foreach { i =>
      assert(out._1(i) == (p0(i) + p1(i)) / 2, s"mean $i skipped the sentinel")
    }
    assert(out._2.isNaN, "output sentinel must be the deterministic NaN")
    // std = np.nanstd (population): for two values a, b it is |a-b|/2
    val sd = RasterOps.temporalComposite(frames, "std")
      .select("pixels").as[Array[Float]].head()
    p0.indices.foreach { i =>
      val want = math.abs(p0(i) - p1(i)) / 2.0
      assert(math.abs(sd(i) - want) < 1e-6, s"std $i: ${sd(i)} vs $want")
    }
  }

  test("rasterToPoints emits pixel centers, drops nodata, honors cell ownership") {
    val t = tile(p0.updated(5, Float.NaN))
    val pts = RasterOps.rasterToPoints(Seq(t).toDS.toDF())
      .select("x", "y", "value").as[(Double, Double, Float)].collect()
    assert(pts.length == 15) // one NaN dropped
    assert(pts.contains((0.5, 3.5, 1f)))  // top-left pixel center
    assert(pts.contains((3.5, 0.5, 16f))) // bottom-right
    // duplicated tile under a second cell must not double-emit
    val other = t.copy(cell_id = GridIndex.cellId(100, 100, GridIndex.MaxRes - 2))
    val pts2 = RasterOps.rasterToPoints(Seq(t, other).toDS.toDF()).count()
    assert(pts2 == 15)
  }

  test("rasterize burns PIP mask; clipRaster nodata-fills outside") {
    val poly = PolyRow(1, 0, Array(Array(Pt(0.0, 0.0), Pt(2.0, 0.0), Pt(2.0, 4.0), Pt(0.0, 4.0))), 7, "left", 0.0)
    val res = GridIndex.MaxRes - 2
    val mask = RasterOps.rasterize(Seq(tile(p0)).toDS, Seq(poly).toDS, res)
      .collect().head.pixels
    // left two columns inside
    for (r <- 0 until 4; c <- 0 until 4)
      assert(mask(r * 4 + c) == (if (c < 2) 1f else 0f), s"($r,$c)")
    val burned = RasterOps.rasterize(Seq(tile(p0)).toDS, Seq(poly).toDS, res, burnClass = true)
      .collect().head.pixels
    assert(burned(0) == 7f)
    val clipped = RasterOps.clipRaster(Seq(tile(p0)).toDS, poly, res)
      .collect().head.pixels
    for (r <- 0 until 4; c <- 0 until 4) {
      if (c < 2) assert(clipped(r * 4 + c) == p0(r * 4 + c))
      else assert(clipped(r * 4 + c).isNaN)
    }
  }

  test("rasterize: a tile spanning two cells burns each pixel once (ownership rule)") {
    // 80x48 image at x 16..96: the 64-px tile 0 spans the 64-unit cells at
    // x 0 and x 64, so 2 tiles make 3 (tile, cell) rows
    val (x0, y0) = (16.0, 240.0)
    val img = GridImages.imageAt(0, 1, xMin0 = x0, yMax0 = y0)
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(Seq(img).toDS, 64, cellRes)
    assert(tiles.count() == 3)
    val all = PolyRow(1, 0, Array(Array(Pt(0, 150), Pt(200, 150), Pt(200, 300), Pt(0, 300))),
      1, "all", 0.0)
    val tri = PolyRow(2, 0, Array(Array(Pt(20, 195), Pt(95, 200), Pt(50, 238))), 2, "tri", 0.0)
    def naive(ps: Seq[PolyRow]): Long =
      (for (y <- 0 until GridImages.H; x <- 0 until GridImages.W
            if ps.exists(p => Geom.pointInPolygon(x0 + x + 0.5, y0 - y - 0.5,
              p.rings.map(_.map(q => (q.x, q.y)))))) yield 1L).sum
    assert(naive(Seq(all)) == GridImages.W * GridImages.H)
    for (ps <- Seq(Seq(all), Seq(tri), Seq(all, tri))) {
      val burned = RasterOps.rasterize(tiles, ps.toDS, cellRes).collect()
        .map(_.pixels.count(_ == 1f).toLong).sum
      assert(burned == naive(ps), s"polygons ${ps.map(_.name)}")
    }
    val byClass = RasterOps.rasterize(tiles, Seq(tri).toDS, cellRes, burnClass = true)
      .collect().map(_.pixels.count(_ == 2f).toLong).sum
    assert(byClass == naive(Seq(tri)))
  }

  test("clipRaster: a tile spanning two cells keeps each pixel once (ownership rule)") {
    // the rasterize fixture above: 3 (tile, cell) rows over an 80x48 image
    val (x0, y0) = (16.0, 240.0)
    val img = GridImages.imageAt(0, 1, xMin0 = x0, yMax0 = y0)
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(Seq(img).toDS, 64, cellRes)
    val all = PolyRow(1, 0, Array(Array(Pt(0, 150), Pt(200, 150), Pt(200, 300), Pt(0, 300))),
      1, "all", 0.0)
    val tri = PolyRow(2, 0, Array(Array(Pt(20, 195), Pt(95, 200), Pt(50, 238))), 2, "tri", 0.0)
    for (p <- Seq(all, tri)) {
      // (world x, world y, value) of every kept pixel, duplicates included
      val kept = RasterOps.clipRaster(tiles, p, cellRes).collect().toSeq.flatMap { t =>
        for (r <- 0 until t.th; c <- 0 until t.tw if !t.pixels(r * t.tw + c).isNaN)
          yield (t.x_min + c + 0.5, t.y_max - r - 0.5, t.pixels(r * t.tw + c))
      }.sorted
      val want = (for (y <- 0 until GridImages.H; x <- 0 until GridImages.W
                       if Geom.pointInPolygon(x0 + x + 0.5, y0 - y - 0.5,
                         p.rings.map(_.map(q => (q.x, q.y)))))
        yield (x0 + x + 0.5, y0 - y - 0.5, GridImages.value(0, 0, x, y))).sorted
      val (nKept, nWant) = (kept.length, want.length)
      assert(nKept == nWant, s"${p.name}: $nKept pixels kept, want $nWant")
      assert(kept == want, p.name)
    }
  }

  test("applyLut remaps listed values, passes others; otsu splits bimodal") {
    val lutted = RasterOps.applyLut(Seq(tile(p0)).toDS.toDF(), Map(1f -> 100f, 16f -> 0f))
      .select("pixels").as[Array[Float]].head()
    assert(lutted(0) == 100f && lutted(15) == 0f && lutted(5) == 6f)
    val bimodal = tile(Array[Float](10, 10, 10, 11, 10, 11, 10, 10,
      200, 201, 200, 200, 201, 200, 200, 200))
    val thr = RasterOps.otsuThreshold(Seq(bimodal).toDS.toDF())
    assert(thr >= 11 && thr < 200, s"thr=$thr")
  }

  test("temporalComposite median/percentile == naive np.nanpercentile") {
    val res = Tiler.resForCellSize(16.0)
    val cell = GridIndex.cellId(2.0, 2.0, res)
    def tile(t: Int, vals: Array[Float]) =
      (TileRow("i", cell, 0, 0, 0.0, 2.0, 1.0, 0, vals, 2, 2, Float.NaN), t)
    val series = Seq(
      tile(0, Array(1f, 10f, Float.NaN, 4f)),
      tile(1, Array(5f, 20f, Float.NaN, 2f)),
      tile(2, Array(3f, 30f, 7f, 8f)),
      tile(3, Array(9f, 40f, 5f, 6f)))
    val df2 = series.toDF("tile", "t").select(col("tile.*"), col("t"))
    def got(stat: String, q: Double = 50.0) =
      RasterOps.temporalComposite(df2, stat, q)
        .select("pixels").as[Array[Float]].head()
    def naive(q: Double): Array[Float] = Array.tabulate(4) { i =>
      val vs = series.map(_._1.pixels(i)).filterNot(_.isNaN).sorted
      val pos = (vs.length - 1) * q / 100.0
      val lo = pos.toInt; val frac = pos - lo
      (vs(lo) + (vs(math.min(lo + 1, vs.length - 1)) - vs(lo)) * frac).toFloat
    }
    assert(got("median").sameElements(naive(50.0)))
    assert(got("percentile", 25.0).sameElements(naive(25.0)))
    assert(got("percentile", 90.0).sameElements(naive(90.0)))
  }

  test("otsu: quantized path stays near the exact threshold") {
    val res = Tiler.resForCellSize(16.0)
    val cell = GridIndex.cellId(2.0, 2.0, res)
    // bimodal float values (distinct per pixel -> forces the binned path)
    val vals = Array.tabulate(256)(i =>
      if (i < 128) 10f + i * 0.001f else 200f + i * 0.001f)
    val t = TileRow("i", cell, 0, 0, 0.0, 16.0, 1.0, 0, vals, 16, 16, Float.NaN)
    val thr = RasterOps.otsuThreshold(Seq(t).toDF(), levels = 64)
    assert(thr > 10.3 && thr < 200.0, s"threshold $thr must split the modes")
  }

  test("qHistMatch equals a literal np.interp quantile-map replay") {
    // Third implementation: the DuckDB oracle shares the relational
    // interval-join shape with the query, so a shared-logic slip would
    // pass both — this replay computes np.interp(s_quantiles,
    // t_quantiles, t_values) directly (left clamp + bracketing linear
    // blend), with the same left-to-right cumulative sums, the same
    // mult-before-div blend association and the same HALF_UP round, so
    // the comparison is exact double equality.
    import graft.queries.Queries
    val dir = "/root/testdata/sf0.001"
    val src = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("cast(l_quantity as int) as v").collect().map(_.getInt(0))
    val tmpl = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("cast(floor(o_totalprice / 10000.0) as int) as tb")
      .collect().map(_.getInt(0))
    def cdf(xs: Array[Int]): (Array[Int], Array[Double]) = {
      val g = xs.groupBy(identity).toArray.sortBy(_._1)
      val cum = g.map(_._2.length.toLong).scanLeft(0L)(_ + _).tail
      (g.map(_._1), cum.map(c => c * 1.0 / xs.length))
    }
    val (sv, sq) = cdf(src)
    val (tv, tq) = cdf(tmpl)
    def interp(x: Double): Double =
      if (x <= tq(0)) tv(0).toDouble
      else {
        val j = tq.indexWhere(x <= _) // >= 1; both CDFs end at exactly 1.0
        tv(j - 1) + (tv(j) - tv(j - 1)) * (x - tq(j - 1)) / (tq(j) - tq(j - 1))
      }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val expected = sv.zip(sq).map { case (v, q) => (v, r6(interp(q))) }.toMap
    val got = Queries.qHistMatch(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(got.keySet == expected.keySet)
    for ((v, m) <- expected) assert(got(v) == m, s"v=$v")
  }
}

class PolygonizeSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import TileFixtures.img1

  def image(w: Int, h: Int, px: Array[Float]): ImageRow = {
    val enc = PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(px))
    ImageRow("poly-img", enc, w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, h.toDouble, 1.0)
  }

  test("polygonize: two half rectangles -> two regions with exact rings") {
    val w = 6; val h = 4
    val px = Array.tabulate(w * h)(i => if (i % w < 3) 0f else 96f)
    val regions = Polygonize.polygonize(Seq(image(w, h, px)).toDS, quant = 32f)
      .collect().sortBy(_.value)
    assert(regions.length == 2)
    assert(regions.map(_.pixel_count).sum == w * h)
    val left = regions(0)
    assert(left.pixel_count == 12)
    val ring: Geom.Rings = Array(left.ring.map(p => (p.x, p.y)))
    // region pixel centers inside traced ring; others outside
    for (r <- 0 until h; c <- 0 until w) {
      val inside = Geom.pointInPolygon(c + 0.5, h - r - 0.5, ring)
      assert(inside == (c < 3), s"($r,$c)")
    }
  }

  test("polygonize: concave region ring is exact") {
    val w = 5; val h = 5
    // plus-sign of value 64 on 0 background
    val px = Array.tabulate(w * h) { i =>
      val r = i / w; val c = i % w
      if (r == 2 || c == 2) 64f else 0f
    }
    val regions = Polygonize.polygonize(Seq(image(w, h, px)).toDS, quant = 32f).collect()
    val plus = regions.find(_.value == 64f).get
    assert(plus.pixel_count == 9)
    val ring: Geom.Rings = Array(plus.ring.map(p => (p.x, p.y)))
    for (r <- 0 until h; c <- 0 until w) {
      val inside = Geom.pointInPolygon(c + 0.5, h - r - 0.5, ring)
      assert(inside == (r == 2 || c == 2), s"($r,$c)")
    }
    // 4 background corner regions
    assert(regions.count(_.value == 0f) == 4)
  }

  test("polygonize: NaN nodata pixels form no region") {
    import graft.operators.Polygonize
    val w = 8; val h = 8
    // left half value 64, right half NaN
    val b = Array.tabulate(w * h)(i => if (i % w < 4) 64f else Float.NaN)
    val img = img1("pz", b, w, h)
    val rs = Polygonize.polygonize(Seq(img).toDS, quant = 32f).collect()
    assert(rs.length == 1, s"NaN pixels must form no region: ${rs.length}")
    assert(rs.head.pixel_count == 32L)
  }
}

class ShapePropsGlcmSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import TileFixtures._

  test("shape props of a 4x2 rectangle") {
    val poly = PolyRow(1, 0, Array(Array(Pt(0, 0), Pt(4, 0), Pt(4, 2), Pt(0, 2))), 1, "r", 0.0)
    val p = ShapeProps.props(Seq(poly).toDS).collect().head
    assert(math.abs(p.area - 8.0) < 1e-9)
    assert(math.abs(p.perimeter - 12.0) < 1e-9)
    assert(math.abs(p.major_axis - 4.0) < 1e-9)
    assert(math.abs(p.minor_axis - 2.0) < 1e-9)
    assert(math.abs(p.centroid_x - 2.0) < 1e-9)
    assert(math.abs(p.solidity - 1.0) < 1e-9)
    assert(math.abs(p.extent - 1.0) < 1e-9)
    assert(p.eccentricity > 0.85 && p.eccentricity < 0.87)
  }

  test("GLCM pair histogram equals naive co-occurrence; texture props sane") {
    val poly = PolyRow(1, 0, Array(Array(Pt(0.0, 0.0), Pt(4.0, 0.0), Pt(4.0, 4.0), Pt(0.0, 4.0))), 1, "all", 0.0)
    val res = GridIndex.MaxRes - 2
    val hist = Glcm.pairHistogram(Seq(tile(p0)).toDS, Seq(poly).toDS, res,
      dx = 1, dy = 0, levels = 8, maxVal = 16f)
      .as[(Long, Int, Int, Int, Long)].collect()
      .map { case (_, _, a, b, n) => (a, b) -> n }.toMap
    // naive: horizontal pairs within the 4x4, quant = v/16*8 clamped
    val naive = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
    def q(v: Float) = math.min(7, (v / 16f * 8).toInt)
    for (r <- 0 until 4; c <- 0 until 3) {
      val a = q(p0(r * 4 + c)); val b = q(p0(r * 4 + c + 1))
      naive((a, b)) = naive.getOrElse((a, b), 0L) + 1
      naive((b, a)) = naive.getOrElse((b, a), 0L) + 1
    }
    assert(hist == naive.toMap)
    val props = Glcm.textureStats(
      Glcm.pairHistogram(Seq(tile(p0)).toDS, Seq(poly).toDS, res, 1, 0, 8, 16f))
      .collect().head
    val asm = props.getAs[Double]("asm")
    val energy = props.getAs[Double]("energy")
    assert(math.abs(energy - math.sqrt(asm)) < 1e-4)
    assert(props.getAs[Double]("homogeneity") <= 1.0)
  }

  test("GLCM: negative offsets are in-bounds and mirror positive ones") {
    val res = Tiler.resForCellSize(16.0)
    val px = Array.tabulate(16)(i => (i % 7).toFloat) // 4x4 tile
    val tile = TileRow("i", GridIndex.cellId(2.0, 2.0, res), 0, 0,
      0.0, 4.0, 1.0, 0, px, 4, 4, Float.NaN)
    val poly = PolyRow(1L, 0,
      Array(Array(Pt(-1, -1), Pt(5, -1), Pt(5, 5), Pt(-1, 5))), 1, "p", 0.0)
    def hist(dx: Int, dy: Int) =
      Glcm.pairHistogram(Seq(tile).toDS, Seq(poly).toDS, res, dx, dy, 8, 8f)
        .as[(Long, Int, Int, Int, Long)].collect().toSet
    // symmetric GLCM: offset (dx,dy) and (-dx,-dy) produce identical matrices
    assert(hist(-1, 0) == hist(1, 0))
    assert(hist(0, -1) == hist(0, 1))
    assert(hist(-1, -1) == hist(1, 1)) // would have thrown AIOOBE before
  }

  test("GLCM halo tiles == naive full-window pairs (pairs cross the tile edge)") {
    val cellRes = Tiler.resForCellSize(64.0)
    val imgs = GridImages.images(3, bands = 1)
    val tiles = Tiler.tiles(spark.createDataset(imgs.toSeq), 64, cellRes, halo = 1)
    for ((dx, dy) <- Seq((1, 0), (0, 1), (1, 1), (-1, 1))) {
      val got = Glcm.pairHistogram(tiles, Seq(allPoly).toDS, cellRes,
        dx, dy, levels = 32, maxVal = 256f, halo = 1, tileSize = 64)
        .as[(Long, Int, Int, Int, Long)].collect()
        .map { case (_, _, q1, q2, c) => (q1, q2) -> c }.toMap
      val naive = naivePairs(imgs, GridImages.W, GridImages.H, dx, dy)
      assert(got == naive, s"offset ($dx, $dy)")
    }
  }

  test("GLCM halo + PARTIAL polygon mask == naive masked pairs") {
    // polygon covers only part of each image and crosses the 64-px tile
    // boundary of image 0 — origin/partner membership must follow the
    // mask exactly, including pairs whose partner sits in halo pixels
    val poly = PolyRow(0L, 0, Array(Array(
      Pt(40, -40), Pt(330, -40), Pt(330, -5), Pt(40, -5))), 1, "part", 0.0)
    val imgs = GridImages.images(2, bands = 1)
    def inPoly(i: Int, x: Int, y: Int): Boolean = {
      val wx = GridImages.xMin(i.toLong) + x + 0.5
      val wy = GridImages.yMax(i.toLong) - y - 0.5
      wx > 40 && wx < 330 && wy > -40 && wy < -5
    }
    val acc = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
    imgs.zipWithIndex.foreach { case (img, i) =>
      val b = PixelCodec.decode(img.bytes, img.fmt, GridImages.W, GridImages.H).bands(0)
      for (y <- 0 until GridImages.H; x <- 0 until GridImages.W - 1)
        if (inPoly(i, x, y) && inPoly(i, x + 1, y)) {
          val a = (b(y * GridImages.W + x) / 8).toInt
          val q = (b(y * GridImages.W + x + 1) / 8).toInt
          acc((a, q)) += 1; acc((q, a)) += 1
        }
    }
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(spark.createDataset(imgs.toSeq), 64, cellRes, halo = 1)
    val got = Glcm.pairHistogram(tiles, Seq(poly).toDS, cellRes,
      dx = 1, dy = 0, levels = 32, maxVal = 256f, halo = 1, tileSize = 64)
      .as[(Long, Int, Int, Int, Long)].collect()
      .map { case (_, _, q1, q2, c) => (q1, q2) -> c }.toMap
    assert(got == acc.toMap)
    assert(got.nonEmpty)
  }

  test("GLCM core-origin dedupe: cell spanning TWO tiles still counts pairs once") {
    // 128-unit cells over 64-px tiles: both tiles of a cell see shared
    // halo pixels INSIDE the cell — only core origins may count them
    val w = 128; val h = 32
    val b = Array.tabulate(w * h)(p => (((p % w) * 7 + (p / w) * 13) % 97).toFloat)
    val img = ImageRow("two", PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(b)),
      w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, 0.0, 1.0)
    val cellRes = Tiler.resForCellSize(128.0)
    val tiles = Tiler.tiles(Seq(img).toDS, 64, cellRes, halo = 1)
    val got = Glcm.pairHistogram(tiles, Seq(allPoly).toDS, cellRes,
      dx = 1, dy = 0, levels = 32, maxVal = 256f, halo = 1, tileSize = 64)
      .as[(Long, Int, Int, Int, Long)].collect()
      .map { case (_, _, q1, q2, c) => (q1, q2) -> c }.toMap
    assert(got == naivePairs(Seq(img), w, h, 1, 0))
  }

  private def naivePairs(imgs: Seq[ImageRow], w: Int, h: Int,
                         dx: Int, dy: Int): Map[(Int, Int), Long] = {
    val acc = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
    imgs.foreach { img =>
      val b = PixelCodec.decode(img.bytes, img.fmt, w, h).bands(0)
      for (y <- 0 until h; x <- 0 until w) {
        val py = y + dy; val px = x + dx
        if (py >= 0 && py < h && px >= 0 && px < w) {
          val a = (b(y * w + x) / 8).toInt
          val q = (b(py * w + px) / 8).toInt
          acc((a, q)) += 1; acc((q, a)) += 1
        }
      }
    }
    acc.toMap
  }

  private def allPoly = PolyRow(0L, 0, Array(Array(
    Pt(-1000, -1000), Pt(5000, -1000), Pt(5000, 1000), Pt(-1000, 1000))),
    1, "all", 0.0)
}

class TrainingSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("extract -> fit -> classify recovers a linearly separated labeling") {
    // image: left half dark (two bands ~10/20), right half bright (~200/100)
    val w = 32; val h = 16
    val b0 = Array.tabulate(w * h)(i => if (i % w < 16) 10f else 200f)
    val b1 = Array.tabulate(w * h)(i => if (i % w < 16) 20f else 100f)
    val enc = PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(b0, b1))
    val img = ImageRow("t", enc, w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, h.toDouble, 1.0)
    val polys = Seq(
      PolyRow(1, 0, Array(Array(Pt(1.0, 1.0), Pt(8.0, 1.0), Pt(8.0, 8.0), Pt(1.0, 8.0))), 1, "dark", 0.0),
      PolyRow(2, 0, Array(Array(Pt(20.0, 1.0), Pt(28.0, 1.0), Pt(28.0, 8.0), Pt(20.0, 8.0))), 2, "bright", 0.0))
    val cellRes = operators.Tiler.resForCellSize(16.0)
    val tiles = Tiler.multiTiles(Seq(img).toDS, tileSize = 16, cellRes = cellRes)
    val samples = Training.extractSamples(tiles, polys.toDS, cellRes)
    val collected = samples.collect()
    // box1 (1..8): 7 pixel-center columns; box2 (20..28): 8 columns; 7 rows each
    assert(collected.count(_.label == 1) == 49)
    assert(collected.count(_.label == 2) == 56)
    assert(collected.filter(_.label == 1).forall(_.features.sameElements(Array(10f, 20f))))
    val model = Training.fitCentroids(samples)
    assert(model.predict(Array(11f, 19f)) == 1)
    assert(model.predict(Array(190f, 105f)) == 2)
    val classified = Training.classify(tiles, model).collect()
    classified.foreach { t =>
      t.pixels.zipWithIndex.foreach { case (v, i) =>
        // reconstruct expected from x position
        val c = i % t.tw
        val worldX = t.x_min + c + 0.5
        assert(v == (if (worldX < 16) 1f else 2f), s"x=$worldX")
      }
    }
  }

  test("classifyObjects: single-class model, null features, tie break") {
    import graft.operators.Training
    val m1 = Training.CentroidModel(Array(7), Array(Array(1.0, 2.0)))
    val df = Seq((1L, 0.0, 0.0), (2L, 9.0, 9.0)).toDF("id", "f0", "f1")
    // one-class model: everything gets the only label (least() edge case)
    assert(Training.classifyObjects(df, m1, Seq("f0", "f1"))
      .select("pred").as[Int].collect().forall(_ == 7))
    // equidistant centroids: smallest label wins (predict() convention)
    val m2 = Training.CentroidModel(Array(3, 1),
      Array(Array(2.0, 0.0), Array(0.0, 2.0)))
    val tie = Seq((1L, 1.0, 1.0)).toDF("id", "f0", "f1")
    assert(Training.classifyObjects(tie, m2, Seq("f0", "f1"))
      .select("pred").as[Int].head() == 1)
    // null feature -> null prediction, never silently the last label
    val withNull = Seq((1L, Some(1.0), None: Option[Double]))
      .toDF("id", "f0", "f1")
    assert(Training.classifyObjects(withNull, m2, Seq("f0", "f1"))
      .select("pred").collect().head.isNullAt(0))
  }
}
