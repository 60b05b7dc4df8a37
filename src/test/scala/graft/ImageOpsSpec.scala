package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.PixelCodec
import graft.gen.Synth
import graft.operators.{ImageOps, Tiler, RasterOps, VectorOps}
import graft.core.Geom

class ImageOpsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  lazy val imgs = Synth.images(6, seed = 77L, bands = 2)
  lazy val ds = spark.createDataset(imgs.toSeq)

  test("fillNodata: IDW over first-valid per direction, border + smoothing") {
    import graft.operators.ImageOps
    val w = 12; val h = 8
    val nd = -1f
    // interior hole at (5,4), border hole at (0,0), a 2-gap hole at (9,1)
    // whose east scan must skip a nodata at distance 1... keep simple:
    // east neighbor at (10,1) is ALSO nodata so the east ray finds
    // (11,1) at distance 2
    val base = Array.tabulate(w * h)(p => ((p * 3) % 23 + 1).toFloat)
    val holes = Seq(5 + 4 * w, 0, 9 + 1 * w, 10 + 1 * w)
    holes.foreach(p => base(p) = nd)
    val img = ImageOps.fromArray("f0", Array(base), w, h, 0, 0, 1.0,
      graft.core.PixelCodec.FmtRawLe)
    val ds = spark.createDataset(Seq(img))
    val out = ImageOps.fillNodata(ds, nd, maxSearchDist = 3).collect().head
    val got = graft.core.PixelCodec.decode(out.bytes, out.fmt, out.w, out.h).bands(0)
    def idw(px: Int, py: Int): Float = {
      val dirs = Seq((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (1, -1), (-1, 1), (-1, -1))
      var num = 0.0; var den = 0.0
      dirs.foreach { case (dx, dy) =>
        var d = 1; var done = false
        while (d <= 3 && !done) {
          val xx = px + dx * d; val yy = py + dy * d
          if (xx < 0 || yy < 0 || xx >= w || yy >= h) done = true
          else if (base(yy * w + xx) != nd) { num += base(yy * w + xx) / d; den += 1.0 / d; done = true }
          else d += 1
        }
      }
      (num / den).toFloat
    }
    holes.foreach { p => assert(got(p) == idw(p % w, p / w), s"hole $p") }
    // non-holes untouched
    for (p <- base.indices if !holes.contains(p)) assert(got(p) == base(p))
    // smoothing pass averages the FILLED pixel's 3x3 window (post-fill)
    val sm = ImageOps.fillNodata(ds, nd, 3, smoothingIterations = 1).collect().head
    val gsm = graft.core.PixelCodec.decode(sm.bytes, sm.fmt, sm.w, sm.h).bands(0)
    val p0 = 5 + 4 * w
    val want = (for (dy <- -1 to 1; dx <- -1 to 1)
      yield got((4 + dy) * w + 5 + dx).toDouble).sum / 9
    assert(gsm(p0) == want.toFloat)
    assert(gsm(1) == got(1), "unfilled pixels not smoothed")
  }

  test("fillNodata detects NaN holes (the engine's default sentinel)") {
    import graft.operators.ImageOps
    val w = 6; val h = 4
    val base = Array.tabulate(w * h)(p => (p % 11 + 1).toFloat)
    base(2 + 1 * w) = Float.NaN // isolated interior hole
    val img = ImageOps.fromArray("n0", Array(base), w, h, 0, 0, 1.0,
      graft.core.PixelCodec.FmtRawLe)
    val out = ImageOps.fillNodata(spark.createDataset(Seq(img)), Float.NaN,
      maxSearchDist = 3).collect().head
    val got = graft.core.PixelCodec.decode(out.bytes, out.fmt, out.w, out.h).bands(0)
    // every 8-direction first-valid is the distance-1 neighbor ->
    // plain IDW mean of the 8 neighbors at weight 1
    val nbrs = for (dy <- -1 to 1; dx <- -1 to 1 if (dx, dy) != ((0, 0)))
      yield base((1 + dy) * w + 2 + dx).toDouble
    assert(got(2 + 1 * w) == (nbrs.sum / 8).toFloat)
    assert(!got.exists(_.isNaN))
  }

  test("warpResample: identity at ratio 1; near/bilinear sample correctly") {
    import graft.operators.ImageOps
    val src = Synth.images(2, seed = 9L, bands = 2)
    val ds2 = spark.createDataset(src.toSeq)
    Seq("near", "bilinear").foreach { algo =>
      val same = ImageOps.warpResample(ds2, src.head.px, algo).collect()
        .map(i => i.image_id -> i).toMap
      src.foreach { s =>
        val a = PixelCodec.decode(s.bytes, s.fmt, s.w, s.h)
        val b0 = same(s.image_id)
        assert(b0.w == s.w && b0.h == s.h)
        val b = PixelCodec.decode(b0.bytes, b0.fmt, b0.w, b0.h)
        a.bands.zip(b.bands).foreach { case (x, y) =>
          if (!PixelCodec.isLossy(s.fmt)) assert(x.sameElements(y), s"$algo identity")
        }
      }
    }
    // 2x nearest downsample picks the (2c+1, 2r+1) source pixel
    val g = spark.createDataset(graft.gen.GridImages.images(1, 1).toSeq)
    val nr = ImageOps.warpResample(g, 2.0, "near").collect().head
    assert(nr.w == 40 && nr.h == 24 && nr.px == 2.0)
    val dec = PixelCodec.decode(nr.bytes, nr.fmt, nr.w, nr.h).bands(0)
    for (r <- 0 until 24; c <- 0 until 40)
      assert(dec(r * 40 + c) == graft.gen.GridImages.value(0, 0, 2 * c + 1, 2 * r + 1))
  }

  test("transcode raw<->rle lossless, ->qnt8 holds PSNR>=40 and phash") {
    val rle = ImageOps.transcode(ds, PixelCodec.FmtRle).collect()
      .map(i => i.image_id -> i).toMap
    imgs.foreach { src =>
      val dst = rle(src.image_id)
      val a = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h)
      val b = PixelCodec.decode(dst.bytes, dst.fmt, dst.w, dst.h)
      if (!PixelCodec.isLossy(src.fmt))
        a.bands.zip(b.bands).foreach { case (x, y) => assert(x.sameElements(y)) }
      else a.bands.zip(b.bands).foreach { case (x, y) =>
        assert(PixelCodec.psnr(x, y) == Double.PositiveInfinity) }
      assert(dst.caption == src.caption) // caption equality invariant
    }
    val q = ImageOps.transcode(ds, PixelCodec.FmtQnt8).collect()
    q.zip(imgs).foreach { case (dst, src) =>
      val a = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h)
      val b = PixelCodec.decode(dst.bytes, dst.fmt, dst.w, dst.h)
      a.bands.zip(b.bands).foreach { case (x, y) =>
        assert(PixelCodec.psnr(x, y) >= 40.0)
      }
      assert(dst.phash == src.phash, s"phash drifted for ${src.image_id}")
    }
  }

  test("tile -> assemble round-trips the image exactly (inverse tiler)") {
    val src = imgs.head
    val one = spark.createDataset(Seq(src))
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(one, 64, cellRes)
    val back = ImageOps.assemble(tiles, src.w, src.h, PixelCodec.FmtRawLe,
      src.caption).collect().head
    val a = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h)
    val b = PixelCodec.decode(back.bytes, back.fmt, back.w, back.h)
    assert(b.bands.length == a.bands.length)
    if (!PixelCodec.isLossy(src.fmt))
      a.bands.zip(b.bands).foreach { case (x, y) => assert(x.sameElements(y)) }
    assert(back.x_min == src.x_min && back.y_max == src.y_max)
  }

  test("resize halves dims and box-averages; frameSample keeps every 2nd band") {
    val r = ImageOps.resize(ds, 2).collect().head
    val src = imgs.head
    assert(r.w == src.w / 2 && r.h == src.h / 2 && r.px == 2.0)
    val a = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h).bands(0)
    val b = PixelCodec.decode(r.bytes, r.fmt, r.w, r.h).bands(0)
    // spot-check one box average (top-left)
    val want = (a(0) + a(1) + a(src.w) + a(src.w + 1)) / 4.0f
    assert(math.abs(b(0) - want) < (if (PixelCodec.isLossy(src.fmt)) 1f else 1e-4f))
    val fs = ImageOps.frameSample(ds, 2).collect().head
    assert(PixelCodec.decode(fs.bytes, fs.fmt, fs.w, fs.h).bands.length == 1)
  }

  test("convolve3x3 identity kernel is a no-op; box blur smooths") {
    val id = Array[Float](0, 0, 0, 0, 1, 0, 0, 0, 0)
    val src = imgs.head
    val one = spark.createDataset(Seq(src.copy(fmt = PixelCodec.FmtRawLe,
      bytes = PixelCodec.encode(PixelCodec.FmtRawLe, src.w, src.h,
        PixelCodec.decode(src.bytes, src.fmt, src.w, src.h).bands))))
    val out = ImageOps.convolve3x3(one, id).collect().head
    val a = PixelCodec.decode(one.collect().head.bytes, PixelCodec.FmtRawLe, src.w, src.h)
    val b = PixelCodec.decode(out.bytes, out.fmt, out.w, out.h)
    assert(a.bands(0).sameElements(b.bands(0)))
  }

  test("templateMatch finds the planted template location") {
    val w = 64; val h = 64
    val base = Array.fill(w * h)(10f)
    // plant a distinctive 4x4 gradient at (20, 33)
    val tpl = Array.tabulate(16)(i => (i * 13 % 7) * 30f)
    for (r <- 0 until 4; c <- 0 until 4) base((20 + r) * w + 33 + c) = tpl(r * 4 + c)
    val img = ImageOps.fromArray("m", Array(base), w, h, 0, h, 1.0, PixelCodec.FmtRawLe)
    val hit = ImageOps.templateMatch(spark.createDataset(Seq(img)), tpl, 4, 4)
      .collect().head
    assert(hit.getInt(1) == 20 && hit.getInt(2) == 33, s"got $hit")
    assert(hit.getDouble(3) > 0.99)
  }

  test("bandCount: header-only, matches decode for every fmt and width") {
    for (nb <- 1 to 4; fmt <- Seq(PixelCodec.FmtRawLe, PixelCodec.FmtRle,
                                  PixelCodec.FmtQnt8)) {
      val bands = Array.tabulate(nb)(b =>
        Array.tabulate(12 * 5)(p => ((p * 3 + b * 7) % 11).toFloat))
      val enc = PixelCodec.encode(fmt, 12, 5, bands)
      assert(PixelCodec.bandCount(enc, fmt, 12, 5) == nb, s"$fmt nb=$nb")
      assert(PixelCodec.decode(enc, fmt, 12, 5).bands.length == nb)
    }
  }

  test("setBandNames: zip semantics — extras drop, trailing bands blank") {
    val out = ImageOps.setBandNames(ds, Seq("red", "green", "blue"))
      .select("image_id", "band_names").collect()
    assert(out.length == 6)
    // fixture images are 2-band: 3rd name drops (reference zip semantics)
    out.foreach(r => assert(
      r.getSeq[String](1) == Seq("red", "green"), r.toString))
    val short = ImageOps.setBandNames(ds, Seq("only"))
      .select("band_names").collect()
    short.foreach(r => assert(r.getSeq[String](0) == Seq("only", "")))
    // pure built-in column math: no UDF in the plan (stays codegen'd)
    val plan = ImageOps.setBandNames(ds, Seq("red", "green"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"setBandNames must not use a UDF:\n$plan")
    // payload untouched: no decode happened, bytes identical
    val pre = ds.select("image_id", "bytes").as[(String, Array[Byte])]
      .collect().toMap
    ImageOps.setBandNames(ds, Seq("a", "b"))
      .select("image_id", "bytes").as[(String, Array[Byte])].collect()
      .foreach { case (id, b) => assert(java.util.Arrays.equals(b, pre(id))) }
  }

  test("clipToRects: Sutherland-Hodgman rect clip areas sum to original") {
    val ring = Array((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))
    val rects = Seq(
      (0L, Geom.BBox(-5, -5, 5, 5)), (1L, Geom.BBox(5, -5, 15, 5)),
      (2L, Geom.BBox(-5, 5, 5, 15)), (3L, Geom.BBox(5, 5, 15, 15)))
    val poly = PolyRow(1, 0, Array(ring.map { case (x, y) => Pt(x, y) }), 1, "sq", 0.0)
    val clipped = VectorOps.clipToRects(spark.createDataset(Seq(poly)), rects).collect()
    assert(clipped.length == 4)
    val total = clipped.map(p =>
      Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
    assert(math.abs(total - 100.0) < 1e-9)
    clipped.foreach(p => assert(math.abs(
      Geom.area(p.rings.map(_.map(q => (q.x, q.y)))) - 25.0) < 1e-9))
  }

  test("colorRaster: auto ramp hand-check, NaN skip, constant degenerate") {
    def img1(id: String, vals: Array[Float], w: Int, h: Int) =
      ImageRow(id, PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(vals)),
        w, h, PixelCodec.FmtRawLe, id, 0L, 0.0, 0.0, 1.0)
    // values 0..96 in one row of 97 px: min 0, max 96 -> stops
    // 16/32/48/64/80 + white@80. Hand-check one pixel per segment.
    val ramp = img1("ramp", Array.tabulate(97)(_.toFloat), 97, 1)
    // a NaN pixel must not poison min/max, and itself maps to (0,0,0)
    // (math.round(NaN) = 0) — gdaldem's nodata-ish behavior
    val withNaN = img1("nan", Array.tabulate(97)(k =>
      if (k == 50) Float.NaN else k.toFloat), 97, 1)
    val const = img1("const", Array.fill(8)(42f), 8, 1)
    val out = ImageOps.colorRaster(spark.createDataset(Seq(ramp, withNaN, const)))
      .collect().map(im => im.image_id ->
        PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands).toMap
    val rb = out("ramp")
    def px(v: Int) = (rb(0)(v), rb(1)(v), rb(2)(v))
    assert(px(10) == ((0f, 0f, 0f)), "v<=16 black")
    assert(px(24) == ((0f, 0f, math.round(255.0 * 8 / 16).toFloat)), "black->blue")
    assert(px(40) == ((math.round(255.0 * 8 / 16).toFloat,
      math.round(255.0 * 8 / 16).toFloat,
      math.round(255.0 - 255.0 * 8 / 16).toFloat)), "blue->yellow")
    assert(px(56) == ((255f, math.round(255.0 - 90.0 * 8 / 16).toFloat, 0f)),
      "yellow->orange")
    assert(px(72) == ((255f, math.round(165.0 - 165.0 * 8 / 16).toFloat, 0f)),
      "orange->red")
    assert(px(80) == ((255f, 255f, 255f)) && px(96) == ((255f, 255f, 255f)),
      "white stop duplicates red's elevation -> clamp white")
    val nb = out("nan")
    assert((nb(0)(50), nb(1)(50), nb(2)(50)) == ((0f, 0f, 0f)), "NaN px -> 0s")
    assert((nb(0)(96), nb(1)(96), nb(2)(96)) == ((255f, 255f, 255f)),
      "NaN did not poison max")
    val cb = out("const")
    assert((0 until 8).forall(k =>
      cb(0)(k) == 0f && cb(1)(k) == 0f && cb(2)(k) == 0f),
      "constant raster: all stops collapse, v <= head clamps black")
  }

  test("fillNodata: a gap wider than maxSearchDist stays nodata") {
    val w = 20; val h = 9
    val nd = -1f
    val base = Array.fill(w * h)(5f)
    // a 9-wide, full-height nodata band: its center column is > 3 away
    // from any valid pixel in EVERY direction (incl. diagonals)
    for (y <- 0 until h; x <- 6 to 14) base(y * w + x) = nd
    val ds = spark.createDataset(Seq(
      ImageOps.fromArray("n0", Array(base), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = ImageOps.fillNodata(ds, nd, maxSearchDist = 3).collect().head
    val pix = PixelCodec.decode(got.bytes, got.fmt, got.w, got.h).bands(0)
    // columns 9..11 of the interior rows are unreachable horizontally;
    // rows 4 (center) can't reach vertically either at x=10
    assert(pix(4 * w + 10) == nd, "unreachable pixel must stay nodata")
    // band borders DO fill (distance 1-3 from valid columns)
    assert(pix(4 * w + 6) != nd && pix(4 * w + 14) != nd)
  }

  test("writeIdField: tied orderCol values get deterministic fids") {
    val rows = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("a", 5))
    def run(parts: Int): Map[Int, Long] =
      VectorOps.writeIdField(
          rows.toDF("k", "payload").repartition(parts), "k")
        .select("payload", "fid").as[(Int, Long)].collect()
        .map { case (p, f) => p -> f }.toMap
    val r1 = run(1); val r7 = run(7)
    assert(r1 == r7, s"tie order must not depend on partitioning: $r1 vs $r7")
    // 'b' sorts after every 'a'
    assert(r1(4) == 5L)
  }
}
