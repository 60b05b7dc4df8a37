package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.GridImages
import graft.operators.{Mesh, Tiler}

class MeshSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import TileFixtures.img1

  lazy val meshImgs = spark.createDataset(GridImages.meshImages(6).toSeq)(
    org.apache.spark.sql.Encoders.product[ImageRow])

  test("extentPoly emits the world extent rectangle") {
    val rows = Mesh.extentPoly(spark.createDataset(
      GridImages.images(3, 1).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])).collect()
    rows.foreach { r =>
      val i = r.getString(0).drop(1).toInt
      assert(r.getDouble(1) == (i % 8) * 256.0)
      assert(r.getDouble(2) == (i / 8) * 256.0 - 48)
      assert(r.getDouble(3) == (i % 8) * 256.0 + 80)
      assert(r.getDouble(4) == (i / 8) * 256.0)
    }
  }

  test("geomToPixelBBox truncates toward zero (negative relative coords)") {
    // a poly whose bbox starts LEFT/ABOVE the image origin: Python
    // int(-2.5) == -2 == Spark int cast
    val img = spark.createDataset(Seq(GridImages.imageAt(0, 1)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val poly = spark.createDataset(Seq(PolyRow(7L, 0,
      Array(Array(Pt(-2.5, -10.25), Pt(5.5, -10.25), Pt(5.5, 2.5), Pt(-2.5, 2.5))),
      1, "neg", 0.0)))(org.apache.spark.sql.Encoders.product[PolyRow])
    val r = Mesh.geomToPixelBBox(poly, img, "L").collect().head
    assert(r.getInt(2) == -2, "xmin int(-2.5)")
    assert(r.getInt(3) == -2, "ymin int((0-2.5)/1) = int(-2.5)")
    assert(r.getInt(4) == 5, "xmax int(5.5)")
    assert(r.getInt(5) == 10, "ymax int(10.25)")
  }

  test("meshFromRaster: one world square per pixel, streamed from tiles") {
    val tiles = Tiler.tiles(spark.createDataset(
      GridImages.images(2, 1).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow]), 64,
      Tiler.resForCellSize(64.0))
    val rows = Mesh.meshFromRaster(tiles).collect()
    assert(rows.length == 2 * 80 * 48)
    val r0 = rows.filter(r => r.getString(0) == "g000" &&
      r.getDouble(1) == 79.0 && r.getDouble(4) == -47.0)
    assert(r0.length == 1 && r0.head.getDouble(3) == 80.0 &&
      r0.head.getDouble(2) == -48.0)
  }

  test("meshGridImages: naive per-image replay agrees (both parities)") {
    val got = Mesh.meshGridImages(meshImgs, gridHeight = 4.5, gridWidth = 99.0)
      .collect().groupBy(_.getString(0))
    for (i <- 0 until 6) {
      val (x0, y0, x1, y1) = GridImages.meshRect(i.toLong)
      val (fw, fh) =
        if (i % 2 == 0) ((x1 - x0 + 1).toDouble, (y1 - y0 + 1).toDouble)
        else ((y1 - y0 + 1).toDouble, (x1 - x0 + 1).toDouble)
      val cols = math.ceil(fw / 4.5).toInt
      val rows = math.ceil(fh / 4.5).toInt
      val cells = got(f"g$i%03d")
      assert(cells.length == cols * rows, s"image $i cell count")
      val ccx = GridImages.xMin(i.toLong) + (x0 + x1 + 1) / 2.0
      val ccy = GridImages.yMax(i.toLong) - (y0 + y1 + 1) / 2.0
      cells.foreach { c =>
        val (ci, rj) = (c.getInt(1), c.getInt(2))
        val mx = (ccx - fw / 2) + ci * 4.5 + 2.25
        val my = (ccy + fh / 2) - rj * 4.5 - 2.25
        val sx = c.getDouble(3) + c.getDouble(5) + c.getDouble(7) + c.getDouble(9)
        val sy = c.getDouble(4) + c.getDouble(6) + c.getDouble(8) + c.getDouble(10)
        assert(math.abs(sx - 4 * mx) < 1e-9, s"image $i cell ($ci,$rj) sx")
        assert(math.abs(sy - 4 * my) < 1e-9, s"image $i cell ($ci,$rj) sy")
        // spun cells are still 4.5-sided squares (spin preserves shape)
        val xs = Seq(c.getDouble(3), c.getDouble(5), c.getDouble(7), c.getDouble(9))
        val ys = Seq(c.getDouble(4), c.getDouble(6), c.getDouble(8), c.getDouble(10))
        val d01 = math.hypot(xs(1) - xs(0), ys(1) - ys(0))
        assert(math.abs(d01 - 4.5) < 1e-9, "edge length preserved")
      }
    }
  }

  test("tile-based maskOrientation equals the per-image moments") {
    val tiles = Tiler.tiles(meshImgs, 24, Tiler.resForCellSize(8.0))
    val byTiles = Mesh.maskOrientation(tiles).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (i <- 0 until 6) {
      val want = if (i % 2 == 0) 0.0 else math.Pi / 2
      assert(math.abs(byTiles(f"g$i%03d") - want) < 1e-12, s"image $i orient")
    }
  }

  test("imAngle: closed-form axes + interior counts on both parities") {
    val imgs8 = spark.createDataset(GridImages.meshImages(8).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val tiles = Tiler.multiTiles(imgs8, 64, Tiler.resForCellSize(64.0), halo = 1)
    val rows = Mesh.imAngle(tiles, tileSize = 64).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.size == 8)
    for (i <- 0 until 8) {
      val (x0, y0, x1, y1) = GridImages.meshRect(i.toLong)
      val (a1, a2, n, nInt) = rows(f"g$i%03d")
      val wantA1 = if (i % 2 == 0) math.Pi else math.Pi / 2
      assert(math.abs(a1 - wantA1) < 1e-12, s"axis1 image $i")
      assert(math.abs(a2 - (wantA1 - math.Pi / 2)) < 1e-12, s"axis2 image $i")
      assert(n == (x1 - x0 + 1).toLong * (y1 - y0 + 1), s"n image $i")
      assert(nInt == (x1 - x0 - 1).toLong * (y1 - y0 - 1), s"n_int image $i")
    }
  }

  test("imAngle is tile-size invariant (cross-tile moments + perim)") {
    val big = Mesh.imAngle(
      Tiler.multiTiles(meshImgs, 64, Tiler.resForCellSize(64.0), halo = 1),
      tileSize = 64).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val small = Mesh.imAngle(
      Tiler.multiTiles(meshImgs, 8, Tiler.resForCellSize(64.0), halo = 1),
      tileSize = 8).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(big.length == small.length && big.zip(small).forall {
      case ((ia, (aa, na, ii)), (ib, (ab, nb, jb))) =>
        ia == ib && math.abs(aa - ab) < 1e-9 && na == nb && ii == jb
    })
  }

  test("imAngle equals a naive whole-image replay on scattered-patch masks") {
    // maskImages plants non-rectangular scattered class patches — a
    // nontrivial mu11; the naive recomputes moments + bwperim from the
    // decoded pixels with fresh loops
    val imgs = spark.createDataset(GridImages.maskImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = Mesh.imAngle(
      Tiler.multiTiles(imgs, 16, Tiler.resForCellSize(64.0), halo = 1),
      tileSize = 16).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    GridImages.maskImages(4).foreach { im =>
      val v = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      def bright(x: Int, y: Int) =
        x >= 0 && x < im.w && y >= 0 && y < im.h && v(y * im.w + x) > 0
      var n = 0L; var sx = 0.0; var sy = 0.0
      var sxx = 0.0; var syy = 0.0; var sxy = 0.0; var nInt = 0L
      for (y <- 0 until im.h; x <- 0 until im.w if bright(x, y)) {
        n += 1; sx += x; sy += y
        sxx += x.toDouble * x; syy += y.toDouble * y; sxy += x.toDouble * y
        if (bright(x - 1, y) && bright(x + 1, y) &&
            bright(x, y - 1) && bright(x, y + 1)) nInt += 1
      }
      val theta0 = 0.5 * math.atan2(2 * (sxy - sx * sy / n),
        (sxx - sx * sx / n) - (syy - sy * sy / n))
      val theta = if (theta0 < 0) theta0 + math.Pi else theta0
      val (a1, a2, gn, gInt) = got(im.image_id)
      assert(math.abs(a1 - (math.Pi - theta)) < 1e-9, s"${im.image_id} axis1")
      assert(math.abs(a2 - (math.Pi - theta - math.Pi / 2)) < 1e-9,
        s"${im.image_id} axis2")
      assert(gn == n && gInt == nInt, s"${im.image_id} counts")
    }
  }

  test("imAngle bwperim: image-border bright pixels are perimeter") {
    // an all-bright 8x6 image touches every border: out-of-image counts
    // as background (mahotas pads with 0), so interior = 6x4
    val b0 = Array.fill(8 * 6)(90f)
    val enc = graft.core.PixelCodec.encode(
      graft.core.PixelCodec.FmtRawLe, 8, 6, Array(b0))
    val img = ImageRow("b000", enc, 8, 6, graft.core.PixelCodec.FmtRawLe,
      "border", 0L, x_min = 0.0, y_max = 0.0, px = 1.0)
    val ds = spark.createDataset(Seq(img))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val r = Mesh.imAngle(
      Tiler.multiTiles(ds, 64, Tiler.resForCellSize(64.0), halo = 1),
      tileSize = 64).collect().head
    assert(r.getLong(3) == 48L && r.getLong(4) == 24L)
  }

  test("dedupe tripwire: non-adjacent duplicate tiles fail loudly") {
    // shuffled-then-fed tiles violate the straight-off-the-tiler
    // contract; the tripwire must raise, not silently double-count
    val t = TileRow("g000", 0L, 0, 0, 0.0, 0.0, 1.0, 0,
      Array.fill(4)(1f), 2, 2, Float.NaN)
    val other = t.copy(tx = 1)
    val bad = spark.createDataset(Seq(t, other, t))(
      org.apache.spark.sql.Encoders.product[TileRow]).coalesce(1)
    val e = intercept[org.apache.spark.SparkException] {
      Mesh.meshFromRaster(bad).count()
    }
    def msg(x: Throwable): String =
      Option(x).map(t => t.getMessage + msg(t.getCause)).getOrElse("")
    assert(msg(e).contains("non-adjacent duplicate tile"))
  }

  test("maskOrientation drops all-dark images instead of emitting NaN") {
    import graft.operators.{Mesh, Tiler}
    val dark = img1("dk", Array.fill(64)(0f), 8, 8)
    val lit0 = img1("lt", Array.tabulate(64)(i => if (i % 8 == i / 8) 5f else 0f), 8, 8)
    val tiles = Tiler.tiles(Seq(dark, lit0).toDS, 8, Tiler.resForCellSize(8.0))
    val rows = Mesh.maskOrientation(tiles).collect()
    assert(rows.map(_.getString(0)).toSet == Set("lt"),
      "all-dark image must be dropped, not NaN")
    assert(!rows.exists(r => r.getDouble(1).isNaN))
  }
}
