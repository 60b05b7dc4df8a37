package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Geom, GridIndex, PixelCodec}
import graft.operators._

/** Round-2 fix gates: temporal median/percentile, general polygon clip,
  * buffer, local thresholds, DEM kernels, scalable FID assignment. (The
  * hole-winding PIP fallback and JTS gates live in GeomSpec and
  * SpatialFunctionsSpec, the even-n median in ZonalSpec, the negative
  * GLCM offsets in ShapePropsGlcmSpec.) */
class Round2FixSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

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

  test("clipToPolygons: concave clip conserves area; outside drops") {
    val subject = PolyRow(1L, 0,
      Array(Array(Pt(0, 0), Pt(100, 0), Pt(100, 100), Pt(0, 100))), 1, "s", 0.0)
    // concave L fully inside the subject
    val ell = PolyRow(7L, 0, Array(Array(
      Pt(10, 10), Pt(60, 10), Pt(60, 30), Pt(30, 30), Pt(30, 70), Pt(10, 70))),
      1, "ell", 0.0)
    val far = PolyRow(8L, 0,
      Array(Array(Pt(500, 500), Pt(600, 500), Pt(600, 600), Pt(500, 600))), 1, "f", 0.0)
    val out = VectorOps.clipToPolygons(Seq(subject).toDS, Seq(ell, far)).collect()
    assert(out.forall(_.poly_id == 1L * 100000 + 7L))
    val ellArea = Geom.area(ell.rings.map(_.map(q => (q.x, q.y))))
    val clippedArea = out.map(p => Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
    assert(math.abs(clippedArea - ellArea) < 1e-9, s"$clippedArea vs $ellArea")
    // partial overlap: clip half in, half out
    val half = PolyRow(9L, 0,
      Array(Array(Pt(80, 10), Pt(120, 10), Pt(120, 50), Pt(80, 50))), 1, "h", 0.0)
    val out2 = VectorOps.clipToPolygons(Seq(subject).toDS, Seq(half)).collect()
    val a2 = out2.map(p => Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
    assert(math.abs(a2 - 20.0 * 40.0) < 1e-9, s"partial clip area $a2")
  }

  test("buffer: dilated square area between polygonized and exact bounds") {
    val sq = PolyRow(1L, 0,
      Array(Array(Pt(0, 0), Pt(10, 0), Pt(10, 10), Pt(0, 10))), 1, "sq", 0.0)
    val d = 2.0
    val buf = VectorOps.buffer(Seq(sq).toDS, d).collect()
    val a = buf.map(p => Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
    val exact = 100.0 + 4 * 10 * d + math.Pi * d * d
    assert(a > exact - 0.5 && a <= exact + 1e-6, s"buffered area $a vs $exact")
    // erosion
    val shrunk = VectorOps.buffer(Seq(sq).toDS, -2.0).collect()
    val a2 = shrunk.map(p => Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
    assert(math.abs(a2 - 36.0) < 1e-9, s"eroded area $a2")
  }

  test("localThreshold niblack/sauvola: step edge behaves per formula") {
    val w = 32; val h = 16
    val b = Array.tabulate(w * h)(i => if (i % w < 16) 0f else 100f)
    val img = ImageRow("t", PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(b)),
      w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, h.toDouble, 1.0)
    def mask(algo: String) = {
      val out = ImageOps.localThreshold(Seq(img).toDS, algo, window = 7, k = 0.2)
        .collect().head
      PixelCodec.decode(out.bytes, out.fmt, w, h).bands(0)
    }
    val nb = mask("niblack")
    // deep in flat regions t == m == v -> 0; just right of the edge the
    // local mean dips below 100 -> 1
    assert(nb(8 * w + 2) == 0f && nb(8 * w + 29) == 0f)
    assert(nb(8 * w + 17) == 1f)
    val sv = mask("sauvola")
    // flat bright: t = 100*(1 + 0.2*(0/128 - 1)) = 80 < 100 -> 1; flat dark 0
    assert(sv(8 * w + 29) == 1f && sv(8 * w + 2) == 0f)
  }

  test("localThreshold: a NaN pixel corrupts ONLY its window, not all down-right") {
    val w = 32; val h = 16
    val base = Array.tabulate(w * h)(i => if (i % w < 16) 0f else 100f)
    val img0 = ImageRow("t", PixelCodec.encode(PixelCodec.FmtRawLe, w, h,
      Array(base)), w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, h.toDouble, 1.0)
    val bNaN = base.updated(2 * w + 2, Float.NaN) // NaN at (2, 2)
    val imgN = img0.copy(bytes =
      PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(bNaN)))
    def mask(img: ImageRow) = {
      val out = ImageOps.localThreshold(Seq(img).toDS, "sauvola",
        window = 7, k = 0.2).collect().head
      PixelCodec.decode(out.bytes, out.fmt, w, h).bands(0)
    }
    val clean = mask(img0); val dirty = mask(imgN)
    // inside the NaN's 7x7 window: threshold NaN -> v > NaN false -> 0
    assert(dirty(2 * w + 2) == 0f && dirty(4 * w + 4) == 0f)
    // OUTSIDE the window the outputs must be identical — the prefix-sum
    // poisoning bug zeroed everything down-right of the NaN
    var i = 0
    while (i < w * h) {
      val x = i % w; val y = i / w
      if (math.abs(x - 2) > 3 || math.abs(y - 2) > 3)
        assert(dirty(i) == clean(i), s"($x, $y) diverged outside the window")
      i += 1
    }
  }

  test("demProcess: plane gradient gives known slope/aspect; hillshade bounded") {
    val w = 16; val h = 16
    val b = Array.tabulate(w * h)(i => (2 * (i % w)).toFloat) // dz/dx = 2
    val img = ImageRow("d", PixelCodec.encode(PixelCodec.FmtRawLe, w, h, Array(b)),
      w, h, PixelCodec.FmtRawLe, "c", 0L, 0.0, h.toDouble, 1.0)
    def band(prop: String) = {
      val out = ImageOps.demProcess(Seq(img).toDS, prop).collect().head
      PixelCodec.decode(out.bytes, out.fmt, w, h).bands(0)
    }
    val sl = band("slope"); val as = band("aspect"); val hs = band("hillshade")
    val i = 8 * w + 8 // interior
    assert(math.abs(sl(i) - math.toDegrees(math.atan(2.0))) < 1e-4)
    assert(math.abs(as(i) - 270.0) < 1e-4, s"aspect ${as(i)}") // faces -x = west
    assert(hs.forall(v => v >= 0f && v <= 255f))
    // flat image: slope 0, aspect flagged, hillshade constant
    val flat = ImageRow("f", PixelCodec.encode(PixelCodec.FmtRawLe, 8, 8,
      Array(Array.fill(64)(5f))), 8, 8, PixelCodec.FmtRawLe, "c", 0L, 0.0, 8.0, 1.0)
    val fsl = ImageOps.demProcess(Seq(flat).toDS, "slope").collect().head
    assert(PixelCodec.decode(fsl.bytes, fsl.fmt, 8, 8).bands(0).forall(_ == 0f))
    val fas = ImageOps.demProcess(Seq(flat).toDS, "aspect").collect().head
    assert(PixelCodec.decode(fas.bytes, fas.fmt, 8, 8).bands(0).forall(_ == -9999f))
  }

  test("writeIdField: dense 1..n ids in order, no global single-partition sort") {
    val df = spark.range(1000).select((col("id") * 37 % 1000).as("k"))
    val out = VectorOps.writeIdField(df.repartition(8), "k").collect()
    assert(out.length == 1000)
    val byK = out.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(byK.sameElements(1L to 1000L), "fid must follow k order densely")
  }

  test("sqlFilter runs user SQL over the layer view; filterLabel leaves non-matches NULL") {
    val layer = Seq((1L, "a", 10), (2L, "b", 300), (3L, "a", 500))
      .toDF("id", "grp", "m")
    val filtered = VectorOps.sqlFilter(layer,
      "SELECT id, m FROM layer WHERE grp = 'a' AND m > 100").collect()
    assert(filtered.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((3L, 500)))
    val labeled = VectorOps.filterLabel(layer, col("m") >= 300, "lab", "keep")
      .select("id", "lab").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(labeled == Set((1L, null), (2L, "keep"), (3L, "keep")),
      "matching rows labeled, non-matching rows NULL (OGR leaves the field unset)")
  }

  test("hex-ring kNN == square-grid kNN (both exact by guard+fallback)") {
    import graft.queries.Queries
    val grid = Queries.qKnn(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Int)].collect().toSet
    val hex = Queries.qKnnHex(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(hex == grid)
    assert(hex.nonEmpty)
  }

  test("clipToPolygons on rect layers == clipToRects (independent paths)") {
    val polys = graft.gen.Synth.polygons(nExtra = 4)
    val rects = Seq(
      (0L, Geom.BBox(-100.0, -100.0, 50.0, 50.0)),
      (1L, Geom.BBox(800.0, 800.0, 1000.0, 1000.0)))
    val viaRects = VectorOps.clipToRects(spark.createDataset(polys.toSeq), rects)
      .collect().groupBy(_.poly_id).map { case (id, ps) =>
        id -> ps.map(p => Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
      }
    val rectPolys = rects.map { case (id, b) =>
      PolyRow(id, 0, Array(Array(Pt(b.x0, b.y0), Pt(b.x1, b.y0),
        Pt(b.x1, b.y1), Pt(b.x0, b.y1))), 1, s"r$id", 0.0)
    }
    val viaJts = VectorOps.clipToPolygons(spark.createDataset(polys.toSeq), rectPolys)
      .collect().groupBy(_.poly_id).map { case (id, ps) =>
        id -> ps.map(p => Geom.area(p.rings.map(_.map(q => (q.x, q.y))))).sum
      }
    assert(viaJts.keySet == viaRects.keySet)
    viaJts.foreach { case (id, a) =>
      assert(math.abs(a - viaRects(id)) < 1e-9, s"poly $id: $a vs ${viaRects(id)}")
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

  test("hammingPairs fuzz: full recall on 64 random signatures, radii 1..15") {
    val rng = new graft.gen.Synth.Rng(123L)
    val sigs = (0 until 64).map(i => (i.toLong, rng.nextLong()))
    val df = sigs.toDF("id", "sig")
    val naive = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    for (radius <- Seq(1, 5, 11, 15)) {
      val got = graft.text.TextOps.hammingPairs(df, "id", "sig", radius)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == naive.filter(_._3 <= radius), s"radius $radius")
    }
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
}
