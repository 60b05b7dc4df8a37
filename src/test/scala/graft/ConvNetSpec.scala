package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.core.PixelCodec
import graft.gen.GridImages
import graft.operators.{ConvNet, ConvLayer, SegNet, Tiler, ImageOps}

class ConvNetSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // The deterministic 2-layer fixture net (weights are multiples of 1/8,
  // so every product/sum is exact in Float AND Double — the SQL oracle
  // recomputes bit-identical scores).
  val net: SegNet = ConvNet.fixtureNet

  def naivePad(b: Array[Float], w: Int, h: Int, r: Int): (Array[Float], Int, Int) = {
    // independent route: materialize an edge-replicated padded plane
    val pw = w + 2 * r; val ph = h + 2 * r
    val out = new Array[Float](pw * ph)
    for (y <- 0 until ph; x <- 0 until pw) {
      val yy = math.min(h - 1, math.max(0, y - r))
      val xx = math.min(w - 1, math.max(0, x - r))
      out(y * pw + x) = b(yy * w + xx)
    }
    (out, pw, ph)
  }

  def naiveForward(bands: Array[Array[Float]], w: Int, h: Int): Array[Array[Float]] =
    naiveForward2(bands, w, h, net)

  lazy val imgs = GridImages.images(6, bands = 2)
  lazy val ds = spark.createDataset(imgs.toSeq)

  test("forward pass equals independent padded-plane conv, bit-exact") {
    imgs.take(2).foreach { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val got = ConvNet.forward(dec.bands, img.w, img.h, net)
      val want = naiveForward(dec.bands, img.w, img.h)
      got.zip(want).foreach { case (g, w) => assert(g.sameElements(w)) }
    }
  }

  test("AXPY kernel is bit-exact for ARBITRARY (non-dyadic) nets and shapes") {
    // Random fractional weights/pixels make every product round in float
    // precision, so this gates the kernel's accumulation-ORDER and
    // float-product contracts (not just the exact-dyadic fixtures).
    // Shapes include w/h smaller than the kernel radius (full-clamp rows)
    // and 1-wide strips.
    val rng = new java.util.Random(20260822L)
    def rf(): Float = (rng.nextFloat() - 0.5f) * 1.7f
    val arb = SegNet(Seq(
      ConvLayer(3, 2, 5, Array.fill(3 * 2 * 25)(rf()), Array.fill(3)(rf()), relu = true),
      ConvLayer(2, 3, 3, Array.fill(2 * 3 * 9)(rf()), Array.fill(2)(rf()), relu = false),
      ConvLayer(2, 2, 1, Array.fill(2 * 2)(rf()), Array.fill(2)(rf()), relu = false)),
      Array(1, 2))
    for ((w, h) <- Seq((17, 13), (1, 9), (9, 1), (2, 2), (40, 3))) {
      val bands = Array.fill(2)(Array.fill(w * h)(rng.nextFloat() * 255f - 64f))
      val got = ConvNet.forward(bands, w, h, arb)
      val want = naiveForward2(bands, w, h, arb)
      got.zip(want).zipWithIndex.foreach { case ((g, e), pl) =>
        assert(g.sameElements(e), s"plane $pl at ${w}x$h")
      }
    }
  }

  test("segPredict burns convert_pred labels (highest channel wins ties)") {
    val pred = ConvNet.segPredict(ds, net).collect().map(i => i.image_id -> i).toMap
    imgs.foreach { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val planes = naiveForward(dec.bands, img.w, img.h)
      val p = pred(img.image_id)
      val cls = PixelCodec.decode(p.bytes, p.fmt, p.w, p.h).bands(0)
      for (i <- 0 until img.w * img.h) {
        val exp = if (planes(1)(i) >= planes(0)(i)) 2f else 1f
        assert(cls(i) == exp, s"pixel $i of ${img.image_id}")
      }
    }
  }

  test("haloed-tile prediction equals the whole-image pass (multi-cell tiles)") {
    // tileSize 24 with cellRes 16: tiles span several grid cells, so the
    // consecutive-dedupe path is exercised; halo = net.halo (=1+0).
    val whole = ConvNet.segPredict(ds, net).collect()
      .map(i => i.image_id -> PixelCodec.decode(i.bytes, i.fmt, i.w, i.h).bands(0)).toMap
    val tiled = ConvNet.segPredictTiles(
      Tiler.multiTiles(ds, tileSize = 24, cellRes = 16, halo = net.halo),
      net, tileSize = 24)
    val back = ImageOps.assemble(tiled, GridImages.W, GridImages.H,
      PixelCodec.FmtRawLe).collect()
    assert(back.length == imgs.length)
    back.foreach { im =>
      val got = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      assert(got.sameElements(whole(im.image_id)), im.image_id)
    }
  }

  test("single-logit net takes the binary path (score>0 -> 1)") {
    val bin = SegNet(Seq(ConvLayer(1, 2, 1,
      Array(0.125f, -0.125f), Array(-1f), relu = false)), Array(1))
    val pred = ConvNet.segPredict(ds, bin).collect().head
    val dec = PixelCodec.decode(pred.bytes, pred.fmt, pred.w, pred.h).bands(0)
    val src = imgs.find(_.image_id == pred.image_id).get
    val sd = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h)
    for (i <- 0 until pred.w * pred.h) {
      val s = 0.125f * sd.bands(0)(i) - 0.125f * sd.bands(1)(i) - 1f
      assert(dec(i) == (if (s > 0) 1f else 0f))
    }
  }

  lazy val masks = GridImages.maskImages(6)
  lazy val maskDs = spark.createDataset(masks.toSeq)

  test("collectChips drops all-zero-mask chips, keeps partial edge chips") {
    val chips = ConvNet.collectChips(ds, maskDs, chipSize = 16)(spark).collect()
    // naive
    var want = 0
    imgs.zip(masks).foreach { case (img, msk) =>
      val m = PixelCodec.decode(msk.bytes, msk.fmt, msk.w, msk.h).bands(0)
      for (cy <- 0 until img.h by 16; cx <- 0 until img.w by 16) {
        val cw = math.min(16, img.w - cx); val ch = math.min(16, img.h - cy)
        val vals = for (r <- 0 until ch; c <- 0 until cw)
          yield m((cy + r) * img.w + cx + c)
        if (vals.max > 0) want += 1
      }
    }
    assert(chips.length == want)
    chips.foreach { ch =>
      assert(ch.mask.max > 0)
      assert(ch.label == ch.mask.max.toInt)
      assert(ch.bands.length == 2 && ch.bands(0).length == ch.w * ch.h)
      // chip pixels equal the image window
      val src = imgs.find(_.image_id == ch.image_id).get
      val dec = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h)
      for (r <- 0 until ch.h; c <- 0 until ch.w)
        assert(ch.bands(0)(r * ch.w + c) == dec.bands(0)((ch.cy + r) * src.w + ch.cx + c))
    }
    // edge chips exist (80 % 16 == 0 but 48 % 16 == 0 too; use 24 for partials)
    val chips24 = ConvNet.collectChips(ds, maskDs, chipSize = 24)(spark).collect()
    assert(chips24.exists(c => c.w == 8) && chips24.exists(c => c.h == 24))
  }

  test("collectChipsLabeled include_zero keeps class-0 chips") {
    val withZero = ConvNet.collectChipsLabeled(ds, maskDs, 16, includeZero = true)(spark).collect()
    val noZero = ConvNet.collectChipsLabeled(ds, maskDs, 16, includeZero = false)(spark).collect()
    assert(withZero.length == imgs.length * 5 * 3) // all 15 chips per image
    assert(noZero.forall(_.label > 0))
    assert(withZero.count(_.label == 0) == withZero.length - noZero.length)
  }

  test("chipPredict pools scores then labels the whole chip") {
    val chips = ConvNet.collectChipsLabeled(ds, maskDs, 16, includeZero = true)(spark)
    val got = ConvNet.chipPredict(chips, net)(spark).collect()
      .map { case (id, cx, cy, l) => (id, cx, cy) -> l }.toMap
    // naive: mean-pool the naive forward planes per chip
    imgs.foreach { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      for (cy <- 0 until img.h by 16; cx <- 0 until img.w by 16) {
        val cw = math.min(16, img.w - cx); val ch = math.min(16, img.h - cy)
        val sub = dec.bands.map { b =>
          val out = new Array[Float](cw * ch)
          for (r <- 0 until ch; c <- 0 until cw)
            out(r * cw + c) = b((cy + r) * img.w + cx + c)
          out
        }
        val planes = naiveForward(sub, cw, ch)
        val pooled = planes.map(p => p.map(_.toDouble).sum / (cw * ch))
        val exp = if (pooled(1) >= pooled(0)) 2 else 1
        assert(got((img.image_id, cx, cy)) == exp, s"${img.image_id} ($cx,$cy)")
      }
    }
  }

  test("fitSegHead solves the ridge normal equations distributed") {
    import graft.operators.{SegNet => SN}
    val backbone = SN(net.layers.take(1), Array(1, 2, 3))
    val chips = ConvNet.collectChipsLabeled(ds, maskDs, 16, includeZero = true)(spark)
    val lambda = 1e-3
    val head = ConvNet.fitSegHead(chips, backbone, nClasses = 4, lambda)(spark)
    assert(head.outC == 4 && head.inC == 3 && head.k == 1)

    // independent check: accumulate X'X / X'Y naively over every chip
    // pixel, then verify the fitted W satisfies (X'X + lambda I) W = X'Y
    val d = 4; val C = 4
    val g = Array.ofDim[Double](d, d)
    val xy = Array.ofDim[Double](d, C)
    chips.collect().foreach { ch =>
      val planes = naiveForward2(ch.bands, ch.w, ch.h, backbone)
      for (i <- 0 until ch.w * ch.h) {
        val f = Array(planes(0)(i).toDouble, planes(1)(i), planes(2)(i), 1.0)
        val cls = ch.mask(i).toInt
        for (a <- 0 until d; b <- 0 until d) g(a)(b) += f(a) * f(b)
        for (a <- 0 until d) xy(a)(cls) += f(a)
      }
    }
    def w(oc: Int, ic: Int): Double =
      if (ic < 3) head.weights(oc * 3 + ic).toDouble else head.bias(oc).toDouble
    for (a <- 0 until d; oc <- 0 until C) {
      val lhs = (0 until d).map(b => (g(a)(b) + (if (a == b) lambda else 0)) * w(oc, b)).sum
      assert(math.abs(lhs - xy(a)(oc)) < 1e-6 * (1 + math.abs(xy(a)(oc))),
        s"normal-equation residual at ($a,$oc)")
    }

    // the composed net is a runnable segPredict net
    val composed = SN(backbone.layers :+ head, Array(0, 1, 2, 3))
    val pred = ConvNet.segPredict(ds, composed)(spark).collect()
    assert(pred.length == imgs.length)
  }

  private def naiveForward2(bands: Array[Array[Float]], w: Int, h: Int,
                            n: graft.operators.SegNet): Array[Array[Float]] = {
    var cur = bands
    n.layers.foreach { l =>
      val r = l.radius
      val padded = cur.map(naivePad(_, w, h, r))
      val out = Array.fill(l.outC)(new Array[Float](w * h))
      for (oc <- 0 until l.outC; y <- 0 until h; x <- 0 until w) {
        var s: Double = l.bias(oc)
        for (ic <- 0 until l.inC; dy <- 0 until l.k; dx <- 0 until l.k) {
          val (p, pw, _) = padded(ic)
          s += p((y + dy) * pw + x + dx) *
            l.weights(((oc * l.inC + ic) * l.k + dy) * l.k + dx)
        }
        out(oc)(y * w + x) = if (l.relu && s < 0) 0f else s.toFloat
      }
      cur = out
    }
    cur
  }

  test("classifyProb: per-pixel probabilities sum to 1, argmax agrees with classify") {
    import graft.operators.{Tiler, Training}
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(ds, 64, cellRes)
    val model = Training.CentroidModel(Array(1, 2, 3),
      Array(Array(10.0, 20.0), Array(50.0, 60.0), Array(90.0, 30.0)))
    val hard = Training.classify(tiles, model).collect()
      .map(t => (t.image_id, t.tx, t.ty) -> t.pixels).toMap
    val prob = Training.classifyProb(tiles, model).collect()
      .groupBy(t => (t.image_id, t.tx, t.ty))
    prob.foreach { case (key, rows) =>
      assert(rows.map(_.band).sorted.sameElements(Array(1, 2, 3)))
      val byCls = rows.map(t => t.band -> t.pixels).toMap
      val h = hard(key)
      for (i <- h.indices) {
        val ps = Array(1, 2, 3).map(c => byCls(c)(i).toDouble)
        assert(math.abs(ps.sum - 1.0) < 1e-6, s"prob sum at $i")
        val am = 1 + ps.indexOf(ps.max)
        // where the max is unique the probability argmax is the class
        if (ps.count(_ == ps.max) == 1) assert(am == h(i).toInt, s"argmax at $i")
      }
    }
  }

  test("maskBlock fills any-hit blocks with ones, leaves zero blocks") {
    val blocked = ConvNet.maskBlock(maskDs, blockSize = 16)(spark).collect()
    blocked.foreach { bm =>
      val got = PixelCodec.decode(bm.bytes, bm.fmt, bm.w, bm.h).bands(0)
      val src = masks.find(_.image_id == bm.image_id).get
      val m = PixelCodec.decode(src.bytes, src.fmt, src.w, src.h).bands(0)
      for (cy <- 0 until bm.h by 16; cx <- 0 until bm.w by 16) {
        val cw = math.min(16, bm.w - cx); val ch = math.min(16, bm.h - cy)
        val vals = for (r <- 0 until ch; c <- 0 until cw)
          yield m((cy + r) * bm.w + cx + c)
        val exp = if (vals.max > 0) 1f else 0f
        for (r <- 0 until ch; c <- 0 until cw)
          assert(got((cy + r) * bm.w + cx + c) == exp)
      }
    }
  }

  test("ConvScratch keyed by channel width: two nets share one scratch safely") {
    // fixtureNet (3ch layer0) and fixtureNet3 (4ch layer0) through ONE
    // scratch at the same (layer, n) — the outC-keyed cache must hand
    // each net full-width planes (the round-4 key returned the FIRST
    // caller's width to both)
    val scratch = new ConvNet.ConvScratch
    val w = 8; val h = 8
    val in2 = Array.fill(2)(Array.tabulate(w * h)(i => (i % 5).toFloat))
    val in3 = Array.fill(3)(Array.tabulate(w * h)(i => (i % 7).toFloat))
    val a = ConvNet.forward(in2, w, h, ConvNet.fixtureNet, scratch).map(_.clone)
    val b = ConvNet.forward(in3, w, h, ConvNet.fixtureNet3, scratch).map(_.clone)
    val aRef = ConvNet.forward(in2, w, h, ConvNet.fixtureNet)
    val bRef = ConvNet.forward(in3, w, h, ConvNet.fixtureNet3)
    assert(b.length == bRef.length && b.zip(bRef).forall { case (x, y) => x.sameElements(y) })
    // and going BACK to the first net still matches (cache not clobbered)
    val a2 = ConvNet.forward(in2, w, h, ConvNet.fixtureNet, scratch)
    assert(a.zip(aRef).forall { case (x, y) => x.sameElements(y) })
    assert(a2.zip(aRef).forall { case (x, y) => x.sameElements(y) })
  }

  test("collectChips fails fast on a seg/image shape mismatch") {
    val imgs = spark.createDataset(GridImages.images(1, 2).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val badMask = spark.createDataset(Seq(
      ImageOps.fromArray("g000", Array(Array.fill(100)(1f)), 10, 10,
        0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val ex = intercept[org.apache.spark.SparkException] {
      ConvNet.collectChips(imgs, badMask, chipSize = 16).collect()
    }
    assert(ex.getMessage.contains("mask") || ex.getCause != null)
  }

  test("segPredictTiles trips on non-adjacent duplicate tiles") {
    val ds = spark.createDataset(GridImages.images(2).toSeq)(
      Encoders.product[ImageRow])
    val net = ConvNet.fixtureNet
    // tileSize 24 at cellRes 16 -> multi-cell tiles (duplicate rows);
    // repartitioning breaks tiler adjacency, the shared tripwire fires
    val tiles = Tiler.multiTiles(ds, tileSize = 24, cellRes = 16,
      halo = net.halo).repartition(5)
    val e = intercept[Exception] {
      ConvNet.segPredictTiles(tiles, net, tileSize = 24).collect()
    }
    assert(Causes.messages(e).contains("non-adjacent duplicate"))
  }
}
