package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.core.PixelCodec
import graft.gen.GridImages
import graft.operators.{Augment, ChipRow, ConvNet, Tiler}

/** Augment — the reference's get_training_augmentation chain
  * (convnet.py:233-242), cv2norm (convnet.py:258-262) and the iou_score
  * validation metric (convnet.py:365-374), vs naive recomputation. */
class AugmentSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import TileFixtures.img1

  /** 3x2 asymmetric chip: band values = y*10 + x, mask = 100 + y*10+x. */
  private def tiny: ChipRow = {
    val b = Array.tabulate(6)(i => i match { case p => ((p / 3) * 10 + p % 3).toFloat })
    ChipRow("t", 0, 0, 3, 2, Array(b), b.map(_ + 100f), label = 1)
  }

  private def chips(n: Int = 1) = {
    val imgs = spark.createDataset(GridImages.images(n, 2).toSeq)(
      Encoders.product[ImageRow])
    val masks = spark.createDataset(GridImages.maskImages(n).toSeq)(
      Encoders.product[ImageRow])
    ConvNet.collectChipsLabeled(imgs, masks, chipSize = 16, includeZero = true)
  }

  test("hflip / vflip / rot90 index math vs hand-written expectations") {
    val ch = tiny
    // src: row0 = 0 1 2, row1 = 10 11 12
    assert(Augment.hflip(ch).bands(0).toSeq == Seq(2f, 1f, 0f, 12f, 11f, 10f))
    assert(Augment.vflip(ch).bands(0).toSeq == Seq(10f, 11f, 12f, 0f, 1f, 2f))
    // np.rot90 k=1 (ccw): 3x2 -> 2x3, first out row = last input column
    val r1 = Augment.rot90(ch, 1)
    assert((r1.w, r1.h) == (2, 3))
    assert(r1.bands(0).toSeq == Seq(2f, 12f, 1f, 11f, 0f, 10f))
    // rot180 == hflip then vflip; rot90(k=4) == identity; negative k wraps
    assert(Augment.rot90(ch, 2).bands(0).toSeq ==
      Augment.vflip(Augment.hflip(ch)).bands(0).toSeq)
    assert(Augment.rot90(ch, 4).bands(0).toSeq == ch.bands(0).toSeq)
    assert(Augment.rot90(ch, -1).bands(0).toSeq ==
      Augment.rot90(ch, 3).bands(0).toSeq)
    // mask moves with the bands through the whole chain
    val chained = Augment.rot90(Augment.vflip(Augment.hflip(ch)), 1)
    assert(chained.mask.toSeq == chained.bands(0).map(_ + 100f).toSeq)
  }

  test("padIfNeeded: reflect-101 and constant-zero semantics") {
    val ch = tiny // 3x2
    // constant pad 3x2 -> 5x4: offX = 1, offY = 1
    val c = Augment.padIfNeeded(ch, 5, 4, reflect = false)
    assert((c.w, c.h) == (5, 4))
    assert(c.bands(0).toSeq == Seq(
      0f, 0f, 0f, 0f, 0f,
      0f, 0f, 1f, 2f, 0f,
      0f, 10f, 11f, 12f, 0f,
      0f, 0f, 0f, 0f, 0f))
    // reflect-101 pad 3x2 -> 5x3 (pad < size on both axes):
    // offX=1, offY=0 -> bottom row reflects to row index 0 (2*2-2-2=0)
    val r = Augment.padIfNeeded(ch, 5, 3, reflect = true)
    assert(r.bands(0).toSeq == Seq(
      1f, 0f, 1f, 2f, 1f,
      11f, 10f, 11f, 12f, 11f,
      1f, 0f, 1f, 2f, 1f))
    // no-op when already at least min size — same arrays, not copies
    assert(Augment.padIfNeeded(ch, 3, 2).bands(0) eq ch.bands(0))
    // reflect pad >= size fails loudly (reflect-101 undefined there)
    intercept[IllegalArgumentException] {
      Augment.padIfNeeded(ch, 9, 2, reflect = true)
    }
  }

  test("trainingAugmentation == per-chip naive chain; parallelism-invariant") {
    val cs = chips(2)
    val out = Augment.trainingAugmentation(cs, minSize = 20)
      .collect().map(c => ((c.image_id, c.cx, c.cy), c)).toMap
    val expected = cs.collect()
    assert(expected.nonEmpty)
    expected.foreach { ch =>
      val k = Augment.latticeK(ch)
      val want = Augment.padIfNeeded(
        Augment.rot90(Augment.vflip(Augment.hflip(ch)), k), 20, 20)
      val got = out((ch.image_id, ch.cx, ch.cy))
      assert((got.w, got.h) == (20, 20))
      assert(got.bands(0).toSeq == want.bands(0).toSeq)
      assert(got.bands(1).toSeq == want.bands(1).toSeq)
      assert(got.mask.toSeq == want.mask.toSeq)
    }
    // all four rotations occur across the 5x3 chip lattice
    val ks = expected.map(Augment.latticeK).toSet
    assert(ks == Set(0, 1, 2, 3), s"lattice misses rotations: $ks")
    // zero shuffle: a pure per-row map (the chip-collection image/mask
    // join is a BroadcastExchange — no rows move by key there)
    val plan = Augment.trainingAugmentation(cs, minSize = 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"augmentation must not shuffle:\n$plan")
    // repartitioned input gives the identical multiset
    val out7 = Augment.trainingAugmentation(cs.repartition(7), minSize = 20)
      .collect().map(c => ((c.image_id, c.cx, c.cy), c.bands(0).toSeq)).toMap
    assert(out7 == out.map { case (k, c) => (k, c.bands(0).toSeq) })
  }

  test("cv2norm: min-max to [0,1], constant image -> zeros, tiles == whole") {
    val imgs = spark.createDataset(GridImages.images(3, 2).toSeq)(
      Encoders.product[ImageRow])
    val normed = Augment.cv2norm(imgs).collect().map(i => i.image_id -> i).toMap
    GridImages.images(3, 2).foreach { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val all = dec.bands.flatten
      val mn = all.min.toDouble; val rng = all.max.toDouble - mn
      val got = normed(img.image_id)
      val gdec = PixelCodec.decode(got.bytes, got.fmt, got.w, got.h)
      dec.bands.zip(gdec.bands).foreach { case (src, out) =>
        src.zip(out).foreach { case (v, o) =>
          assert(o == ((v - mn) / rng).toFloat)
        }
      }
    }
    // constant image: rng == 0 -> all zeros (cv2 convention)
    val const = GridImages.images(1, 1).head
    val flat = PixelCodec.encode(const.fmt, const.w, const.h,
      Array(Array.fill(const.w * const.h)(7f)))
    val cOut = Augment.cv2norm(spark.createDataset(
      Seq(const.copy(bytes = flat)))(Encoders.product[ImageRow])).head()
    assert(PixelCodec.decode(cOut.bytes, cOut.fmt, cOut.w, cOut.h)
      .bands(0).forall(_ == 0f))
    // tiled scale path agrees with the whole-image path, bit for bit
    val single = spark.createDataset(GridImages.images(3, 1).toSeq)(
      Encoders.product[ImageRow])
    val tiles = Tiler.tiles(single, tileSize = 32, cellRes = 16)
    val tiled = Augment.cv2normTiles(tiles).collect()
    val whole = Augment.cv2norm(single).collect()
      .map(i => i.image_id ->
        PixelCodec.decode(i.bytes, i.fmt, i.w, i.h).bands(0)).toMap
    assert(tiles.count() == tiled.length.toLong)
    tiled.foreach { t =>
      val ref = whole(t.image_id)
      var r = 0
      while (r < t.th) {
        var c = 0
        while (c < t.tw) {
          val gx = t.tx * 32 + c; val gy = t.ty * 32 + r
          assert(t.pixels(r * t.tw + c) == ref(gy * GridImages.W + gx),
            s"tile mismatch at ${t.image_id} ($gx,$gy)")
          c += 1
        }
        r += 1
      }
    }
  }

  test("iouSeg: identity -> 1.0, disjoint -> 0.0, counts vs naive") {
    val masks = spark.createDataset(GridImages.maskImages(2).toSeq)(
      Encoders.product[ImageRow])
    val self = Augment.iouSeg(masks, masks, Array(1, 2, 3)).collect()
    assert(self.nonEmpty && self.forall(_.getAs[Double]("iou") == 1.0))
    // predictions from the fixture net vs the masks: recompute naively
    val imgs = spark.createDataset(GridImages.images(2, 2).toSeq)(
      Encoders.product[ImageRow])
    val pred = ConvNet.segPredict(imgs, ConvNet.fixtureNet)
    val rows = Augment.iouSeg(pred, masks, Array(1, 2)).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val predPx = pred.collect()
      .map(i => i.image_id -> PixelCodec.decode(i.bytes, i.fmt, i.w, i.h).bands(0)).toMap
    GridImages.maskImages(2).foreach { m =>
      val mv = PixelCodec.decode(m.bytes, m.fmt, m.w, m.h).bands(0)
      val pv = predPx(m.image_id)
      Seq(1, 2).foreach { c =>
        val inter = pv.indices.count(i => pv(i) == c && mv(i) == c).toLong
        val np = pv.count(_ == c).toLong
        val nm = mv.count(_ == c).toLong
        assert(rows((m.image_id, c)) == ((inter, np, nm)))
      }
    }
    assert(rows.exists(_._2._1 > 0) && rows.exists(t => t._2._2 != t._2._3))
    // iouChips macro average vs a chip-local naive fold (chip-local edge
    // clamping differs from whole-image clamping at chip borders, so the
    // reference quantity is the fold over the SAME chips)
    val chipset = ConvNet.collectChipsLabeled(imgs, masks,
      chipSize = 16, includeZero = true)
    val got = graft.operators.ConvTrain.iouChips(chipset, ConvNet.fixtureNet)
    val naive = {
      val cs = chipset.collect()
      Seq(1, 2).map { c =>
        var inter = 0L; var np = 0L; var nm = 0L
        cs.foreach { ch =>
          val planes = ConvNet.forward(ch.bands, ch.w, ch.h, ConvNet.fixtureNet)
          ch.mask.indices.foreach { p =>
            val pvv = ConvNet.decide(planes, p, ConvNet.fixtureNet.classes)
            if (pvv == c && ch.mask(p) == c) inter += 1
            if (pvv == c) np += 1
            if (ch.mask(p) == c) nm += 1
          }
        }
        val uni = np + nm - inter
        if (uni == 0L) 1.0 else inter.toDouble / uni
      }
    }
    assert(got == naive.sum / naive.length)
    // parallelism-invariant to the bit (integer counts)
    assert(graft.operators.ConvTrain.iouChips(chipset.repartition(7),
      ConvNet.fixtureNet) == got)
  }

  test("iouSeg fails loudly on an unpaired image_id") {
    val masks = spark.createDataset(GridImages.maskImages(2).toSeq)(
      Encoders.product[ImageRow])
    val one = masks.filter(_.image_id == "g000")
    def msg(x: Throwable): String =
      Option(x).map(t => t.getMessage + msg(t.getCause)).getOrElse("")
    // a prediction with no mask
    val e1 = intercept[Exception] {
      Augment.iouSeg(masks, one, Array(1)).collect()
    }
    assert(msg(e1).contains("has no mask"))
    // a mask with no prediction
    val e2 = intercept[Exception] {
      Augment.iouSeg(one, masks, Array(1)).collect()
    }
    assert(msg(e2).contains("has no prediction"))
  }

  test("iouChips single-logit: binary foreground IoU on a 0/255 mask") {
    // training's target() treats any mv > 0 as foreground for a
    // single-logit net — scoring must use the SAME convention, or a
    // 0/255 mask reads all-background and a degenerate epoch wins the
    // checkpoint. Identity 1x1 net: pred foreground = pixel > 0.
    val net = graft.operators.SegNet(
      Seq(graft.operators.ConvLayer(1, 1, 1, Array(1f), Array(0f),
        relu = false)), Array(1))
    val chip = graft.operators.ChipRow("c0", 0, 0, 2, 2,
      Array(Array(-1f, 5f, -2f, 3f)), Array(255f, 0f, 0f, 255f), 1)
    val ds = spark.createDataset(Seq(chip))(
      org.apache.spark.sql.Encoders.product[graft.operators.ChipRow])
    // pred fg = {1, 3}, mask fg = {0, 3}: inter 1, union 3
    val got = graft.operators.ConvTrain.iouChips(ds, net)
    assert(math.abs(got - 1.0 / 3) < 1e-15, s"binary IoU, got $got")
    // and a degenerate all-background prediction must NOT score 1.0
    val allBg = chip.copy(bands = Array(Array(-1f, -5f, -2f, -3f)))
    val got2 = graft.operators.ConvTrain.iouChips(spark.createDataset(
      Seq(allBg))(org.apache.spark.sql.Encoders.product[graft.operators.ChipRow]), net)
    assert(got2 == 0.0, s"all-background must score 0, got $got2")
  }

  test("iouChipsSmp: smp micro thresholded IoU vs a naive replay") {
    import graft.operators.{ConvNet, ConvTrain}
    val masks = spark.createDataset(GridImages.maskImages(2).toSeq)(
      Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.images(2, 2).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(imgs, masks,
      chipSize = 16, includeZero = true)
    val net = ConvNet.fixtureNet
    val got = ConvTrain.iouChipsSmp(chips, net)
    // naive: softmax probs > 0.5 vs one-hot targets, micro over all
    var inter = 0L; var np = 0L; var nm = 0L
    chips.collect().foreach { ch =>
      val planes = ConvNet.forward(ch.bands, ch.w, ch.h, net)
      val nCls = net.classes.length
      ch.mask.indices.foreach { p =>
        val logits = (0 until nCls).map(c => planes(c)(p).toDouble)
        val m = logits.max
        val exps = logits.map(l => math.exp(l - m))
        val z = exps.sum
        (0 until nCls).foreach { c =>
          val pr = exps(c) / z > 0.5
          val gt = ch.mask(p) == net.classes(c)
          if (pr && gt) inter += 1
          if (pr) np += 1
          if (gt) nm += 1
        }
      }
    }
    val want = (inter + 1e-7) / ((np + nm - inter) + 1e-7)
    assert(got == want, s"micro IoU: $got vs $want")
    // parallelism-invariant to the bit (integer counts)
    assert(ConvTrain.iouChipsSmp(chips.repartition(7), net) == got)
    // binary: sigmoid threshold == logit > 0, same counts as the
    // hand-derived iouChips example above (inter 1, union 3)
    val bnet = graft.operators.SegNet(
      Seq(graft.operators.ConvLayer(1, 1, 1, Array(1f), Array(0f),
        relu = false)), Array(1))
    val chip = graft.operators.ChipRow("c0", 0, 0, 2, 2,
      Array(Array(-1f, 5f, -2f, 3f)), Array(255f, 0f, 0f, 255f), 1)
    val b = ConvTrain.iouChipsSmp(spark.createDataset(Seq(chip))(
      Encoders.product[graft.operators.ChipRow]), bnet)
    assert(math.abs(b - (1 + 1e-7) / (3 + 1e-7)) < 1e-18, s"binary smp IoU $b")
  }

  test("cv2normTiles: NaN nodata survives the rng==0 branch and the stats") {
    import graft.operators.{Augment, Tiler}
    // constant valid value + NaN fill: stats must ignore the NaNs and
    // the rescale must NOT rewrite them to 0f (NaN == NaN is false, so
    // a plain equality nodata guard is dead for the tiler's default
    // sentinel)
    val px = Array.tabulate(16)(i => if (i % 3 == 0) Float.NaN else 7f)
    val img = img1("n", px, 4, 4)
    val tiles = Tiler.tiles(Seq(img).toDS, tileSize = 2, cellRes = 4)
    val out = Augment.cv2normTiles(tiles).collect()
    assert(out.nonEmpty)
    for (t <- out; i <- t.pixels.indices) {
      val v = t.pixels(i)
      assert(v.isNaN || v == 0f, s"got $v") // valid 7f -> 0f (rng==0)
    }
    assert(out.exists(_.pixels.exists(_.isNaN)), "NaN nodata was rewritten")
    // finite-sentinel behavior unchanged: sentinel preserved, ramp to [0,1]
    val img2 = img1("m", Array(-9999f, 0f, 5f, 10f), 2, 2)
    val t2 = Tiler.tiles(Seq(img2).toDS, tileSize = 2, cellRes = 4,
      nodata = -9999f)
    val o2 = Augment.cv2normTiles(t2).collect().head
    assert(o2.pixels.sorted.sameElements(Array(-9999f, 0f, 0.5f, 1f)))
  }
}
