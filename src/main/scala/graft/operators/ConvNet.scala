package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.{ImageRow, TileRow}
import graft.core.PixelCodec

/** One 2-D convolution layer: `same`-size output with edge-replicated
  * padding (the engine's kernel convention, ImageOps.convolve3x3),
  * optional ReLU. Weights are [outC][inC][k][k] flattened row-major. */
final case class ConvLayer(
    outC: Int,
    inC: Int,
    k: Int,
    weights: Array[Float],
    bias: Array[Float],
    relu: Boolean) {
  require(k % 2 == 1, s"kernel size must be odd, got $k")
  require(weights.length == outC * inC * k * k,
    s"weights length ${weights.length} != $outC*$inC*$k*$k")
  require(bias.length == outC)
  def radius: Int = k / 2
}

/** A stack of conv layers — the engine's broadcastable stand-in for the
  * reference's torch segmentation models (convnet.py:431-547 semseg_pred
  * / chip_pred run an opaque `model` per block; here the model is a
  * concrete weight set the engine executes natively, so inference is a
  * deterministic distributed operator instead of a GPU round-trip). */
final case class SegNet(layers: Seq[ConvLayer], classes: Array[Int]) {
  require(layers.nonEmpty)
  layers.sliding(2).foreach {
    case Seq(a, b) => require(a.outC == b.inC,
      s"channel mismatch: ${a.outC} -> ${b.inC}")
    case _ =>
  }
  require(classes.length == layers.last.outC || layers.last.outC == 1,
    "classes must map final channels (or the net is single-logit binary)")
  /** Total receptive-field radius: the halo a tiled forward pass needs
    * so core outputs equal the whole-image pass. */
  def halo: Int = layers.map(_.radius).sum
}

/**
 * Spark-native CNN inference + chip generation — the distributed
 * re-expression of the reference's convnet block-prediction loops
 * (convnet.py:431-547, convutils.py:559-759) and chip collectors
 * (convnet.py:549-762). Training the weights is delegated to the model
 * provider (the reference trains via torch on a GPU,
 * convnet.py:50-428 — model FITTING is not a data-parallel relational
 * operator); everything downstream of a weight set — chip extraction,
 * whole-raster per-pixel prediction, per-chip labeling, mask blocking —
 * is the engine's job and runs as broadcast-weights map work with zero
 * shuffle.
 */
object ConvNet {

  /** Deterministic 2-layer fixture net: conv3x3(2->3, relu) ->
    * conv1x1(3->2), classes (1,2). Every weight/bias is a multiple of
    * 1/8 — exact in binary floating point — so with integer pixel
    * inputs the whole forward pass is EXACT in Float and Double alike
    * and a SQL oracle replays the scores bit-for-bit. */
  def fixtureNet: SegNet = {
    val w1 = Array.tabulate(3 * 2 * 9)(i => ((i * 5) % 7 - 3) / 8f)
    val b1 = Array.tabulate(3)(oc => oc / 8f)
    val w2 = Array.tabulate(2 * 3)(i => ((i * 3) % 5 - 2) / 8f)
    val b2 = Array.tabulate(2)(oc => (oc - 1) / 8f)
    SegNet(Seq(ConvLayer(3, 2, 3, w1, b1, relu = true),
      ConvLayer(2, 3, 1, w2, b2, relu = false)), Array(1, 2))
  }

  /** Soft-prob fixture builder: fixtureNet's shapes and index formulas
    * with every weight at 1/64 scale instead of 1/8, so the logits
    * land in ±8 and sigmoid/softmax neither saturates nor pins — the
    * fixtures the coupled-loss (Dice / LossBinary / LossMulti) oracles
    * train. Still exact: 1/64 is dyadic, so the whole forward pass
    * stays bit-replayable; softPreambleSql mirrors this ONE builder
    * parameterized by the head width. */
  private def softFixture(outC: Int): SegNet = {
    val w1 = Array.tabulate(3 * 2 * 9)(i => ((i * 5) % 7 - 3) / 64f)
    val b1 = Array.tabulate(3)(oc => oc / 64f)
    val w2 = Array.tabulate(outC * 3)(i => ((i * 3) % 5 - 2) / 64f)
    val b2 = Array.tabulate(outC)(oc => (oc - 1) / 64f)
    SegNet(Seq(ConvLayer(3, 2, 3, w1, b1, relu = true),
      ConvLayer(outC, 3, 1, w2, b2, relu = false)),
      Array.tabulate(outC)(_ + 1))
  }

  /** 2-channel softmax coupled-loss fixture (classes 1, 2). */
  def fixtureNetSoft: SegNet = softFixture(2)

  /** Single-logit variant — the binary-loss fixture (LossBinary,
    * sigmoid Dice). The one class targets mask > 0. */
  def fixtureNetBinary: SegNet = softFixture(1)

  /** 3-band bench variant: conv3x3(3->4, relu) -> conv1x1(4->3) — the
    * throughput-measurement net for the north-rule image table. */
  def fixtureNet3: SegNet = {
    val w1 = Array.tabulate(4 * 3 * 9)(i => ((i * 5) % 7 - 3) / 8f)
    val b1 = Array.tabulate(4)(oc => oc / 8f)
    val w2 = Array.tabulate(3 * 4)(i => ((i * 3) % 5 - 2) / 8f)
    val b2 = Array.tabulate(3)(oc => (oc - 1) / 8f)
    SegNet(Seq(ConvLayer(4, 3, 3, w1, b1, relu = true),
      ConvLayer(3, 4, 1, w2, b2, relu = false)), Array(1, 2, 3))
  }

  /** Edge-replicated `same` convolution forward pass over one window.
    * Accumulates in Double, stores layer outputs as Float (one rounding
    * per layer — the contract the SQL oracle mirrors by using weights
    * and inputs exact in binary). Returns [outC] planes of w*h.
    * Interior pixels take a clamp-free incremental-index fast path
    * (identical ic->dy->dx accumulation order, bit-equal results);
    * only the r-wide border pays the clamped taps. */
  /** Per-partition scratch: layer output planes are reused across tiles
    * (every index is overwritten, so no clearing) — drops the forward
    * pass's ~140 KB/tile allocation rate that pressures the collector
    * at high tile throughput. */
  final class ConvScratch {
    // outC is part of the key: one scratch serving two nets that differ
    // in channel width at the same (layer, n) must allocate per net, not
    // silently hand back wrong-width planes
    private val cache =
      scala.collection.mutable.HashMap.empty[(Int, Int, Int), Array[Array[Float]]]
    private[ConvNet] def planes(layer: Int, outC: Int, n: Int): Array[Array[Float]] =
      cache.getOrElseUpdate((layer, outC, n), Array.fill(outC)(new Array[Float](n)))
  }

  def forward(bands: Array[Array[Float]], w: Int, h: Int,
              net: SegNet): Array[Array[Float]] = forward(bands, w, h, net, null)

  /** With a non-null scratch the RETURNED planes are scratch-owned and
    * valid only until the next forward call on the same scratch. */
  def forward(bands: Array[Array[Float]], w: Int, h: Int,
              net: SegNet, scratch: ConvScratch): Array[Array[Float]] = {
    var cur = bands
    val layers = net.layers.toArray
    var li = 0
    while (li < layers.length) {
      val l = layers(li)
      require(cur.length == l.inC, s"input has ${cur.length} bands, layer wants ${l.inC}")
      val out =
        if (scratch != null) scratch.planes(li, l.outC, w * h)
        else Array.fill(l.outC)(new Array[Float](w * h))
      layerForwardInto(cur, w, h, l, out)
      cur = out
      li += 1
    }
    cur
  }

  /** Per-thread double accumulator for the tap-AXPY kernel below,
    * reused across tiles (every index is overwritten before use, so no
    * clearing). Keyed by size so mixed tile widths in one partition
    * each keep their buffer. */
  private val axpyScratch =
    new ThreadLocal[scala.collection.mutable.HashMap[Int, Array[Double]]] {
      override def initialValue() =
        scala.collection.mutable.HashMap.empty[Int, Array[Double]]
    }
  private def dblBuf(n: Int): Array[Double] =
    axpyScratch.get().getOrElseUpdate(n, new Array[Double](n))

  /** One layer's edge-replicated `same` conv forward into `out`
    * (pre-sized outC planes of w*h), restructured as per-tap AXPY
    * sweeps: for each (oc, ic, dy, dx) tap the scalar weight multiplies
    * a contiguous source-row segment into a double accumulator plane.
    * The previous per-pixel register reduction was a strict sequential
    * FP-add chain (one 4-cycle-latency dependent add per tap); here
    * consecutive iterations touch INDEPENDENT accumulator elements, so
    * the adds pipeline (and the JIT may vectorize). Bit-exactness:
    * every output pixel still receives its additions in the IDENTICAL
    * ic -> dy -> dx tap order with the identical clamped source
    * indices, and each product is still the FLOAT-precision multiply
    * src * weight (Java promotes float*float to a float-rounded
    * product before the double add — preserved exactly), so results
    * are bit-equal to the scalar form for ARBITRARY nets (spec-gated
    * against the reference kernel). Shared by forward() above and
    * ConvTrain.forwardAll's per-layer calls — ONE conv kernel, so the
    * training and inference forwards cannot drift. */
  private[operators] def layerForwardInto(cur: Array[Array[Float]],
                                          w: Int, h: Int, l: ConvLayer,
                                          out: Array[Array[Float]]): Unit = {
    val wts = l.weights; val bs = l.bias
    val inC = l.inC; val outC = l.outC; val k = l.k; val r = l.radius
    val relu = l.relu
    val n = w * h
    val acc = dblBuf(n)
    var oc = 0
    while (oc < outC) {
      val bias = bs(oc).toDouble
      java.util.Arrays.fill(acc, bias)
      var ic = 0
      while (ic < inC) {
        val src = cur(ic)
        val wBase = (oc * inC + ic) * k * k
        if (k == 1) {
          val wv = wts(wBase)
          var i = 0
          while (i < n) { acc(i) += src(i) * wv; i += 1 }
        } else {
          var dy = -r
          while (dy <= r) {
            var dx = -r
            while (dx <= r) {
              // wv stays FLOAT: src * wv below must round the product in
              // float precision exactly as the scalar kernel's
              // `s += src(p) * wts(wi)` did
              val wv = wts(wBase + (dy + r) * k + (dx + r))
              var y = 0
              while (y < h) {
                val yc = y + dy
                val yy = if (yc < 0) 0 else if (yc > h - 1) h - 1 else yc
                val srow = yy * w
                val arow = y * w
                // x + dx clamps to [0, w-1]: left-clamped prefix, exact
                // middle run, right-clamped suffix — no branch in the
                // middle loop, which is the vectorized hot path
                var x = 0
                val leftEnd = if (-dx < 0) 0 else if (-dx > w) w else -dx
                val v0 = src(srow) * wv
                while (x < leftEnd) { acc(arow + x) += v0; x += 1 }
                val midEnd = if (w - dx < x) x else if (w - dx > w) w else w - dx
                var p = srow + x + dx
                var a = arow + x
                val aEnd = arow + midEnd
                while (a < aEnd) { acc(a) += src(p) * wv; a += 1; p += 1 }
                x = midEnd
                val vLast = src(srow + w - 1) * wv
                while (x < w) { acc(arow + x) += vLast; x += 1 }
                y += 1
              }
              dx += 1
            }
            dy += 1
          }
        }
        ic += 1
      }
      val plane = out(oc)
      var i = 0
      if (relu) {
        while (i < n) { val v = acc(i); plane(i) = if (v < 0) 0f else v.toFloat; i += 1 }
      } else {
        while (i < n) { plane(i) = acc(i).toFloat; i += 1 }
      }
      oc += 1
    }
  }

  /** Per-pixel class decision from the final planes — the reference's
    * convert_pred (convutils.py:821-832): channel i's one-hot burn is
    * applied in ASCENDING order, each overwriting the last, so the
    * HIGHEST-scoring channel wins and ties go to the HIGHEST index;
    * label = classes(i). Single-logit nets use the binary path
    * (convutils.py:850-858): score > 0 -> 1 else 0. */
  def decide(planes: Array[Array[Float]], idx: Int, classes: Array[Int]): Float =
    if (planes.length == 1) { if (planes(0)(idx) > 0) 1f else 0f }
    else {
      var best = 0
      var c = 1
      while (c < planes.length) {
        if (planes(c)(idx) >= planes(best)(idx)) best = c
        c += 1
      }
      classes(best).toFloat
    }

  /** semseg_pred / pad_predict (convnet.py:431-485, convutils.py:559-644):
    * whole-raster per-pixel class map, model broadcast, one map pass per
    * image — no shuffle, no per-block GPU round-trips. */
  def segPredict(images: Dataset[ImageRow], net: SegNet)
                (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(net)
    images.mapPartitions { it =>
      val n = bc.value
      val scratch = new ConvScratch
      it.map { img =>
        val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
        val planes = forward(dec.bands, img.w, img.h, n, scratch)
        val cls = Array.tabulate(img.w * img.h)(i => decide(planes, i, n.classes))
        ImageOps.withPixels(img)(Array(cls))
      }
    }
  }

  /** The SCALE path: forward pass over HALOED multi-band tiles
    * (`Tiler.multiTiles(halo = net.halo)`), each tile computing the full
    * stack on its expanded window and emitting only its core region.
    * Core outputs are EXACT (equal the whole-image pass): a core pixel's
    * total receptive field (sum of layer radii) lies inside the expanded
    * window, and at true image edges the window edge IS the image edge
    * so replicate clamping agrees — the same halo argument Glcm uses for
    * cross-tile pairs. 100 TB shape: rasters of any size stream through
    * as bounded tile rows; weights ride a broadcast; zero shuffle (tiles
    * spanning several grid cells are emitted consecutively by the tiler
    * flatMap and deduped per-partition, not via a distinct exchange). */
  def segPredictTiles(tiles: Dataset[graft.MultiTileRow], net: SegNet,
                      tileSize: Int)
                     (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(net)
    tiles.mapPartitions { it =>
      val n = bc.value
      val h = n.halo
      val scratch = new ConvScratch
      // shared dedupe with the non-adjacent tripwire (Tiler.firstByKey):
      // a hand-rolled lastKey filter would silently KEEP duplicates that
      // arrive non-adjacent (repartitioned/sorted input) and double-count
      // predicted pixels downstream; every other halo-tile consumer
      // fails loudly there, and so does this one now
      Tiler.firstCellOnly(it).flatMap { t =>
        {
          require(t.bands.length == n.layers.head.inC,
            s"tile ${t.image_id}(${t.tx},${t.ty}) has ${t.bands.length} bands, net wants ${n.layers.head.inC}")
          val planes = forward(t.bands, t.tw, t.th, n, scratch)
          // core offset inside the expanded window = the part of `h`
          // actually available on the low side (halo is image-clipped)
          val (offX, offY, coreW, coreH) =
            Tiler.coreWindow(t.tx, t.ty, t.tw, t.th, tileSize, h)
          val cls = new Array[Float](coreW * coreH)
          var r = 0
          while (r < coreH) {
            var c = 0
            while (c < coreW) {
              cls(r * coreW + c) =
                decide(planes, (offY + r) * t.tw + offX + c, n.classes)
              c += 1
            }
            r += 1
          }
          Some(TileRow(t.image_id, t.cell_id, t.tx, t.ty,
            t.x_min + offX * t.px, t.y_max - offY * t.px, t.px,
            band = 0, pixels = cls, tw = coreW, th = coreH, nodata = t.nodata))
        }
      }
    }
  }

  /** chip_pad_predict (convutils.py:647-731): per-block SINGLE-class
    * prediction — global-mean-pool the final planes over the chip, then
    * the same decide rule. Input rows are chips (one row per chip). */
  def chipPredict(chips: Dataset[ChipRow], net: SegNet)
                 (implicit spark: SparkSession): Dataset[(String, Int, Int, Int)] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(net)
    chips.mapPartitions { chIt =>
      val n = bc.value
      val scratch = new ConvScratch
      chIt.map { ch =>
      val planes = forward(ch.bands, ch.w, ch.h, n, scratch)
      val npx = ch.w * ch.h
      // pooled SUMS, not means: argmax is invariant under the positive
      // 1/npx factor, and the double sums stay exact where a float mean
      // would round — the SQL oracle compares the identical sums.
      val pooled = planes.map { p =>
        var s = 0.0; var i = 0
        while (i < npx) { s += p(i); i += 1 }
        s
      }
      val lab =
        if (pooled.length == 1) { if (pooled(0) > 0) 1 else 0 }
        else {
          var best = 0; var c = 1
          while (c < pooled.length) {
            if (pooled(c) >= pooled(best)) best = c
            c += 1
          }
          n.classes(best)
        }
      (ch.image_id, ch.cx, ch.cy, lab)
      }
    }
  }

  /** collect_train (convnet.py:549-650): chip the (image, mask) pair
    * into chipSize blocks (partial edge blocks KEPT at reduced size,
    * convnet.py:616-627), drop chips whose mask is all zero
    * (convnet.py:632-634). Equi join on image_id — masks are the
    * parallel list of the reference, keyed here by id. */
  def collectChips(images: Dataset[ImageRow], masks: Dataset[ImageRow],
                   chipSize: Int)
                  (implicit spark: SparkSession): Dataset[ChipRow] = {
    import spark.implicits._
    images.joinWith(masks, images("image_id") === masks("image_id"))
      .flatMap { case (img, msk) =>
        chipPairs(img, msk, chipSize).collect {
          case (cx, cy, cw, chh, bands, mask) if mask.exists(_ > 0) =>
            ChipRow(img.image_id, cx, cy, cw, chh, bands, mask,
              label = mask.max.toInt)
        }
      }
  }

  /** collect_train_chip (convnet.py:653-762): label = int(max(mask))
    * per chip; include_zero keeps all-zero chips as class 0. */
  def collectChipsLabeled(images: Dataset[ImageRow], masks: Dataset[ImageRow],
                          chipSize: Int, includeZero: Boolean)
                         (implicit spark: SparkSession): Dataset[ChipRow] = {
    import spark.implicits._
    images.joinWith(masks, images("image_id") === masks("image_id"))
      .flatMap { case (img, msk) =>
        chipPairs(img, msk, chipSize).collect {
          case (cx, cy, cw, chh, bands, mask) if includeZero || mask.exists(_ > 0) =>
            ChipRow(img.image_id, cx, cy, cw, chh, bands, mask,
              label = mask.max.toInt)
        }
      }
  }

  private def chipPairs(img: ImageRow, msk: ImageRow, chipSize: Int)
      : Seq[(Int, Int, Int, Int, Array[Array[Float]], Array[Float])] = {
    require(msk.w == img.w && msk.h == img.h,
      s"mask ${msk.image_id} is ${msk.w}x${msk.h}, image is ${img.w}x${img.h}")
    val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
    val mdec = PixelCodec.decode(msk.bytes, msk.fmt, msk.w, msk.h).bands(0)
    for {
      cy <- 0 until img.h by chipSize
      cx <- 0 until img.w by chipSize
    } yield {
      val cw = math.min(chipSize, img.w - cx)
      val chh = math.min(chipSize, img.h - cy)
      def cut(src: Array[Float]): Array[Float] = {
        val out = new Array[Float](cw * chh)
        var r = 0
        while (r < chh) {
          System.arraycopy(src, (cy + r) * img.w + cx, out, r * cw, cw)
          r += 1
        }
        out
      }
      (cx, cy, cw, chh, dec.bands.map(cut), cut(mdec))
    }
  }

  /** Per-chip partial normal-equation sums for fitting a 1x1 conv head
    * on FROZEN backbone features — the engine-side half of the
    * reference's train step (convnet.py:50-428 trains the whole net in
    * torch; at 100 TB the data-parallel part is exactly this: per-chip
    * feature extraction + Gram/moment aggregation, a shuffle of d^2+d*C
    * doubles per chip instead of pixels). Features are the backbone's
    * output channels plus a bias-1 term (d = outC + 1); targets are the
    * one-hot mask classes 0..nClasses-1. Output rows:
    * (kind='g', ra, rb, v) for XtX and (kind='y', ra, rb=class, v) for
    * XtY — exact doubles (backbone scores are exact eighths). */
  def gramForHead(chips: Dataset[ChipRow], backbone: SegNet, nClasses: Int)
                 (implicit spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(backbone)
    val d = backbone.layers.last.outC + 1
    chips.mapPartitions { chIt =>
      val scratch = new ConvScratch
      chIt.flatMap { ch =>
      val planes = forward(ch.bands, ch.w, ch.h, bc.value, scratch)
      val npx = ch.w * ch.h
      val g = new Array[Double](d * d)
      val xy = new Array[Double](d * nClasses)
      val f = new Array[Double](d)
      var i = 0
      while (i < npx) {
        var a = 0
        while (a < d - 1) { f(a) = planes(a)(i); a += 1 }
        f(d - 1) = 1.0
        val cls = ch.mask(i).toInt
        a = 0
        while (a < d) {
          var b = 0
          while (b < d) { g(a * d + b) += f(a) * f(b); b += 1 }
          if (cls >= 0 && cls < nClasses) xy(a * nClasses + cls) += f(a)
          a += 1
        }
        i += 1
      }
      (for (a <- 0 until d; b <- 0 until d)
        yield ("g", a, b, g(a * d + b))) ++
        (for (a <- 0 until d; c <- 0 until nClasses)
          yield ("y", a, c, xy(a * nClasses + c)))
      }
    }.toDF("kind", "ra", "rb", "v")
      .groupBy("kind", "ra", "rb")
      .agg(org.apache.spark.sql.functions.sum("v").as("v"))
  }

  /** Solve the ridge normal equations (XtX + lambda*I) W = XtY from the
    * aggregated Gram rows and return the fitted 1x1 conv head (weights
    * per class channel, bias from the bias-feature row) — composable:
    * SegNet(backbone.layers :+ head) is a ready segPredict net. The
    * collect is d^2 + d*C rows by construction (d, C <= a few dozen). */
  def fitSegHead(chips: Dataset[ChipRow], backbone: SegNet, nClasses: Int,
                 lambda: Double = 1e-3)
                (implicit spark: SparkSession): ConvLayer = {
    val d = backbone.layers.last.outC + 1
    val rows = gramForHead(chips, backbone, nClasses).collect()
    val g = Array.ofDim[Double](d, d)
    val xy = Array.ofDim[Double](d, nClasses)
    rows.foreach { r =>
      val (k, a, b, v) = (r.getString(0), r.getInt(1), r.getInt(2), r.getDouble(3))
      if (k == "g") g(a)(b) = v else xy(a)(b) = v
    }
    var i = 0
    while (i < d) { g(i)(i) += lambda; i += 1 }
    // Gaussian elimination with partial pivoting on the d x (d+C) tableau
    val m = Array.tabulate(d)(r => g(r) ++ xy(r))
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) { if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r; r += 1 }
      val t = m(col); m(col) = m(piv); m(piv) = t
      require(math.abs(m(col)(col)) > 1e-12, "singular Gram matrix — raise lambda")
      val inv = 1.0 / m(col)(col)
      var c = col
      while (c < d + nClasses) { m(col)(c) *= inv; c += 1 }
      r = 0
      while (r < d) {
        if (r != col && m(r)(col) != 0.0) {
          val f = m(r)(col)
          c = col
          while (c < d + nClasses) { m(r)(c) -= f * m(col)(c); c += 1 }
        }
        r += 1
      }
      col += 1
    }
    // W(feature a, class c) = m(a)(d + c); bias row is feature d-1
    val w = Array.tabulate(nClasses * (d - 1)) { i =>
      val oc = i / (d - 1); val ic = i % (d - 1)
      m(ic)(d + oc).toFloat
    }
    val bias = Array.tabulate(nClasses)(oc => m(d - 1)(d + oc).toFloat)
    ConvLayer(nClasses, d - 1, 1, w, bias, relu = false)
  }

  /** maskblock (convutils.py:731-799): every chipSize block whose mask
    * has any nonzero pixel becomes ALL ones (np.ones_like); all-zero
    * blocks stay zero (the reference skips the write — output starts
    * zeroed via _copy_dataset_config). */
  def maskBlock(masks: Dataset[ImageRow], blockSize: Int)
               (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    masks.map { img =>
      val b = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h).bands(0)
      val out = new Array[Float](img.w * img.h)
      var cy = 0
      while (cy < img.h) {
        var cx = 0
        val chh = math.min(blockSize, img.h - cy)
        while (cx < img.w) {
          val cw = math.min(blockSize, img.w - cx)
          var any = false
          var r = 0
          while (r < chh && !any) {
            var c = 0
            while (c < cw && !any) {
              if (b((cy + r) * img.w + cx + c) > 0) any = true
              c += 1
            }
            r += 1
          }
          if (any) {
            r = 0
            while (r < chh) {
              java.util.Arrays.fill(out, (cy + r) * img.w + cx,
                (cy + r) * img.w + cx + cw, 1f)
              r += 1
            }
          }
          cx += blockSize
        }
        cy += blockSize
      }
      ImageOps.withPixels(img)(Array(out))
    }
  }
}

/** One training chip: the reference writes these as GTiff pairs
  * (convnet.py:644-648); the engine keeps them relational — a chips
  * TABLE is what a 100 TB training pipeline feeds a data loader from. */
final case class ChipRow(
    image_id: String,
    cx: Int,
    cy: Int,
    w: Int,
    h: Int,
    bands: Array[Array[Float]],
    mask: Array[Float],
    label: Int)
