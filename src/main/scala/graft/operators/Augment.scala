package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ImageRow
import graft.core.PixelCodec

/**
 * Training-data augmentation + validation metrics — the remaining
 * data-processing internals of the reference's `train_semantic_seg`
 * (convnet.py:185-260, 327-374), re-expressed as narrow per-row Spark
 * transforms:
 *
 *  - `get_training_augmentation` (convnet.py:233-242) composes
 *    albumentations `HorizontalFlip(p=1)`, `VerticalFlip(p=1)`,
 *    `RandomRotate90(p=1)`, `PadIfNeeded` over each (image, mask) chip.
 *    Here every transform is a pure function on `ChipRow` (bands AND
 *    mask move together, exactly as albumentations pairs them), and the
 *    rotate's k is a DETERMINISTIC function of the chip key rather than
 *    a PRNG draw — same distribution over k (each chip lattice walks
 *    all four rotations) but replayable, so the whole chain is
 *    oracle-checkable and identical at any parallelism.
 *  - `cv2norm` (convnet.py:258-262): whole-image min-max normalization
 *    to [0,1] (cv2.normalize NORM_MINMAX over all bands jointly).
 *  - `iou_score` (convnet.py:365-374 via smp.utils.metrics.IoU): the
 *    per-class intersection-over-union the reference checkpoints on.
 *
 * Execution shape: augmentation and cv2norm are per-row maps — ZERO
 * shuffle, pixels never leave their partition; at 100 TB they ride the
 * same scan the chips/tiles already ride. iouSeg's only exchange
 * carries per-(image, class) COUNTS (three longs a row), never pixels.
 */
object Augment {

  /** NaN-aware nodata test: the tiler's default sentinel is NaN, for
    * which plain `==` is always false. */
  @inline private[operators] def isNodata(v: Float, nd: Float): Boolean =
    (v.isNaN && nd.isNaN) || v == nd

  /** `i` reflected into [0, n) with OpenCV BORDER_REFLECT_101
    * semantics (edge pixel not repeated): ... 2 1 | 0 1 2 | 1 0 ...
    * Valid for pads < n (one reflection), which `padIfNeeded` enforces. */
  @inline private[graft] def reflect101(i: Int, n: Int): Int =
    if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i

  /** Remap every plane of a chip through dst(x,y) <- src(sx(x,y), sy(x,y)). */
  private def remap(ch: ChipRow, ow: Int, oh: Int,
                    sx: (Int, Int) => Int, sy: (Int, Int) => Int): ChipRow = {
    def one(src: Array[Float]): Array[Float] = {
      val out = new Array[Float](ow * oh)
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) {
          out(y * ow + x) = src(sy(x, y) * ch.w + sx(x, y))
          x += 1
        }
        y += 1
      }
      out
    }
    ch.copy(w = ow, h = oh, bands = ch.bands.map(one), mask = one(ch.mask))
  }

  /** albumentations `HorizontalFlip` — mirror across the vertical axis. */
  def hflip(ch: ChipRow): ChipRow =
    remap(ch, ch.w, ch.h, (x, _) => ch.w - 1 - x, (_, y) => y)

  /** albumentations `VerticalFlip` — mirror across the horizontal axis. */
  def vflip(ch: ChipRow): ChipRow =
    remap(ch, ch.w, ch.h, (x, _) => x, (_, y) => ch.h - 1 - y)

  /** np.rot90 semantics (what albumentations `RandomRotate90` applies):
    * k counter-clockwise quarter turns. Odd k swaps w/h. */
  def rot90(ch: ChipRow, k: Int): ChipRow = ((k % 4) + 4) % 4 match {
    case 0 => ch
    case 1 => remap(ch, ch.h, ch.w, (_, y) => ch.w - 1 - y, (x, _) => x)
    case 2 => remap(ch, ch.w, ch.h, (x, _) => ch.w - 1 - x, (_, y) => ch.h - 1 - y)
    case _ => remap(ch, ch.h, ch.w, (_, y) => y, (x, _) => ch.h - 1 - x)
  }

  /** albumentations `PadIfNeeded(min_height, min_width)`: center-pad
    * (top/left get the floor half, exactly albumentations' split) with
    * BORDER_REFLECT_101 (its default) or constant 0 (`border_mode=0`,
    * the mode the reference's commented variants use). No-op when the
    * chip already meets the minimum — the reference's live call is that
    * case (chips are cut at tilesize). */
  def padIfNeeded(ch: ChipRow, minW: Int, minH: Int,
                  reflect: Boolean = true): ChipRow = {
    val ow = math.max(ch.w, minW); val oh = math.max(ch.h, minH)
    if (ow == ch.w && oh == ch.h) return ch
    require(ow - ch.w < ch.w && oh - ch.h < ch.h || !reflect,
      s"reflect-101 pad needs pad < size (chip ${ch.w}x${ch.h} -> ${ow}x$oh)")
    val offX = (ow - ch.w) / 2; val offY = (oh - ch.h) / 2
    def one(src: Array[Float]): Array[Float] = {
      val out = new Array[Float](ow * oh)
      var y = 0
      while (y < oh) {
        val iy = y - offY
        val inY = iy >= 0 && iy < ch.h
        var x = 0
        while (x < ow) {
          val ix = x - offX
          out(y * ow + x) =
            if (reflect) src(reflect101(iy, ch.h) * ch.w + reflect101(ix, ch.w))
            else if (inY && ix >= 0 && ix < ch.w) src(iy * ch.w + ix)
            else 0f
          x += 1
        }
        y += 1
      }
      out
    }
    ch.copy(w = ow, h = oh, bands = ch.bands.map(one), mask = one(ch.mask))
  }

  /** Deterministic stand-in for RandomRotate90's PRNG draw: walk the
    * chip lattice through all four k values. Replayable at any
    * parallelism (a PRNG draw would depend on row order). */
  def latticeK(ch: ChipRow): Int =
    ((ch.cx / math.max(ch.w, 1)) + (ch.cy / math.max(ch.h, 1))) % 4

  /** The reference's full training-augmentation chain
    * (convnet.py:233-242), in its order: HorizontalFlip -> VerticalFlip
    * -> RandomRotate90(kFor) -> PadIfNeeded(minSize, minSize).
    * Per-row map: zero shuffle at any scale. */
  def trainingAugmentation(chips: Dataset[ChipRow], minSize: Int,
                           kFor: ChipRow => Int = latticeK,
                           reflectPad: Boolean = true): Dataset[ChipRow] = {
    implicit val enc = chips.encoder
    chips.map { ch =>
      padIfNeeded(rot90(vflip(hflip(ch)), kFor(ch)), minSize, minSize,
        reflectPad)
    }
  }

  /** `cv2norm` (convnet.py:258-262): cv2.normalize(img, alpha=0, beta=1,
    * NORM_MINMAX) — ONE min/max over ALL bands of the image, every band
    * rescaled by it. The divide runs in double and rounds once to
    * float, so the oracle replays it bit-exactly with
    * CAST((v - mn) / rng AS FLOAT). A constant image maps to all-zero
    * (cv2's convention: rng 0 -> 0). Per-row map — zero shuffle; the
    * tiled scale path is `cv2normTiles`. */
  def cv2norm(images: Dataset[ImageRow]): Dataset[ImageRow] = {
    implicit val enc = images.encoder
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      var mn = Double.MaxValue; var mx = Double.MinValue
      dec.bands.foreach(_.foreach { v =>
        if (v < mn) mn = v
        if (v > mx) mx = v
      })
      val rng = mx - mn
      val out = dec.bands.map(_.map(v =>
        if (rng == 0) 0f else ((v - mn) / rng).toFloat))
      ImageOps.withPixels(img)(out)
    }
  }

  /** The 100 TB shape of cv2norm for rasters too big for one row:
    * per-image (mn, mx) from tile partials — the ONLY exchange carrying
    * two doubles per image — joined back onto the tiles, each tile
    * rescaled in place. The stats side is one row PER IMAGE, so its
    * size is unbounded in the image count: no broadcast hint — AQE
    * broadcasts it when it fits and falls back to a shuffle join on
    * image_id (still stats-rows-only on the small side) when it
    * doesn't. Input/output: single-band `TileRow`s. */
  def cv2normTiles(tiles: Dataset[graft.TileRow])
                  (implicit spark: SparkSession): Dataset[graft.TileRow] = {
    import spark.implicits._
    val stats = tiles.mapPartitions { it =>
      it.map { t =>
        var mn = Double.MaxValue; var mx = Double.MinValue
        t.pixels.foreach { v =>
          // NaN-aware: the tiler's default sentinel IS NaN, and
          // `v == NaN` is false for every v — a plain equality guard
          // would be dead and (rng == 0 below) rewrite nodata to 0f
          if (!isNodata(v, t.nodata)) {
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
        }
        (t.image_id, mn, mx)
      }
    }.toDF("image_id", "mn", "mx")
      .groupBy("image_id").agg(min("mn").as("mn"), max("mx").as("mx"))
    implicit val enc = tiles.encoder
    tiles.joinWith(stats, tiles("image_id") === stats("image_id"))
      .map { case (t, st) =>
        val mn = st.getDouble(1); val rng = st.getDouble(2) - mn
        t.copy(pixels = t.pixels.map(v =>
          if (isNodata(v, t.nodata)) v
          else if (rng == 0) 0f
          else ((v - mn) / rng).toFloat))
      }
  }

  /** Per-(image, class) IoU of a predicted class raster against a mask
    * raster — the reference's validation `iou_score`
    * (convnet.py:365-368), the quantity its checkpoint loop maximizes.
    * The (image_id) join co-locates each prediction with its mask; the
    * per-pixel compare happens inside the row, and the only shuffled
    * rows afterwards are (image_id, cls, inter, n_pred, n_mask) counts.
    * At tile scale the identical compare rides the (image_id, tx, ty)
    * tile key instead — same count rows out. */
  def iouSeg(pred: Dataset[ImageRow], masks: Dataset[ImageRow],
             classes: Array[Int])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // full outer: an image_id present on only one side is a broken
    // pairing (the reference's paired-batch iou_score cannot skip an
    // item) — fail loudly executor-side instead of silently scoring
    // the matched subset
    val pairs = pred.joinWith(masks,
      pred("image_id") === masks("image_id"), "full_outer")
    pairs.flatMap { case (p, m) =>
      require(p != null, s"iouSeg: mask ${m.image_id} has no prediction")
      require(m != null, s"iouSeg: prediction ${p.image_id} has no mask")
      require(p.w == m.w && p.h == m.h,
        s"pred/mask size mismatch for ${p.image_id}")
      val pv = PixelCodec.decode(p.bytes, p.fmt, p.w, p.h).bands(0)
      val mv = PixelCodec.decode(m.bytes, m.fmt, m.w, m.h).bands(0)
      classes.iterator.map { c =>
        var inter = 0L; var np = 0L; var nm = 0L
        var i = 0
        while (i < pv.length) {
          val ip = pv(i) == c; val im = mv(i) == c
          if (ip && im) inter += 1
          if (ip) np += 1
          if (im) nm += 1
          i += 1
        }
        (p.image_id, c, inter, np, nm)
      }
    }.toDF("image_id", "cls", "inter", "n_pred", "n_mask")
      .withColumn("uni", col("n_pred") + col("n_mask") - col("inter"))
      .withColumn("iou",
        when(col("uni") === 0, lit(1.0))
          .otherwise(col("inter").cast("double") / col("uni")))
  }
}
