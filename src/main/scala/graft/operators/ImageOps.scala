package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ImageRow, TileRow}
import graft.core.PixelCodec

/**
 * Whole-image operators over the opaque-binary multimodal column
 * (SURVEY §2.1, §2.8). These are the Scala-native equivalent of the
 * reference's per-file GDAL passes and of "decode / feature-extract /
 * resize / frame-sample over binary columns" from the training-data
 * brief: the binary payload stays opaque in the relation; decode happens
 * only inside the typed map, batch-shaped, executor-side. No shuffle in
 * any of these.
 */
object ImageOps {

  /** batch_translate (raster.py:473-523): format transcode — decode with
    * the row's fmt, re-encode with `toFmt` ([[fromArray]]'s phash rule). */
  def transcode(images: Dataset[ImageRow], toFmt: String)
               (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    images.map { img =>
      withPixels(img)(PixelCodec.decode(img.bytes, img.fmt, img.w, img.h).bands,
        fmt = toFmt)
    }
  }

  /** array2raster / inverse tiler (raster.py:287-371): reassemble an
    * image from its tiles (geo-config copied from the tile rows, i.e.
    * the `_copy_dataset_config` idiom raster.py:2532-2580). ONE shuffle
    * keyed by image — multi-cell duplicate tile rows (identical
    * payloads) are deduped inside the group, not via a second
    * dropDuplicates exchange. */
  def assemble(tiles: Dataset[TileRow], w: Int, h: Int, fmt: String,
               caption: String = "")(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    tiles.groupByKey(_.image_id)
      .mapGroups { (id: String, it: Iterator[TileRow]) =>
        val seen = scala.collection.mutable.HashSet.empty[(Int, Int, Int)]
        val ts = it.filter(t => seen.add((t.tx, t.ty, t.band))).toArray
        val nBands = ts.map(_.band).max + 1
        val bands = Array.fill(nBands)(new Array[Float](w * h))
        // image origin = min tile origin
        val x0 = ts.map(_.x_min).min
        val y1 = ts.map(_.y_max).max
        val px = ts.head.px
        ts.foreach { t =>
          val offC = math.round((t.x_min - x0) / px).toInt
          val offR = math.round((y1 - t.y_max) / px).toInt
          // a tile extending past the declared extent would otherwise
          // WRAP into the next image row via the flat arraycopy — a
          // silently sheared image (only the last row would crash)
          require(offC >= 0 && offR >= 0 && offC + t.tw <= w && offR + t.th <= h,
            s"assemble($id): tile at ($offC, $offR) size ${t.tw}x${t.th} " +
              s"does not fit the declared ${w}x$h extent")
          var r = 0
          while (r < t.th) {
            System.arraycopy(t.pixels, r * t.tw, bands(t.band), (offR + r) * w + offC, t.tw)
            r += 1
          }
        }
        fromArray(id, bands, w, h, x0, y1, px, fmt, caption)
      }
  }

  /** bbox2raster (raster.py:209-282): construct an ImageRow from a pixel
    * array + bbox (geo struct derived from the bbox + pixel size).
    *
    * The one place pixels become an image row: every operator, generator
    * and fixture builds its rows here (or through [[withPixels]]). `bands`
    * are encoded with `fmt`, and `phash` is the average hash of band 0 AS
    * A READER DECODES IT — `bands(0)` itself for the lossless fmts (no
    * decode), band 0 of the decoded bytes for a lossy one. So every
    * row's phash is the hash of its decoded band 0, which
    * `ImageDedup.dedupExact` (groups by phash) and `phashPairs` rely on. */
  def fromArray(imageId: String, bands: Array[Array[Float]], w: Int, h: Int,
                xMin: Double, yMax: Double, px: Double, fmt: String,
                caption: String = ""): ImageRow = {
    val enc = PixelCodec.encode(fmt, w, h, bands)
    val band0 =
      if (PixelCodec.isLossy(fmt)) PixelCodec.decode(enc, fmt, w, h).bands(0)
      else bands(0)
    ImageRow(imageId, enc, w, h, fmt, caption,
      PixelCodec.phash64(w, h, band0), xMin, yMax, px)
  }

  /** `img` with new pixels (and size, pixel size or fmt), built by
    * [[fromArray]]; id, caption and origin carried over. */
  private[graft] def withPixels(img: ImageRow)(bands: Array[Array[Float]],
      w: Int = img.w, h: Int = img.h, px: Double = img.px,
      fmt: String = img.fmt): ImageRow =
    fromArray(img.image_id, bands, w, h, img.x_min, img.y_max, px, fmt, img.caption)

  /** write_vrt (raster.py:424-442): a virtual mosaic is just a union-all
    * scan — multiple parquet paths read as one relation. */
  def openMosaic(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)

  /** set_bandnames (raster.py:1750-1771): attach per-band names as a
    * `band_names` array column — the GDAL `SetDescription` analog over
    * the opaque payload. Reference zip semantics: names pair with bands
    * 1..count, extra names drop, unnamed trailing bands keep "". Band
    * count comes from the codec header alone (no pixel decode) via
    * pure built-in column math (mirrors PixelCodec.bandCount: raw-le =
    * len/4wh, rle = first header byte, qnt8 = len/(8+wh)) — the whole
    * op stays inside WholeStageCodegen, no UDF, no shuffle, payload
    * untouched. */
  def setBandNames(images: Dataset[ImageRow], names: Seq[String])
                  (implicit spark: SparkSession): DataFrame = {
    val px = col("w").cast("long") * col("h")
    val nb = when(col("fmt") === PixelCodec.FmtRawLe,
        (length(col("bytes")).cast("long") / (lit(4L) * px)).cast("long"))
      .when(col("fmt") === PixelCodec.FmtRle,
        conv(hex(substring(col("bytes"), 1, 1)), 16, 10).cast("long"))
      .when(col("fmt") === PixelCodec.FmtQnt8,
        (length(col("bytes")).cast("long") / (lit(8L) + px)).cast("long"))
      // unknown fmt: fail loudly like PixelCodec.bandCount, never a
      // silently wrong count from the wrong length formula
      .otherwise(raise_error(concat(lit("setBandNames: unknown pixel fmt "),
        col("fmt"))).cast("long"))
    val nameArr = array(names.map(lit): _*)
    // nb >= 1 guard: sequence(1, 0) would count DOWN ([1, 0]) for a
    // zero-band payload (legal: encode(fmt, w, h, Array()) is empty),
    // and an empty RLE header makes nb NULL — both become []
    images.withColumn("band_names",
      when(nb >= 1, transform(sequence(lit(1L), nb),
        i => coalesce(try_element_at(nameArr, i.cast("int")), lit(""))))
        .otherwise(array().cast("array<string>")))
  }

  /** Resize by integer factor (box average) — the multimodal "resize"
    * plumbing; deterministic, no external libs. */
  def resize(images: Dataset[ImageRow], factor: Int)
            (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    // factor = 0 would die with a raw ArithmeticException in a task;
    // negative factors would silently emit a 1x1 all-NaN image (the
    // box loops never run, 0.0/0). warpResample guards its params the
    // same way.
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val nw = math.max(1, img.w / factor); val nh = math.max(1, img.h / factor)
      val out = dec.bands.map { b =>
        Array.tabulate(nw * nh) { i =>
          val r = i / nw; val c = i % nw
          var s = 0.0; var n = 0
          var dr = 0
          while (dr < factor) {
            var dc = 0
            while (dc < factor) {
              val sr = r * factor + dr; val sc = c * factor + dc
              if (sr < img.h && sc < img.w) { s += b(sr * img.w + sc); n += 1 }
              dc += 1
            }
            dr += 1
          }
          (s / n).toFloat
        }
      }
      withPixels(img)(out, nw, nh, px = img.px * factor)
    }
  }

  /** fill_nodata (raster.py:2051-2088, gdal.FillNodata): interpolate
    * nodata pixels by inverse-distance weighting of the FIRST valid
    * pixel found scanning each of the 8 compass directions up to
    * maxSearchDist (engine convention — GDAL's scanline IDW differs in
    * search pattern, same inverse-distance idea; documented), then
    * `smoothingIterations` 3x3-mean passes applied to FILLED pixels
    * only. Pixels with no valid neighbor in range stay nodata. */
  def fillNodata(images: Dataset[ImageRow], nodata: Float,
                 maxSearchDist: Int = 3, smoothingIterations: Int = 0)
                (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    val dirs = Array((1, 0), (-1, 0), (0, 1), (0, -1),
      (1, 1), (1, -1), (-1, 1), (-1, -1))
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val out = dec.bands.map { b =>
        val filled = b.clone()
        val wasFilled = new Array[Boolean](b.length)
        var p = 0
        while (p < b.length) {
          // NaN-aware: `v == nodata` is dead when the sentinel is NaN —
          // the tiler's own default — so holes would never be detected
          if (Augment.isNodata(b(p), nodata)) {
            val x = p % img.w; val y = p / img.w
            var num = 0.0; var den = 0.0
            dirs.foreach { case (dx, dy) =>
              var d = 1
              var hit = false
              while (d <= maxSearchDist && !hit) {
                val xx = x + dx * d; val yy = y + dy * d
                if (xx >= 0 && yy >= 0 && xx < img.w && yy < img.h) {
                  val v = b(yy * img.w + xx)
                  if (!Augment.isNodata(v, nodata)) {
                    num += v / d; den += 1.0 / d
                    hit = true
                  }
                } else hit = true // ran off the image: direction empty
                d += 1
              }
            }
            if (den > 0) { filled(p) = (num / den).toFloat; wasFilled(p) = true }
          }
          p += 1
        }
        var it = 0
        while (it < smoothingIterations) {
          val src = filled.clone()
          var q = 0
          while (q < filled.length) {
            if (wasFilled(q)) {
              val x = q % img.w; val y = q / img.w
              var s = 0.0; var n = 0
              var dy = -1
              while (dy <= 1) {
                var dx = -1
                while (dx <= 1) {
                  val xx = x + dx; val yy = y + dy
                  if (xx >= 0 && yy >= 0 && xx < img.w && yy < img.h &&
                      !Augment.isNodata(src(yy * img.w + xx), nodata)) {
                    s += src(yy * img.w + xx); n += 1
                  }
                  dx += 1
                }
                dy += 1
              }
              if (n > 0) filled(q) = (s / n).toFloat
            }
            q += 1
          }
          it += 1
        }
        filled
      }
      withPixels(img)(out)
    }
  }

  /** batchwarp / _gdalwarp resampling core (raster.py:2582-2663, minus
    * PROJ reprojection — the engine's geodesy is the reference's own
    * equirectangular model): resample onto a new pixel grid over the
    * SAME extent. algo "near" samples the source pixel containing each
    * target center; "bilinear" interpolates the 4 surrounding centers
    * (edge-clamped). */
  def warpResample(images: Dataset[ImageRow], newPx: Double,
                   algo: String = "near")
                  (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    require(algo == "near" || algo == "bilinear", s"algo: $algo")
    require(newPx > 0)
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val ratio = newPx / img.px
      val nw = math.max(1, math.floor(img.w / ratio).toInt)
      val nh = math.max(1, math.floor(img.h / ratio).toInt)
      val out = dec.bands.map { b =>
        Array.tabulate(nw * nh) { i =>
          val r = i / nw; val c = i % nw
          if (algo == "near") {
            val sc = math.min(img.w - 1, math.floor((c + 0.5) * ratio).toInt)
            val sr = math.min(img.h - 1, math.floor((r + 0.5) * ratio).toInt)
            b(sr * img.w + sc)
          } else {
            // sample at the target center in source-center coordinates
            val sx = (c + 0.5) * ratio - 0.5
            val sy = (r + 0.5) * ratio - 0.5
            val x0 = math.floor(sx).toInt; val y0 = math.floor(sy).toInt
            val fx = sx - x0; val fy = sy - y0
            def at(xx: Int, yy: Int): Double =
              b(math.min(img.h - 1, math.max(0, yy)) * img.w +
                math.min(img.w - 1, math.max(0, xx))).toDouble
            ((1 - fx) * (1 - fy) * at(x0, y0) + fx * (1 - fy) * at(x0 + 1, y0) +
              (1 - fx) * fy * at(x0, y0 + 1) + fx * fy * at(x0 + 1, y0 + 1)).toFloat
          }
        }
      }
      withPixels(img)(out, nw, nh, px = newPx)
    }
  }

  /** Frame sampling over a multi-band payload (the "video" analog of the
    * multimodal brief): keep every `stride`-th band. */
  def frameSample(images: Dataset[ImageRow], stride: Int)
                 (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    // stride = 0 is i % 0 -> ArithmeticException inside a task; a
    // negative stride silently acts like its absolute value
    require(stride >= 1, s"frameSample stride must be >= 1, got $stride")
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val kept = dec.bands.zipWithIndex.collect { case (b, i) if i % stride == 0 => b }
      withPixels(img)(kept)
    }
  }

  /** Per-image feature extraction: phash + per-band mean/std — the
    * "feature-extract" stage of the multimodal pipeline, one row per
    * (image, band). */
  def features(images: Dataset[ImageRow])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    images.flatMap { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      dec.bands.zipWithIndex.map { case (b, i) =>
        var s = 0.0; var s2 = 0.0
        b.foreach { v => s += v; s2 += v.toDouble * v }
        val n = b.length
        val mean = s / n
        (img.image_id, i, img.phash, mean, math.sqrt(math.max(0, s2 / n - mean * mean)),
          img.caption)
      }
    }.toDF("image_id", "band", "phash", "mean", "std", "caption")
  }

  /** 3x3 convolution (edge-replicated) — the representative of the
    * reference's local-kernel family (SURVEY §2.8: Quegan filter, edge
    * detectors etc. are all per-image kernels in mapPartitions). */
  def convolve3x3(images: Dataset[ImageRow], kernel: Array[Float])
                 (implicit spark: SparkSession): Dataset[ImageRow] = {
    require(kernel.length == 9)
    import spark.implicits._
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val out = dec.bands.map { b =>
        Array.tabulate(img.w * img.h) { i =>
          val r = i / img.w; val c = i % img.w
          var s = 0.0
          var k = 0
          while (k < 9) {
            val rr = math.min(img.h - 1, math.max(0, r + k / 3 - 1))
            val cc = math.min(img.w - 1, math.max(0, c + k % 3 - 1))
            s += b(rr * img.w + cc) * kernel(k)
            k += 1
          }
          s.toFloat
        }
      }
      withPixels(img)(out)
    }
  }

  /** (h+1)x(w+1) summed-area table of f(v) — the shared substrate of the
    * windowed-local-stat kernels (localThreshold, queganFilter). */
  private def sat(b: Array[Float], w: Int, h: Int,
                  f: Double => Double): Array[Double] = {
    // NaN contributes 0 here: prefix sums never recover from a NaN
    // (NaN - NaN is NaN), so one bad pixel would otherwise corrupt
    // EVERY window down-right of it. Callers consult satNanCount to
    // give exactly the windows that CONTAIN the NaN a NaN stat — the
    // per-window semantics skimage's windowed filters have.
    val s = new Array[Double]((w + 1) * (h + 1))
    var y = 0
    while (y < h) {
      var rowS = 0.0
      var x = 0
      while (x < w) {
        val v = b(y * w + x).toDouble
        if (!v.isNaN) rowS += f(v)
        s((y + 1) * (w + 1) + x + 1) = s(y * (w + 1) + x + 1) + rowS
        x += 1
      }
      y += 1
    }
    s
  }

  /** SAT of NaN indicators — windowSum over it counts the NaN pixels
    * inside a clamped window (0 almost everywhere; the common all-valid
    * image pays one flag array scan). */
  private def satNanCount(b: Array[Float], w: Int, h: Int): Array[Double] = {
    val s = new Array[Double]((w + 1) * (h + 1))
    var y = 0
    while (y < h) {
      var rowS = 0.0
      var x = 0
      while (x < w) {
        if (b(y * w + x).isNaN) rowS += 1.0
        s((y + 1) * (w + 1) + x + 1) = s(y * (w + 1) + x + 1) + rowS
        x += 1
      }
      y += 1
    }
    s
  }

  /** Clamped-window (sum, count) around (cx, cy) from a SAT. */
  private def windowSum(s: Array[Double], w: Int, h: Int, half: Int,
                        cx: Int, cy: Int): (Double, Double) = {
    val x0 = math.max(0, cx - half); val x1 = math.min(w - 1, cx + half)
    val y0 = math.max(0, cy - half); val y1 = math.min(h - 1, cy + half)
    val sum = s((y1 + 1) * (w + 1) + x1 + 1) - s(y0 * (w + 1) + x1 + 1) -
      s((y1 + 1) * (w + 1) + x0) + s(y0 * (w + 1) + x0)
    (sum, (x1 - x0 + 1).toDouble * (y1 - y0 + 1))
  }

  /**
   * Local thresholds niblack / sauvola (shape.py:2367-2372): per-pixel
   * threshold from the windowed local mean/std — niblack T = m - k*s,
   * sauvola T = m * (1 + k*(s/R - 1)) — then the reference's `bw =
   * src > t` binarization (1/0 mask out). Windowed stats come from
   * integral images (O(n) per image, executor-side); borders clamp to
   * the edge (deviation from skimage's reflect padding, documented).
   */
  def localThreshold(images: Dataset[ImageRow], algo: String, window: Int = 15,
                     k: Double = 0.2, r: Double = 128.0)
                    (implicit spark: SparkSession): Dataset[ImageRow] = {
    require(algo == "niblack" || algo == "sauvola", s"algo $algo")
    import spark.implicits._
    val half = window / 2
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val w = img.w; val h = img.h
      val out = dec.bands.map { b =>
        val s1 = sat(b, w, h, v => v)
        val s2 = sat(b, w, h, v => v * v)
        val sn = satNanCount(b, w, h)
        Array.tabulate(w * h) { i =>
          val (sum1, n) = windowSum(s1, w, h, half, i % w, i / w)
          val (nan, _) = windowSum(sn, w, h, half, i % w, i / w)
          // a window containing a NaN has a NaN local stat (skimage's
          // per-window behavior) -> b(i) > NaN is false -> 0, exactly
          // and ONLY in the NaN's neighborhood
          val t = if (nan > 0) Double.NaN
          else {
            val (sum2, _) = windowSum(s2, w, h, half, i % w, i / w)
            val m = sum1 / n
            val sd = math.sqrt(math.max(0.0, sum2 / n - m * m))
            if (algo == "niblack") m - k * sd
            else m * (1.0 + k * (sd / r - 1.0))
          }
          if (b(i) > t) 1f else 0f
        }
      }
      withPixels(img)(out)
    }
  }

  /**
   * DEM derivatives — the full gdaldem prop set the reference shells
   * out for (`batch_gdaldem`, raster.py:554-586: "hillshade, slope,
   * aspect, color-relief, TRI, TPI, Roughness"; color-relief is
   * [[colorRelief]] since it needs a LUT and emits 3 bands).
   *
   * slope/aspect/hillshade: Horn's 3x3 finite differences on band 0.
   * slope in degrees; aspect in degrees clockwise from north (flat =
   * -9999, matching gdaldem's nodata-for-flat); hillshade 0..255 with
   * the standard azimuth=315, altitude=45 sun.
   *
   * TRI: Riley et al. terrain ruggedness — sqrt of the sum of squared
   * deviations of the 8 neighbors from the center (gdaldem's default
   * algorithm since 3.3). TPI: center minus the 8-neighbor mean.
   * Roughness: max - min over the full 3x3 window.
   *
   * Border pixels clamp (engine-wide kernel convention — gdaldem
   * instead leaves a nodata rim unless -compute_edges; documented
   * deviation, interior pixels identical).
   */
  def demProcess(images: Dataset[ImageRow], prop: String, zFactor: Double = 1.0,
                 azimuthDeg: Double = 315.0, altitudeDeg: Double = 45.0)
                (implicit spark: SparkSession): Dataset[ImageRow] = {
    require(Set("slope", "aspect", "hillshade", "TRI", "TPI", "Roughness")(prop),
      s"prop $prop")
    import spark.implicits._
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val b = dec.bands(0)
      val w = img.w; val h = img.h
      val px = img.px
      def at(y: Int, x: Int): Double =
        b(math.min(h - 1, math.max(0, y)) * w + math.min(w - 1, math.max(0, x))).toDouble
      val az = math.toRadians(azimuthDeg)
      val zen = math.toRadians(90.0 - altitudeDeg)
      val out = prop match {
        case "slope" | "aspect" | "hillshade" => Array.tabulate(w * h) { i =>
          val y = i / w; val x = i % w
          val dzdx = ((at(y - 1, x + 1) + 2 * at(y, x + 1) + at(y + 1, x + 1)) -
            (at(y - 1, x - 1) + 2 * at(y, x - 1) + at(y + 1, x - 1))) / (8 * px) * zFactor
          val dzdy = ((at(y + 1, x - 1) + 2 * at(y + 1, x) + at(y + 1, x + 1)) -
            (at(y - 1, x - 1) + 2 * at(y - 1, x) + at(y - 1, x + 1))) / (8 * px) * zFactor
          prop match {
            case "slope" =>
              math.toDegrees(math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))).toFloat
            case "aspect" =>
              if (dzdx == 0.0 && dzdy == 0.0) -9999f
              else {
                val a = math.toDegrees(math.atan2(dzdy, -dzdx))
                // gdaldem: convert math angle to compass bearing
                val compass = if (a > 90.0) 450.0 - a else 90.0 - a
                (if (compass >= 360.0) compass - 360.0 else compass).toFloat
              }
            case "hillshade" =>
              val slope = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
              val aspect = math.atan2(dzdy, -dzdx)
              val shade = math.cos(zen) * math.cos(slope) +
                math.sin(zen) * math.sin(slope) * math.cos(az - math.Pi / 2.0 - aspect)
              // gdaldem convention: clamp cang to 0 BEFORE scaling, so fully
              // shadowed pixels emit 1 (never 0 — 0 would alias nodata)
              (math.round(254.0 * math.max(0.0, shade)) + 1.0).toFloat
          }
        }
        case "TRI" => Array.tabulate(w * h) { i =>
          val y = i / w; val x = i % w
          val c = at(y, x)
          var ss = 0.0
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              if (dy != 0 || dx != 0) { val d = at(y + dy, x + dx) - c; ss += d * d }
              dx += 1
            }
            dy += 1
          }
          math.sqrt(ss).toFloat
        }
        case "TPI" => Array.tabulate(w * h) { i =>
          val y = i / w; val x = i % w
          var s = 0.0
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              if (dy != 0 || dx != 0) s += at(y + dy, x + dx)
              dx += 1
            }
            dy += 1
          }
          (at(y, x) - s / 8.0).toFloat
        }
        case "Roughness" => Array.tabulate(w * h) { i =>
          val y = i / w; val x = i % w
          var lo = Double.MaxValue; var hi = Double.MinValue
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              val v = at(y + dy, x + dx)
              if (v < lo) lo = v
              if (v > hi) hi = v
              dx += 1
            }
            dy += 1
          }
          (hi - lo).toFloat
        }
      }
      withPixels(img)(Array(out))
    }
  }

  /**
   * gdaldem color-relief (the LUT-driven prop of batch_gdaldem,
   * raster.py:554-586): maps band-0 elevation through a sorted
   * (elevation, r, g, b) ramp with linear interpolation between stops
   * (gdaldem's default; values outside the ramp clamp to the end
   * stops), emitting a 3-band image. Channels round half-up to the
   * 0..255 grid like gdaldem's byte output.
   */
  def colorRelief(images: Dataset[ImageRow],
                  lut: Seq[(Double, Double, Double, Double)])
                 (implicit spark: SparkSession): Dataset[ImageRow] = {
    require(lut.nonEmpty, "color-relief needs at least one ramp stop")
    val stops = lut.sortBy(_._1).toArray
    import spark.implicits._
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val (r, g, bl) = applyRamp(dec.bands(0), img.w * img.h, stops)
      withPixels(img)(Array(r, g, bl))
    }
  }

  /** The color-relief pixel kernel: linear interpolation between sorted
    * stops, end-clamped, channels rounded half-up. Duplicate-elevation
    * stops are safe: any value at/above the duplicated elevation takes
    * the clamp branch, so the zero-width segment never interpolates. */
  private def applyRamp(b: Array[Float], n: Int,
                        stops: Array[(Double, Double, Double, Double)])
      : (Array[Float], Array[Float], Array[Float]) = {
    val r = new Array[Float](n); val g = new Array[Float](n)
    val bl = new Array[Float](n)
    var i = 0
    while (i < n) {
      val v = b(i).toDouble
      if (v <= stops.head._1) {
        r(i) = math.round(stops.head._2).toFloat
        g(i) = math.round(stops.head._3).toFloat
        bl(i) = math.round(stops.head._4).toFloat
      } else if (v >= stops.last._1) {
        r(i) = math.round(stops.last._2).toFloat
        g(i) = math.round(stops.last._3).toFloat
        bl(i) = math.round(stops.last._4).toFloat
      } else {
        var k = 0
        while (stops(k + 1)._1 < v) k += 1
        val (e0, r0, g0, b0) = stops(k)
        val (e1, r1, g1, b1) = stops(k + 1)
        val t = (v - e0) / (e1 - e0)
        r(i) = math.round(r0 + t * (r1 - r0)).toFloat
        g(i) = math.round(g0 + t * (g1 - g0)).toFloat
        bl(i) = math.round(b0 + t * (b1 - b0)).toFloat
      }
      i += 1
    }
    (r, g, bl)
  }

  /**
   * color_raster (raster.py:2090-2127): grayscale -> RGB via an AUTO
   * ramp. Per raster, the non-NaN min/max define six equal-interval
   * stops — `int(min + (i+1)*range/6)` for i = 0..4 colored
   * black/blue/yellow/orange/red, plus `int(max - range/6)` colored
   * white (Python int() truncates toward zero, as reproduced here) —
   * then gdaldem color-relief with that ramp (= [[colorRelief]]'s
   * interpolation). Reference quirk reproduced FAITHFULLY: the white
   * stop equals the red stop (min + 5*range/6 = max - range/6), so
   * values at/above it clamp to white and pure red is only approached
   * from below, never reached. Per-image map, zero shuffle — each
   * task derives its ramp locally exactly as the reference writes its
   * per-raster temp colorfile.
   */
  def colorRaster(images: Dataset[ImageRow])
                 (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    val colors = Array[(Double, Double, Double)](
      (0, 0, 0), (0, 0, 255), (255, 255, 0), // black, blue, yellow
      (255, 165, 0), (255, 0, 0), (255, 255, 255)) // orange, red, white
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val b = dec.bands(0)
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      var i = 0
      while (i < b.length) {
        val v = b(i).toDouble
        if (!v.isNaN) { if (v < mn) mn = v; if (v > mx) mx = v }
        i += 1
      }
      require(mn <= mx, s"color_raster: all-NaN raster ${img.image_id}")
      val range = mx - mn
      val stops = Array.tabulate(6) { k =>
        val e = if (k < 5) (mn + (k + 1) * range / 6).toInt
                else (mx - range / 6).toInt
        (e.toDouble, colors(k)._1, colors(k)._2, colors(k)._3)
      }
      val (r, g, bl) = applyRamp(b, img.w * img.h, stops)
      withPixels(img)(Array(r, g, bl))
    }
  }

  /**
   * Quegan et al. multi-temporal SAR filter (the reference's
   * multi_temp_filter, raster.py:2219-2285): treating bands as the time
   * axis, out_b = m_b * mean_over_bands(I_b / m_b), where m_b is the
   * windowed local mean of band b (integral image, clamped borders).
   * Zero local means pass 0 (the reference's uint8 regime sidesteps
   * them). Per-image map — no shuffle.
   *
   * Deliberate deviation from the reference's literal code: its mStack
   * is `rank.subtract_mean` (skimage's SHIFTED local difference,
   * (i - m)/2 + midpoint on uint8) over an intensity-rescaled copy —
   * dividing the raw band by that makes the "ratio image" neither the
   * published filter nor a ratio of like quantities, and the variable
   * name plus the docstring's Quegan citation say local MEAN was
   * intended. This engine implements the published Quegan formula the
   * reference documents, not the subtract_mean slip.
   */
  def queganFilter(images: Dataset[ImageRow], window: Int = 7)
                  (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    val half = window / 2
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val w = img.w; val h = img.h
      val means = dec.bands.map { b =>
        val s1 = sat(b, w, h, v => v)
        val sn = satNanCount(b, w, h)
        Array.tabulate(w * h) { i =>
          val (sum, n) = windowSum(s1, w, h, half, i % w, i / w)
          val (nan, _) = windowSum(sn, w, h, half, i % w, i / w)
          // NaN only where the window touches a NaN — not down-right of it
          if (nan > 0) Double.NaN else sum / n
        }
      }
      val nb = dec.bands.length
      val ovMean = Array.tabulate(w * h) { i =>
        var s = 0.0
        var b = 0
        while (b < nb) {
          val m = means(b)(i)
          s += (if (m == 0.0) 0.0 else dec.bands(b)(i) / m)
          b += 1
        }
        s / nb
      }
      val out = Array.tabulate(nb)(b =>
        Array.tabulate(w * h)(i => (means(b)(i) * ovMean(i)).toFloat))
      withPixels(img)(out)
    }
  }

  /** Binary/greyscale morphology (the reference's closing step,
    * convutils.py:52-66): erode = windowed min, dilate = windowed max,
    * open = dilate∘erode, close = erode∘dilate; 3x3 (radius 1) clamped
    * borders, per band, per-image map. */
  def morphology(images: Dataset[ImageRow], op: String, radius: Int = 1)
                (implicit spark: SparkSession): Dataset[ImageRow] = {
    require(Set("erode", "dilate", "open", "close")(op), s"op $op")
    import spark.implicits._
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val w = img.w; val h = img.h
      def pass(b: Array[Float], maxOp: Boolean): Array[Float] =
        Array.tabulate(w * h) { i =>
          val cy = i / w; val cx = i % w
          var best = if (maxOp) Float.MinValue else Float.MaxValue
          var dy = -radius
          while (dy <= radius) {
            val y = math.min(h - 1, math.max(0, cy + dy))
            var dx = -radius
            while (dx <= radius) {
              val x = math.min(w - 1, math.max(0, cx + dx))
              val v = b(y * w + x)
              if (maxOp) { if (v > best) best = v }
              else if (v < best) best = v
              dx += 1
            }
            dy += 1
          }
          best
        }
      val out = dec.bands.map { b =>
        op match {
          case "erode"  => pass(b, maxOp = false)
          case "dilate" => pass(b, maxOp = true)
          case "open"   => pass(pass(b, maxOp = false), maxOp = true)
          case "close"  => pass(pass(b, maxOp = true), maxOp = false)
        }
      }
      withPixels(img)(out)
    }
  }

  /** temp_match (utilities.py:1110-1239): normalized cross-correlation of
    * a small broadcast template over each image; returns best match per
    * image: (image_id, row, col, score). */
  def templateMatch(images: Dataset[ImageRow], template: Array[Float],
                    tw: Int, th: Int, band: Int = 0)
                   (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(template.length == tw * th,
      s"template length ${template.length} != $tw*$th — a longer template " +
        "would silently skew the normalized scores, a shorter one crash " +
        "mid-task")
    val tB = spark.sparkContext.broadcast(template)
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val b = dec.bands(band)
      val t = tB.value
      val tMean = t.map(_.toDouble).sum / t.length
      val tVar = t.map(v => (v - tMean) * (v - tMean)).sum
      var best = (-1, -1, Double.MinValue)
      var r = 0
      while (r + th <= img.h) {
        var c = 0
        while (c + tw <= img.w) {
          var s = 0.0; var s2 = 0.0; var cross = 0.0
          var k = 0
          while (k < tw * th) {
            val v = b((r + k / tw) * img.w + c + k % tw)
            s += v; s2 += v.toDouble * v
            cross += (t(k) - tMean) * v
            k += 1
          }
          val n = tw * th
          val wVar = s2 - s * s / n
          val denom = math.sqrt(tVar * wVar)
          val score = if (denom <= 0) 0.0 else cross / denom
          if (score > best._3) best = (r, c, score)
          c += 1
        }
        r += 1
      }
      (img.image_id, best._1, best._2, best._3)
    }.toDF("image_id", "row", "col", "score")
  }
}
