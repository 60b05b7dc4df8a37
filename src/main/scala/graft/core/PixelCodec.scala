package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/**
 * Pixel codecs for the north-rule image table `(image_id, bytes, w, h,
 * fmt, caption, phash)`.
 *
 * The reference reads pixel grids through GDAL (`raster2array`,
 * /root/reference/geospatial_learn/raster.py:373-422) with dtype map at
 * raster.py:195-197. Here the on-disk form is an opaque BINARY column and
 * the decode happens lazily executor-side (in `mapPartitions`), never on
 * the driver. Three deterministic formats (FIXTURES.md §1):
 *
 *  - `raw-le`  lossless float32 little-endian, bands stored sequentially.
 *  - `rle`     lossless run-length: per band, (count:int32, value:float32)*
 *  - `qnt8`    deterministic lossy 8-bit quantization: per band,
 *              [min:float32][max:float32][w*h quantized bytes]. Max error
 *              is (max-min)/510 so the PSNR >= 40 dB invariant from
 *              BASELINE.json:15 is decidable (quant noise PSNR ~= 58 dB).
 *
 * All encodings are per-band self-delimiting given (w, h), so band count
 * is implied by payload length for raw-le/qnt8 and carried explicitly for
 * rle via a 1-byte band-count header.
 */
object PixelCodec {

  /** Decoded image: `bands` arrays of row-major w*h float pixels. */
  final case class Decoded(w: Int, h: Int, bands: Array[Array[Float]])

  val FmtRawLe = "raw-le"
  val FmtRle   = "rle"
  val FmtQnt8  = "qnt8"

  def isLossy(fmt: String): Boolean = fmt == FmtQnt8

  /** Band count from the encoded header/length alone — no pixel decode,
    * so metadata ops (set_bandnames) stay O(1) per row. */
  def bandCount(bytes: Array[Byte], fmt: String, w: Int, h: Int): Int = fmt match {
    case FmtRawLe => bytes.length / (4 * w * h)
    case FmtRle   => bytes(0) & 0xff
    case FmtQnt8  => bytes.length / (8 + w * h)
    case other    => throw new IllegalArgumentException(s"unknown fmt: $other")
  }

  // ---------------------------------------------------------------- encode

  def encode(fmt: String, w: Int, h: Int, bands: Array[Array[Float]]): Array[Byte] = {
    require(bands.forall(_.length == w * h), s"band length != $w*$h")
    fmt match {
      case FmtRawLe => encodeRaw(bands)
      case FmtRle   => encodeRle(bands)
      case FmtQnt8  => encodeQnt8(bands)
      case other    => throw new IllegalArgumentException(s"unknown fmt: $other")
    }
  }

  private def encodeRaw(bands: Array[Array[Float]]): Array[Byte] = {
    val n  = bands.map(_.length).sum
    val bb = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
    val fb = bb.asFloatBuffer()
    bands.foreach(fb.put) // bulk put: one bounds check per band, not per px
    bb.array()
  }

  private def encodeRle(bands: Array[Array[Float]]): Array[Byte] = {
    // the band count is one header byte — 256 bands would silently
    // truncate to 0 and decode would drop every band
    require(bands.length <= 255,
      s"rle supports at most 255 bands, got ${bands.length}")
    val out = new java.io.ByteArrayOutputStream()
    val hdr = ByteBuffer.allocate(1)
    hdr.put(bands.length.toByte)
    out.write(hdr.array())
    bands.foreach { b =>
      var i = 0
      val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      while (i < b.length) {
        val v = b(i)
        // BIT equality, not float ==: NaN != NaN would emit every NaN
        // nodata pixel as its own 8-byte run (2x raw size for exactly
        // the constant regions RLE exists for), and 0.0f == -0.0f would
        // decode -0.0 back as +0.0, breaking the lossless contract
        val vb = java.lang.Float.floatToRawIntBits(v)
        var j = i + 1
        while (j < b.length &&
               java.lang.Float.floatToRawIntBits(b(j)) == vb &&
               j - i < Int.MaxValue) j += 1
        bb.clear(); bb.putInt(j - i); bb.putFloat(v)
        out.write(bb.array(), 0, 8)
        i = j
      }
    }
    out.toByteArray
  }

  private def encodeQnt8(bands: Array[Array[Float]]): Array[Byte] = {
    val px = bands.headOption.map(_.length).getOrElse(0)
    val bb = ByteBuffer.allocate(bands.length * (8 + px)).order(ByteOrder.LITTLE_ENDIAN)
    bands.foreach { b =>
      var mn = Float.MaxValue; var mx = Float.MinValue
      var i = 0
      while (i < b.length) {
        val v = b(i)
        // qnt8 has no NaN slot: math.round(NaN) = 0 would silently turn
        // a nodata pixel into the band MINIMUM (a valid-looking value
        // that then skews every downstream stat), and an infinite range
        // overflows to a constant-mn band. The lossless fmts carry NaN
        // nodata; a lossy transcode of missing data must be explicit
        // (fillNodata first), not silent.
        require(!v.isNaN && !v.isInfinite,
          s"qnt8 cannot encode non-finite pixel $v — fill or mask nodata " +
            "before a lossy transcode")
        if (v < mn) mn = v; if (v > mx) mx = v; i += 1
      }
      if (b.isEmpty) { mn = 0f; mx = 0f }
      bb.putFloat(mn); bb.putFloat(mx)
      val range = mx - mn
      i = 0
      while (i < b.length) {
        val q = if (range <= 0f) 0 else math.round((b(i) - mn) / range * 255f)
        bb.put((q & 0xff).toByte)
        i += 1
      }
    }
    bb.array()
  }

  // ---------------------------------------------------------------- decode

  /** Little-endian int from a byte array by shift composition — plain
    * primitive loads the JIT folds well (the per-value ByteBuffer get()s
    * this replaced paid position bookkeeping + a virtual call per PIXEL
    * on the rle/qnt8 paths; noisy imagery degenerates rle to 1-px runs,
    * so that was per-pixel cost on a third of the bench table. NOT a
    * VarHandle byte-view: Scala cannot emit @PolymorphicSignature call
    * sites, so VarHandle.get from Scala boxes per call). */
  @inline private def intAt(bytes: Array[Byte], off: Int): Int =
    (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
      ((bytes(off + 2) & 0xff) << 16) | (bytes(off + 3) << 24)

  def decode(bytes: Array[Byte], fmt: String, w: Int, h: Int): Decoded = {
    val px = w * h
    fmt match {
      case FmtRawLe =>
        val nb = bytes.length / (4 * px)
        val fb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
        Decoded(w, h, Array.fill(nb) {
          val b = new Array[Float](px)
          fb.get(b) // bulk get: vectorized copy instead of per-px getFloat
          b
        })
      case FmtRle =>
        val nb = bytes(0) & 0xff
        var off = 1
        val bands = Array.fill(nb) {
          val b = new Array[Float](px)
          var i = 0
          while (i < px) {
            val cnt = intAt(bytes, off)
            val v = java.lang.Float.intBitsToFloat(intAt(bytes, off + 4))
            off += 8
            if (cnt == 1) b(i) = v // the degenerate-run fast path
            else java.util.Arrays.fill(b, i, i + cnt, v)
            i += cnt
          }
          b
        }
        Decoded(w, h, bands)
      case FmtQnt8 =>
        val nb = bytes.length / (8 + px)
        var off = 0
        val bands = Array.fill(nb) {
          val mn = java.lang.Float.intBitsToFloat(intAt(bytes, off))
          val mx = java.lang.Float.intBitsToFloat(intAt(bytes, off + 4))
          val step = (mx - mn) / 255f
          val b = new Array[Float](px)
          val base = off + 8
          var i = 0
          while (i < px) { b(i) = mn + (bytes(base + i) & 0xff) * step; i += 1 }
          off = base + px
          b
        }
        Decoded(w, h, bands)
      case other => throw new IllegalArgumentException(s"unknown fmt: $other")
    }
  }

  // ------------------------------------------------------------- integrity

  /**
   * 64-bit perceptual hash (average hash): box-downsample band 0 to 8x8,
   * threshold at the mean. Bit i (row-major) set iff cell mean > image
   * mean. NOT stable under the qnt8 round-trip in general: a cell mean
   * within quantization error of the image mean flips its bit (seen on
   * box-resized noise images). So an image row's phash is taken over the
   * pixels a reader DECODES — the rule `graft.operators.ImageOps.fromArray`,
   * the one builder of image rows, applies.
   */
  def phash64(w: Int, h: Int, band0: Array[Float]): Long = {
    val cells = new Array[Double](64)
    val cnts  = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = math.min(y * 8 / math.max(h, 1), 7)
      var x = 0
      while (x < w) {
        val cx = math.min(x * 8 / math.max(w, 1), 7)
        val k  = cy * 8 + cx
        cells(k) += band0(y * w + x); cnts(k) += 1
        x += 1
      }
      y += 1
    }
    var total = 0.0; var n = 0L
    var k = 0
    while (k < 64) { total += cells(k); n += cnts(k); k += 1 }
    val mean = if (n == 0) 0.0 else total / n
    var bits = 0L
    k = 0
    while (k < 64) {
      val cm = if (cnts(k) == 0) mean else cells(k) / cnts(k)
      if (cm > mean) bits |= (1L << k)
      k += 1
    }
    bits
  }

  /** PSNR in dB between reference `a` and reconstruction `b`; peak is the
    * dynamic range of `a` (>=1 to keep flat images well-defined). */
  def psnr(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length)
    var mse = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      mse += d * d
      if (a(i) < mn) mn = a(i); if (a(i) > mx) mx = a(i)
      i += 1
    }
    if (a.isEmpty) return Double.PositiveInfinity
    mse /= a.length
    if (mse == 0.0) return Double.PositiveInfinity
    val peak = math.max(mx - mn, 1.0)
    10.0 * math.log10(peak * peak / mse)
  }
}
