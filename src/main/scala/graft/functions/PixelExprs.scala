package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/**
 * Native per-pixel tile transforms. The `transform`/`zip_with`
 * higher-order-function forms of these ops evaluate an interpreted
 * lambda PER PIXEL — measured at ~4x the whole decode+mask cost at
 * bench volume — while these kernels run one static-call loop per tile
 * inside WholeStageCodegen ([[PxFunctions]]) and emit an UnsafeArrayData
 * directly.
 *
 * Comparison semantics mirror Spark SQL's float ordering EXACTLY
 * (SQLOrderingUtil: NaN == NaN and greater than everything,
 * -0.0 == 0.0) — parity with the HOF forms is spec-gated over
 * NaN / ±0.0 / ordinary values (PixelExprsSpec). Constants (mask values,
 * thresholds, LUTs, HSV bounds) reach the kernels as Catalyst literals,
 * whose codegen keeps NaN and ±0.0 bit for bit.
 *
 * Inputs are ARRAY<FLOAT> pixel payloads. Element nulls (parquet reads
 * arrays back as containsNull=true) follow the lambda forms' exact
 * semantics per op — maskEquals FILLS a null element (`when(null === m,
 * p).otherwise(fill)` takes the otherwise branch), every other op
 * propagates element null — gated over null-bearing arrays in
 * PixelExprsSpec. The no-null fast path emits UnsafeArrayData from a
 * primitive float array.
 */
object PxRuntime {

  /** Spark SQL float comparison (SQLOrderingUtil.compareFloats:
    * primitive ordering — so -0.0 == 0.0 — with NaN == NaN greatest). */
  def cmp(x: Float, y: Float): Int =
    if (x < y) -1
    else if (x > y) 1
    else if (x == y) 0
    else if (x.isNaN) { if (y.isNaN) 0 else 1 }
    else -1

  /** Finish: primitive fast path unless any output element is null. */
  private def emit(out: Array[Float], nulls: java.util.BitSet): ArrayData =
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](out.length)(i => if (nulls.get(i)) null else out(i)))

  private def mark(nulls: java.util.BitSet, i: Int): java.util.BitSet = {
    val b = if (nulls == null) new java.util.BitSet() else nulls
    b.set(i); b
  }

  def maskEquals(px: ArrayData, mval: Float, fill: Float): ArrayData = {
    val n = px.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      // null element: when(null === m, p).otherwise(fill) -> fill
      out(i) =
        if (px.isNullAt(i)) fill
        else { val v = px.getFloat(i); if (cmp(v, mval) == 0) v else fill }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** rule: 0 = "==", 1 = "<", 2 = ">" — matching pixels become repl. */
  def maskRule(px: ArrayData, rule: Int, thr: Float, repl: Float): ArrayData = {
    val n = px.numElements()
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      if (px.isNullAt(i)) nulls = mark(nulls, i) // when(null).otherwise(p=null)
      else {
        val v = px.getFloat(i)
        val c = cmp(v, thr)
        val hit = rule match { case 0 => c == 0; case 1 => c < 0; case _ => c > 0 }
        out(i) = if (hit) repl else v
      }
      i += 1
    }
    emit(out, nulls)
  }

  /** Exact-key LUT (keys sorted by cmp); unmapped values pass through. */
  def applyLut(px: ArrayData, keys: Array[Float], vals: Array[Float]): ArrayData = {
    val n = px.numElements()
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      if (px.isNullAt(i)) nulls = mark(nulls, i) // element_at(m, null) -> null
      else {
        val v = px.getFloat(i)
        var lo = 0; var hi = keys.length - 1; var found = -1
        while (lo <= hi && found < 0) {
          val mid = (lo + hi) >>> 1
          val c = cmp(v, keys(mid))
          if (c == 0) found = mid else if (c < 0) hi = mid - 1 else lo = mid + 1
        }
        out(i) = if (found >= 0) vals(found) else v
      }
      i += 1
    }
    emit(out, nulls)
  }

  /** Binary tile ops require EQUAL-LENGTH pixel arrays — tiles of one
    * grid always are, and a mismatch means misaligned rasters upstream.
    * zip_with would null-pad the shorter side and silently poison the
    * tail; failing fast surfaces the real bug instead (spec-gated). */
  private def requireSameLength(op: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$op: pixel arrays differ in length (${n} vs ${b.numElements()}) — misaligned tiles")
    n
  }

  def zipMul(a: ArrayData, b: ArrayData): ArrayData = {
    val n = requireSameLength("px_zip_mul", a, b)
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) nulls = mark(nulls, i) // null * y -> null
      else out(i) = a.getFloat(i) * b.getFloat(i)
      i += 1
    }
    emit(out, nulls)
  }

  /** OpenCV-convention HSV in-range mask over three same-tile band
    * arrays (colour_thresh's data core, utilities.py:1642-1716:
    * cvtColor(BGR2HSV) + inRange(lower, upper)). Conventions:
    *  - H on OpenCV's 8-bit scale [0, 180): the 0..360-degree hue
    *    halved, branch order V==R, V==G, V==B (cvtColor's order);
    *    d == 0 (grey) -> H = 0, negative hue wraps by +360 BEFORE the
    *    halving;
    *  - S scaled to [0, 255]: (V - min) * 255 / V, 0 when V == 0;
    *  - V = the raw channel max (no 0..255 rescale of the input —
    *    callers feeding reflectance floats pick vMin/vMax on their own
    *    scale; uint8 imagery reproduces cv2 up to its fixed-point <1 LSB
    *    rounding, which only moves exact-boundary pixels).
    * ALL arithmetic is double with the exact operation order above, so
    * a SQL oracle reproduces the mask bit-for-bit. Out: 1f where
    * (h, s, v) all lie inside the CLOSED ranges (cv2.inRange is
    * lower <= x <= upper), else 0f; a null element in any band
    * propagates to a null mask element. */
  def hsvInRange(r: ArrayData, g: ArrayData, b: ArrayData,
                 hMin: Double, hMax: Double, sMin: Double, sMax: Double,
                 vMin: Double, vMax: Double): ArrayData = {
    val n = requireSameLength("px_hsv_in_range", r, g)
    requireSameLength("px_hsv_in_range", r, b)
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      if (r.isNullAt(i) || g.isNullAt(i) || b.isNullAt(i)) nulls = mark(nulls, i)
      else {
        val rv = r.getFloat(i).toDouble
        val gv = g.getFloat(i).toDouble
        val bv = b.getFloat(i).toDouble
        val v = math.max(rv, math.max(gv, bv))
        val d = v - math.min(rv, math.min(gv, bv))
        var h =
          if (d == 0) 0.0
          else if (v == rv) 60.0 * (gv - bv) / d
          else if (v == gv) 120.0 + 60.0 * (bv - rv) / d
          else 240.0 + 60.0 * (rv - gv) / d
        if (h < 0) h += 360.0
        h /= 2.0
        val s = if (v == 0) 0.0 else d * 255.0 / v
        val pass = h >= hMin && h <= hMax && s >= sMin && s <= sMax &&
          v >= vMin && v <= vMax
        out(i) = if (pass) 1f else 0f
      }
      i += 1
    }
    emit(out, nulls)
  }

  /** combine_scene rule: where a == 0 take b, else keep a. */
  def combineScene(a: ArrayData, b: ArrayData, nd: Float): ArrayData = {
    val n = requireSameLength("px_combine_scene", a, b)
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      // x null: when(null === 0, y).otherwise(x) -> x = null
      if (a.isNullAt(i)) nulls = mark(nulls, i)
      else {
        val x = a.getFloat(i)
        // "where s1 is nodata/0 take s2": 0, s1's declared sentinel,
        // and NaN (never a valid class label; the tiler default
        // sentinel) are all missing. cmp is Float.compare, so a NaN
        // sentinel matches NaN pixels too.
        if (cmp(x, 0f) == 0 || x.isNaN || cmp(x, nd) == 0) {
          if (b.isNullAt(i)) nulls = mark(nulls, i) else out(i) = b.getFloat(i)
        } else out(i) = x
      }
      i += 1
    }
    emit(out, nulls)
  }

  /** Normalize a tile's declared nodata sentinel to NaN (NaN sentinel =
    * no-op: NaN pixels are already NaN). The composite kernels skip
    * NaN, so this is the per-row pre-pass that makes mixed-sentinel
    * series composite correctly. */
  def nodataToNan(a: ArrayData, nd: Float): ArrayData = {
    val n = a.numElements()
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) nulls = mark(nulls, i)
      else {
        val x = a.getFloat(i)
        out(i) = if (cmp(x, nd) == 0) Float.NaN else x
      }
      i += 1
    }
    emit(out, nulls)
  }

  /** Series composite over an ARRAY<ARRAY<FLOAT>> time/band stack —
    * the temporal_comp / stat_comp fold, one native loop instead of the
    * aggregate/zip_with/array_sort HOF chains (which paid interpreted
    * lambdas per pixel PER SERIES ELEMENT and dominated the whole job).
    * op: 0 sum, 1 mean, 2 min, 3 max, 4 percentile(q), 5 std
    * (np.nanstd, population / ddof 0, DOUBLE accumulation — the
    * convention a double-math SQL oracle replays). Mirrors the HOF
    * forms exactly: NaN-skipping pairwise folds in series order; a NULL
    * series array nulls the whole result (zip_with(acc, null) poisoning)
    * for fold ops and is SKIPPED by the percentile (element_at ->
    * filter); inner null / out-of-range elements poison that index for
    * folds and are skipped by the percentile; percentile interpolation
    * is float-subtract then double multiply/add cast to float
    * (np.nanpercentile convention, identical expression tree). */
  def seriesComposite(arrays: ArrayData, op: Int, q: Double): ArrayData = {
    val t = arrays.numElements()
    if (t == 0) return null // element_at(arrays, 1) -> null seed -> null
    // fail-fast, not OOM: the gathered series is one aggregation-buffer
    // row (t x tile bytes — a decade of dailies on 256x256 floats is
    // ~1 GB/row). 64k snapshots is far past any sane composite; beyond
    // it, pre-aggregate coarser epochs upstream. (mean/min/max/sum
    // could run as an incremental element-wise aggregate that never
    // materializes the series — the documented scale-up path if a
    // workload ever needs unbounded series.)
    require(t <= 65536,
      s"px_series_composite: $t snapshots in one series — pre-aggregate " +
        "upstream (media/percentile need the full series; cap = 65536)")
    if (op == 4 || op == 5) {
      val first = arrays.getArray(0)
      if (first == null) return null // size(null) -> null index list
      val n = first.numElements()
      val out = new Array[Float](n)
      val buf = new Array[Float](t)
      var i = 0
      while (i < n) {
        var m = 0
        var k = 0
        while (k < t) {
          val a = arrays.getArray(k)
          if (a != null && i < a.numElements() && !a.isNullAt(i)) {
            val v = a.getFloat(i)
            if (!v.isNaN) { buf(m) = v; m += 1 }
          }
          k += 1
        }
        if (m == 0) out(i) = Float.NaN
        else if (op == 5) {
          // np.nanstd, ddof 0: mean first, then mean squared deviation —
          // the two-pass form (not sumsq - mean^2, which cancels
          // catastrophically on large offsets)
          var sm = 0.0
          var j = 0
          while (j < m) { sm += buf(j); j += 1 }
          val mean = sm / m
          var dev = 0.0
          j = 0
          while (j < m) { val d = buf(j) - mean; dev += d * d; j += 1 }
          out(i) = math.sqrt(dev / m).toFloat
        } else {
          java.util.Arrays.sort(buf, 0, m)
          val pos = (m - 1) * q / 100.0
          val lo = pos.toInt
          val frac = pos - lo
          val vlo = buf(lo)
          val vhi = buf(math.min(lo + 1, m - 1))
          out(i) = (vlo.toDouble + (vhi - vlo).toDouble * frac).toFloat
        }
        i += 1
      }
      return UnsafeArrayData.fromPrimitiveArray(out)
    }
    // fold ops: a null series array nulls the whole composite
    var k = 0
    while (k < t) { if (arrays.getArray(k) == null) return null; k += 1 }
    val first = arrays.getArray(0)
    val n = first.numElements()
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    val cnt = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (first.isNullAt(i)) nulls = mark(nulls, i)
      else {
        val v = first.getFloat(i)
        out(i) = v
        if (!v.isNaN) cnt(i) = 1
      }
      i += 1
    }
    k = 1
    while (k < t) {
      val cur = arrays.getArray(k)
      i = 0
      while (i < n) {
        if (nulls == null || !nulls.get(i)) {
          // zip_with pads a shorter array with null -> poison, like an
          // inner null element
          if (i >= cur.numElements() || cur.isNullAt(i)) nulls = mark(nulls, i)
          else {
            val y = cur.getFloat(i)
            if (!y.isNaN) cnt(i) += 1
            val x = out(i)
            out(i) =
              if (x.isNaN) y
              else if (y.isNaN) x
              else op match {
                case 0 | 1 => x + y
                case 2     => if (cmp(y, x) < 0) y else x
                case _     => if (cmp(y, x) > 0) y else x
              }
          }
        }
        i += 1
      }
      k += 1
    }
    if (op == 1) {
      i = 0
      while (i < n) {
        if (nulls == null || !nulls.get(i))
          out(i) = if (cnt(i) == 0) Float.NaN
                   else (out(i).toDouble / cnt(i).toDouble).toFloat
        i += 1
      }
    }
    emit(out, nulls)
  }

  /** Mosaic fold: first non-`nodata` value in series order (layers are
    * pre-sorted by image_id); null layers/elements poison like zip_with. */
  /** First non-nodata per pixel across layers, each layer tested against
    * ITS OWN nodata (`nds(k)`) — layers from different sources may carry
    * different sentinels, and a single global value would both misread
    * the other layers and (fed from a `first()` aggregate) flip
    * nondeterministically. Unfilled pixels emit `nds(0)` (the sorted
    * first layer's sentinel — deterministic). A null pixel in ANY layer
    * poisons the output pixel to null, as before. */
  def mosaicComposite(arrays: ArrayData, nds: ArrayData): ArrayData = {
    val t = arrays.numElements()
    if (t == 0) return null
    require(nds.numElements() == t,
      s"px_mosaic: ${nds.numElements()} nodata values for $t layers")
    var k = 0
    while (k < t) { if (arrays.getArray(k) == null) return null; k += 1 }
    val n = arrays.getArray(0).numElements()
    val out = new Array[Float](n)
    java.util.Arrays.fill(out, nds.getFloat(0))
    val filled = new java.util.BitSet(n)
    var nulls: java.util.BitSet = null
    k = 0
    while (k < t) {
      val cur = arrays.getArray(k)
      val nd = nds.getFloat(k)
      var i = 0
      while (i < n) {
        if (nulls == null || !nulls.get(i)) {
          if (i >= cur.numElements() || cur.isNullAt(i)) nulls = mark(nulls, i)
          else if (!filled.get(i)) {
            val v = cur.getFloat(i)
            if (cmp(v, nd) != 0) { out(i) = v; filled.set(i) }
          }
        }
        i += 1
      }
      k += 1
    }
    emit(out, nulls)
  }

  /** (a-b)/(a+b) with 0-denominator -> nodata; float adds/subs, double
    * division truncated to float — exactly the HOF expression tree
    * (`((x - y) / (x + y)).cast("float")` promotes the division). */
  def ndvi(a: ArrayData, b: ArrayData, nodata: Float): ArrayData = {
    val n = requireSameLength("px_ndvi", a, b)
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) nulls = mark(nulls, i) // null arith
      else {
        val x = a.getFloat(i); val y = b.getFloat(i)
        val s = x + y
        out(i) = if (cmp(s, 0f) == 0) nodata
                 else ((x - y).toDouble / s.toDouble).toFloat
      }
      i += 1
    }
    emit(out, nulls)
  }

  /** Pixel-array sum in double, strict index order — bit-identical to
    * `aggregate(px, 0.0D, (a, x) => a + x)` (each float promotes to
    * double at its add; a null element poisons the whole sum). */
  def sumOrNull(px: ArrayData): java.lang.Double = {
    val n = px.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (px.isNullAt(i)) return null
      s += px.getFloat(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}

/** Public Column helpers for the native pixel kernels: each is one
  * [[Kernel]] call into [[PxRuntime]] over ARRAY<FLOAT> pixels. */
object PxFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

  private val Px = ArrayType(FloatType)
  private val Series = ArrayType(ArrayType(FloatType))
  private val PxOut = ArrayType(FloatType, containsNull = false)
  private def pxOp(name: String, method: String, inputs: DataType*) =
    Kernel(name, PxRuntime.getClass, method, PxOut, inputs)

  private[graft] val Sum = Kernel("px_sum", PxRuntime.getClass, "sumOrNull", DoubleType,
    Seq(Px), orNull = true)

  /** Sum of a pixel array in double, strict index order. */
  def pxSum(c: Column): Column = Sum(Seq(c))

  /** Pixels equal to `mval` stay, every other pixel (and a null element)
    * becomes `fill`. */
  def maskEquals(px: Column, mval: Float, fill: Float): Column =
    Kernel("px_mask_equals", PxRuntime.getClass, "maskEquals", PxOut, Seq(Px),
      fillsNulls = true)(Seq(px), mval, fill)

  /** rule 0 "==", 1 "<", 2 ">" against `thr`: matching pixels become `repl`. */
  def maskRule(px: Column, rule: Int, thr: Float, repl: Float): Column = {
    require(rule >= 0 && rule <= 2)
    pxOp("px_mask_rule", "maskRule", Px)(Seq(px), rule, thr, repl)
  }

  /** Exact-key LUT (keys sorted by [[PxRuntime.cmp]]); unmapped values pass. */
  def applyLut(px: Column, keys: Array[Float], vals: Array[Float]): Column = {
    require(keys.length == vals.length)
    pxOp("px_apply_lut", "applyLut", Px)(Seq(px), keys, vals)
  }

  /** Element-wise product of two equal-length pixel arrays. */
  def mul(a: Column, b: Column): Column = pxOp("px_mul", "zipMul", Px, Px)(Seq(a, b))

  /** Where `a` is 0, NaN or the FLOAT `nodata`, take `b`. */
  def combineScene(a: Column, b: Column, nodata: Column): Column =
    pxOp("px_combine_scene", "combineScene", Px, Px, FloatType)(Seq(a, b, nodata))

  /** Pixels equal to the FLOAT `nodata` become NaN. */
  def nodataToNan(a: Column, nodata: Column): Column =
    pxOp("px_nodata_to_nan", "nodataToNan", Px, FloatType)(Seq(a, nodata))

  /** Series fold over ARRAY<ARRAY<FLOAT>>: op 0 sum, 1 mean, 2 min, 3 max,
    * 4 percentile `q`, 5 std (see [[PxRuntime.seriesComposite]]). */
  def seriesComposite(arrays: Column, op: Int, q: Double): Column = {
    require(op >= 0 && op <= 5)
    Kernel("px_series_composite", PxRuntime.getClass, "seriesComposite",
      ArrayType(FloatType), Seq(Series), orNull = true)(Seq(arrays), op, q)
  }

  /** First non-nodata pixel across layers, per-layer ARRAY<FLOAT> nodata. */
  def mosaic(arrays: Column, nodata: Column): Column =
    Kernel("px_mosaic", PxRuntime.getClass, "mosaicComposite", ArrayType(FloatType),
      Seq(Series, Px), orNull = true)(Seq(arrays, nodata))

  /** (a - b) / (a + b), the FLOAT `nodata` where a + b == 0. */
  def ndvi(a: Column, b: Column, nodata: Column): Column =
    pxOp("px_ndvi", "ndvi", Px, Px, FloatType)(Seq(a, b, nodata))

  /** 1 where the (r, g, b) pixel's OpenCV HSV lies inside the closed
    * bounds, else 0 (see [[PxRuntime.hsvInRange]]). The bounds are
    * constants of the call, so they must be finite. */
  def hsvInRange(r: Column, g: Column, b: Column, hMin: Double, hMax: Double,
                 sMin: Double, sMax: Double, vMin: Double, vMax: Double): Column = {
    require(Seq(hMin, hMax, sMin, sMax, vMin, vMax).forall(x => !x.isNaN && !x.isInfinite),
      "px_hsv_in_range bounds must be finite")
    pxOp("px_hsv_in_range", "hsvInRange", Px, Px, Px)(Seq(r, g, b),
      hMin, hMax, sMin, sMax, vMin, vMax)
  }
}
