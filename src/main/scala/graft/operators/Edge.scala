package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ImageRow, MultiTileRow}
import graft.core.PixelCodec

/**
 * Canny edge detection — the edge front-end of the reference's
 * Hough-segmentation and RANSAC-line chains
 * (/root/reference/geospatial_learn/utilities.py:177-205 `houghseg`
 * edge='canny', utilities.py:1595,1621 `ransac_lines`; skimage.canny
 * semantics re-derived from the published algorithm, not ported).
 *
 * Spark shape: a per-image typed map (executors decode, filter, encode;
 * nothing leaves the row), exactly like the other whole-image kernels in
 * [[ImageOps]] — zero shuffle, codegen-friendly surroundings. For
 * rasters larger than one row's budget, [[cannyTiles]] runs the same
 * kernel per haloed tile (bit-exact — finite support) with hysteresis
 * as distributed connected components; the kernel is pure on
 * (array, w, h).
 *
 * Deterministic semantics (documented, spec-pinned in EdgeSpec):
 *  - optional separable Gaussian blur, truncate 4.0, replicate padding;
 *    skipped when sigma <= 0
 *  - 3x3 Sobel, replicate padding; magnitude = sqrt(gx^2+gy^2) in Double
 *  - non-max suppression quantized to 4 sectors at the tan(22.5 deg)
 *    boundaries; a pixel survives iff mag >= BOTH neighbors along its
 *    sector (plateaus survive); out-of-image neighbors count 0
 *  - double-threshold hysteresis: weak = mag >= lowT, strong =
 *    mag >= highT, BFS over 8-connectivity from strong through weak
 */
object Edge {

  final val Tan22p5: Double = 0.41421356237309503 // tan(pi/8), public constant

  /** Gaussian kernel radius for sigma (truncate = 4.0, skimage's default
    * window rule). */
  def gaussianRadius(sigma: Double): Int =
    if (sigma <= 0) 0 else math.max(1, math.ceil(4.0 * sigma).toInt)

  private def gaussianKernel(sigma: Double): Array[Double] = {
    val r = gaussianRadius(sigma)
    val k = Array.tabulate(2 * r + 1)(i => {
      val d = (i - r).toDouble
      math.exp(-d * d / (2.0 * sigma * sigma))
    })
    val s = k.sum
    k.map(_ / s)
  }

  /** Separable replicate-padded Gaussian blur (pure kernel). */
  def gaussianBlur(v: Array[Float], w: Int, h: Int, sigma: Double): Array[Double] = {
    val src = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { src(i) = v(i).toDouble; i += 1 }
    if (sigma <= 0) src
    else { val k = gaussianKernel(sigma); sepFilter(src, w, h, k, k) }
  }

  /** Separable correlation with replicate ('nearest') padding: `kx` along
    * x, then `ky` along y, taps in kernel order. The one copy shared by
    * [[gaussianBlur]] and `Snakes.inverseGaussianGradient`. */
  private[operators] def sepFilter(img: Array[Double], w: Int, h: Int,
                                   kx: Array[Double], ky: Array[Double]): Array[Double] = {
    val rx = kx.length / 2; val ry = ky.length / 2
    val tmp = new Array[Double](img.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var acc = 0.0
        var k = -rx
        while (k <= rx) {
          val xx = math.min(w - 1, math.max(0, x + k))
          acc += img(y * w + xx) * kx(k + rx)
          k += 1
        }
        tmp(y * w + x) = acc
        x += 1
      }
      y += 1
    }
    val out = new Array[Double](img.length)
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var acc = 0.0
        var k = -ry
        while (k <= ry) {
          val yy = math.min(h - 1, math.max(0, y + k))
          acc += tmp(yy * w + x) * ky(k + ry)
          k += 1
        }
        out(y * w + x) = acc
        x += 1
      }
      y += 1
    }
    out
  }

  /** 3x3 Sobel with replicate padding over a double image: (gx, gy,
    * magnitude sqrt(gx^2 + gy^2)). Canny's gradient stage and `Rag`'s
    * boundary edge map. */
  private[operators] def sobel(img: Array[Double], w: Int, h: Int)
      : (Array[Double], Array[Double], Array[Double]) = {
    @inline def at(x: Int, y: Int): Double =
      img(math.max(0, math.min(h - 1, y)) * w + math.max(0, math.min(w - 1, x)))
    val gx = new Array[Double](w * h)
    val gy = new Array[Double](w * h)
    val mag = new Array[Double](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * w + x
        gx(p) = (at(x + 1, y - 1) + 2 * at(x + 1, y) + at(x + 1, y + 1)) -
                (at(x - 1, y - 1) + 2 * at(x - 1, y) + at(x - 1, y + 1))
        gy(p) = (at(x - 1, y + 1) + 2 * at(x, y + 1) + at(x + 1, y + 1)) -
                (at(x - 1, y - 1) + 2 * at(x, y - 1) + at(x + 1, y - 1))
        mag(p) = math.sqrt(gx(p) * gx(p) + gy(p) * gy(p))
        x += 1
      }
      y += 1
    }
    (gx, gy, mag)
  }

  /** Stages 1-3 of the pure kernel (blur, Sobel, NMS, double
    * threshold): the per-pixel class map — 0 = not-edge, 1 = weak,
    * 2 = strong. Shared verbatim by [[cannyMask]] (whole-image BFS
    * hysteresis) and [[cannyTiles]] (distributed hysteresis), so the
    * two paths cannot drift. */
  def cannyCls(v: Array[Float], w: Int, h: Int, sigma: Double,
               lowT: Double, highT: Double): Array[Byte] = {
    val (gx, gy, mag) = sobel(gaussianBlur(v, w, h, sigma), w, h)
    // non-max suppression; out-of-image neighbors are 0
    @inline def m(x: Int, y: Int): Double =
      if (x < 0 || x >= w || y < 0 || y >= h) 0.0 else mag(y * w + x)
    // 0 = not-edge, 1 = weak, 2 = strong
    val cls = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * w + x
        val mg = mag(p)
        if (mg >= lowT) {
          val ax = math.abs(gx(p)); val ay = math.abs(gy(p))
          val (n1, n2) =
            if (ay <= ax * Tan22p5) (m(x - 1, y), m(x + 1, y))          // horizontal
            else if (ax <= ay * Tan22p5) (m(x, y - 1), m(x, y + 1))     // vertical
            else if (gx(p) * gy(p) > 0) (m(x - 1, y - 1), m(x + 1, y + 1)) // main diag
            else (m(x + 1, y - 1), m(x - 1, y + 1))                     // anti diag
          if (mg >= n1 && mg >= n2)
            cls(p) = if (mg >= highT) 2 else 1
        }
        x += 1
      }
      y += 1
    }
    cls
  }

  /** The pure Canny kernel: returns a 0/1 mask (row-major w*h). */
  def cannyMask(v: Array[Float], w: Int, h: Int, sigma: Double,
                lowT: Double, highT: Double): Array[Float] = {
    val cls = cannyCls(v, w, h, sigma, lowT, highT)
    Components.growStrong8(cls, w, h)
    cls.map(c => if (c == 2) 1f else 0f)
  }

  /** Distributed Canny for rasters too big for one row: per-tile
    * gradient + NMS over haloed tiler windows, then hysteresis as
    * distributed connected components instead of a whole-image BFS.
    * Emits the kept edge pixels (image_id, x, y).
    *
    * EXACT, not approximate: every stage has finite support
    * (gaussianRadius(sigma) for the blur, +1 Sobel, +1 the NMS
    * neighbors), so with halo >= gaussianRadius + 2 each core pixel's
    * class (weak/strong) is bit-identical to the whole-image kernel —
    * enforced by a fail-fast require and spec-gated against
    * [[cannyMask]] on multi-tile images. The BFS flood fill "keep
    * every weak pixel 8-connected to a strong one" is exactly
    * "component contains a strong pixel" over the sparse weak|strong
    * pixel graph, which [[hysteresis8]] solves with
    * [[Components.connectedRoots]] over segment labels (a driver
    * union-find for a small label graph, else Kiveris alternating-star
    * in O(log n) bounded-shuffle rounds) — segment-label pairs are all
    * that ever shuffles; the dense pixel payloads never leave the tile
    * flatMap. */
  def cannyTiles(tiles: Dataset[MultiTileRow], tileSize: Int, halo: Int,
                 lowT: Double, highT: Double, sigma: Double = 0.0,
                 band: Int = 0)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(halo >= gaussianRadius(sigma) + 2,
      s"halo $halo < gaussianRadius($sigma) + 2: tile cores would read " +
        "replicate-padded halo values and drift from the whole-image kernel")
    val cand0 = tiles.mapPartitions { it =>
      Tiler.firstCellOnly(it).flatMap { t =>
        {
          val cls = cannyCls(t.bands(band), t.tw, t.th, sigma, lowT, highT)
          val (offX, offY, coreW, coreH) =
            Tiler.coreWindow(t.tx, t.ty, t.tw, t.th, tileSize, halo)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Int, Int, Boolean)]
          var r = 0
          while (r < coreH) {
            var c = 0
            while (c < coreW) {
              val v = cls((offY + r) * t.tw + offX + c)
              if (v != 0)
                out += ((t.image_id, t.tx * tileSize + c,
                  t.ty * tileSize + r, v == 2))
              c += 1
            }
            r += 1
          }
          out
        }
      }
    }.toDF("image_id", "x", "y", "strong")
    hysteresis8(cand0).select(col("image_id"), col("x"), col("y"))
  }

  /** Per-partition bound on the candidate rows [[hysteresis8]] buffers
    * (~300 B per row with its index entry, so ~1.2 GB): a pathological
    * all-edges partition fails with a message instead of exhausting the
    * executor heap. */
  val MaxHysteresisPartitionRows: Int = 1 << 22

  /** Partition ids below this bound fit [[segmentLabel]]'s 23 bits. */
  private[operators] val MaxLabelPartitions: Long = 1L << 23

  /** The hysteresis label of a local segment: `(pid << 40) | root`,
    * with the sign bit set when the segment holds a strong pixel, so
    * every strong label sorts below every weak one. Past 2^23
    * partitions the partition bits would reach bit 63 and a weak
    * segment would read as strong, so that fails instead. */
  private[operators] def segmentLabel(pid: Long, root: Int, strong: Boolean): Long = {
    require(pid >= 0 && pid < MaxLabelPartitions,
      s"hysteresis: partition id $pid does not fit the 23-bit label field " +
        s"(at most $MaxLabelPartitions partitions)")
    val lab = (pid << 40) | root.toLong
    if (strong) lab | Long.MinValue else lab
  }

  /** Distributed double-threshold hysteresis: keeps every input pixel
    * whose 8-connected component (through weak-or-strong pixels of the
    * same image) contains a strong pixel — exactly the BFS flood fill,
    * solved as connected components over the SPARSE candidate graph.
    * Input needs (image_id, x, y, strong) columns; extra columns ride
    * through to the kept output rows. Shared by [[cannyTiles]] and
    * [[PhaseCong.phaseCongEdgesTiles]]. Each partition's candidates are
    * buffered whole (twice: labeling and probe passes); past
    * `maxPartitionRows` of them the pass fails with a message. */
  private[operators] def hysteresis8(cand0: DataFrame,
                                     maxPartitionRows: Int = MaxHysteresisPartitionRows)
      : DataFrame = {
    import org.apache.spark.sql.types.LongType
    // TWO-LEVEL connected components (round 6): the distributed CC used
    // to run on the PIXEL graph — every candidate pixel a node, every
    // 8-adjacency a shuffled edge — so the alternating-star rounds paid
    // their per-round shuffles on pixel-count-sized relations. Edge
    // curves are locally connected, so first contract each PARTITION's
    // candidates with an in-memory union-find (the per-partition buffer
    // is the same candidate set the checkpoint below already holds as
    // blocks); only UNRESOLVED cross-partition adjacencies become CC
    // edges, and the stars run on the contracted label graph (one node
    // per local curve segment, not per pixel). Result-identical:
    // contraction preserves connectivity.
    //
    // The strong flag rides in the label's sign bit ([[segmentLabel]]),
    // so the star fixpoint's min root is negative exactly when its
    // component holds a strong pixel, and a label with no cross-
    // partition edge decides on its own sign: one left join keeps the
    // rows.
    //
    // Checkpointed once (kernel + labeling run once, not once per
    // downstream consumer) through [[Components.truncate]]: RELIABLE
    // when a checkpoint dir is set, local otherwise. Lazy: the per-tile
    // kernel must not run at DataFrame-CONSTRUCTION time.
    val schema = cand0.schema
    val iImg = schema.fieldIndex("image_id")
    val iX = schema.fieldIndex("x")
    val iY = schema.fieldIndex("y")
    val iStrong = schema.fieldIndex("strong")
    val labeledSchema = schema.add("lab", LongType, nullable = false)
    // one partition's candidate rows and their (image_id, x, y) -> row
    // index, bounded by maxPartitionRows; both passes build it here, so
    // the probe pass's map matches the labeling exactly
    def indexed(it: Iterator[Row]): (Array[Row], java.util.HashMap[(String, Int, Int), Integer]) = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (it.hasNext) {
        buf += it.next()
        require(buf.length <= maxPartitionRows,
          s"hysteresis: one partition holds more than $maxPartitionRows candidate " +
            "pixels — split the candidate rows over more partitions")
      }
      val rows = buf.toArray
      val idx = new java.util.HashMap[(String, Int, Int), Integer](rows.length * 2)
      var i = 0
      while (i < rows.length) {
        idx.put((rows(i).getString(iImg), rows(i).getInt(iX), rows(i).getInt(iY)), i)
        i += 1
      }
      (rows, idx)
    }
    // forward 4 of the 8 directions: every local undirected adjacency
    // considered exactly once
    val dxs = Array(1, -1, 0, 1); val dys = Array(0, 1, 1, 1)
    val labeled0 = cand0.mapPartitions { it =>
      val (rows, idx) = indexed(it)
      val uf = new Components.UnionFind(rows.length)
      var i = 0
      while (i < rows.length) {
        val img = rows(i).getString(iImg)
        val x = rows(i).getInt(iX); val y = rows(i).getInt(iY)
        var d = 0
        while (d < 4) {
          val j = idx.get((img, x + dxs(d), y + dys(d)))
          if (j != null) uf.union(i, j)
          d += 1
        }
        i += 1
      }
      val strongRoot = new Array[Boolean](rows.length)
      rows.indices.foreach(k => if (rows(k).getBoolean(iStrong)) strongRoot(uf.find(k)) = true)
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      rows.iterator.zipWithIndex.map { case (r, k) =>
        val root = uf.find(k)
        Row.fromSeq(r.toSeq :+ segmentLabel(pid, root, strongRoot(root)))
      }
    }(org.apache.spark.sql.Encoders.row(labeledSchema))
    // On the reliable path the lazy checkpoint does not cache, so the
    // labeling pass runs once for the first consuming action and once
    // more for the checkpoint write — an accepted trade: the pass is one
    // local union-find over candidate rows, and persisting it would pin
    // candidate-sized blocks through the whole CC loop for a one-shot
    // saving. localCheckpoint persists its blocks.
    val labeled = Components.truncate(labeled0)
    // cross-partition probes: only neighbors NOT resolved by the local
    // union-find (the partition map is rebuilt from the checkpointed
    // rows, so it matches the labeling pass exactly)
    import cand0.sparkSession.implicits._
    val probes = labeled.mapPartitions { it =>
      val (rows, idx) = indexed(it)
      rows.iterator.flatMap { r =>
        val img = r.getString(iImg)
        val x = r.getInt(iX); val y = r.getInt(iY)
        val lab = r.getLong(labeledSchema.length - 1)
        (0 until 4).iterator.collect {
          case d if idx.get((img, x + dxs(d), y + dys(d))) == null =>
            (img, x + dxs(d), y + dys(d), lab)
        }
      }
    }.toDF("image_id", "nx", "ny", "src")
    val edges = probes
      .join(labeled.select(col("image_id"), col("x").as("nx"),
        col("y").as("ny"), col("lab").as("dst")), Seq("image_id", "nx", "ny"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
    val roots = Components.connectedRoots(edges, "src", "dst") // (id = lab, component)
    labeled.join(roots, labeled("lab") === roots("id"), "left")
      .where(coalesce(roots("component"), labeled("lab")) < 0)
      .select(schema.fieldNames.toSeq.map(labeled(_)): _*)
  }

  /** Canny over the image table: one binary-mask image row out per input
    * row (band `band` drives the edges; caption and geo carried through;
    * the rle mask row is built by `ImageOps.withPixels`). */
  def canny(images: Dataset[ImageRow], lowT: Double, highT: Double,
            sigma: Double = 0.0, band: Int = 0)
           (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    images.map { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val mask = cannyMask(dec.bands(band), img.w, img.h, sigma, lowT, highT)
      ImageOps.withPixels(img)(Array(mask), fmt = PixelCodec.FmtRle)
    }
  }
}
