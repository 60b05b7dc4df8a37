package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ImageRow
import graft.core.PixelCodec

/**
 * ragmerge (/root/reference/geospatial_learn/utilities.py:842-887):
 * region-adjacency-graph merging of a segmentation against an
 * underlying raster — skimage `rag_boundary` + `merge_hierarchical`
 * with the reference's `_weight_boundary` callback (count-weighted mean
 * of boundary-edge strengths, utilities.py:795-832).
 *
 * Spark shape — fully distributed:
 *  - the RAG is BUILT distributed: per-image boundary partials
 *    (lo, hi, sum, count) fold map-side and the shuffle carries
 *    region-pair rows, never pixels;
 *  - the hierarchical merge runs EXECUTOR-side, one task per image
 *    (`groupByKey(image_id).mapGroups`): the merge is inherently
 *    sequential WITHIN an image (each step's count-weighted mean
 *    depends on the previous merge) but independent ACROSS images, so
 *    a million-image batch merges with million-way parallelism and the
 *    driver never sees an edge. Each image's edge list is fail-fast
 *    bounded (`maxEdgesPerImage` — regions << pixels by contract);
 *  - relabeling joins the per-image (old -> new) label arrays back to
 *    the segmentation rows on image_id — the map side is
 *    regions-sized, so AQE broadcasts it at small scale and a plain
 *    equi-join on image_id handles the web-scale case; pixels are
 *    decoded once, after the join, and never shuffled.
 *
 * Per-image merge cost: a lazy-deletion priority queue keyed on
 * (weight, lo, hi) makes each merge O(degree · log E) instead of a
 * full O(E) adjacency rescan per round — O(E log E) total.
 *
 * Engine conventions (documented):
 *  - edge map = unnormalized 3x3 Sobel magnitude (Edge's kernel,
 *    replicate-padded) of the chosen band — skimage's sobel differs by
 *    a constant factor, which rescales `thresh` but not the structure;
 *  - boundary accumulation: every 4-adjacent cross-region pixel pair
 *    contributes BOTH endpoint edge values (count 2) to its (lo, hi)
 *    region edge;
 *  - merged regions take the MINIMUM original label (deterministic;
 *    the reference's labels are accidental and discarded at polygonize).
 */
object Rag {

  /** Distributed RAG rows: (image_id, lo, hi, s, c) aggregated. */
  def buildBoundary(segs: Dataset[ImageRow], images: Dataset[ImageRow],
                    band: Int = 0)
                   (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    segs.joinWith(images, segs("image_id") === images("image_id"))
      .flatMap { case (sg, im) =>
        require(sg.w == im.w && sg.h == im.h, s"seg/raster shape mismatch ${sg.image_id}")
        val lab = PixelCodec.decode(sg.bytes, sg.fmt, sg.w, sg.h).bands(0)
        val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
        val edge = Edge.sobel(pix.map(_.toDouble), im.w, im.h)._3
        val acc = scala.collection.mutable.HashMap.empty[(Long, Long), (Double, Long)]
        def add(p: Int, q: Int): Unit = {
          val a = lab(p).toLong; val b = lab(q).toLong
          if (a != b) {
            val k = (math.min(a, b), math.max(a, b))
            val (s0, c0) = acc.getOrElse(k, (0.0, 0L))
            acc(k) = (s0 + edge(p) + edge(q), c0 + 2)
          }
        }
        var y = 0
        while (y < sg.h) {
          var x = 0
          while (x < sg.w) {
            val p = y * sg.w + x
            if (x + 1 < sg.w) add(p, p + 1)
            if (y + 1 < sg.h) add(p, p + sg.w)
            x += 1
          }
          y += 1
        }
        acc.iterator.map { case ((a, b), (s, c)) => (sg.image_id, a, b, s, c) }
      }.toDF("image_id", "lo", "hi", "s", "c")
      .groupBy("image_id", "lo", "hi")
      .agg(sum("s").as("s"), sum("c").as("c"))
  }

  /** skimage merge_hierarchical with _weight_boundary, exact: repeatedly
    * merge the globally minimum-weight edge while its weight < thresh;
    * a merged node's edge to a common neighbor combines by
    * count-weighted mean. Lazy-deletion priority queue: a popped entry
    * is live iff the adjacency still holds its exact (sum, count) —
    * every edge mutation re-enqueues, so stale entries skip in O(log E).
    * Ties break on (weight, lo, hi), matching the previous full-scan
    * minBy ordering bit-for-bit. Returns old label -> canonical (min)
    * label. */
  private[graft] def mergeHierarchical(
      edges: Seq[(Long, Long, Double, Long)], thresh: Double): Map[Long, Long] = {
    // union-find over the sorted distinct labels' indices: min index =
    // min label, so the min-root union keeps `keep = min` exactly
    val labels = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted.toArray
    val uf = new Components.UnionFind(labels.length)
    def index(l: Long): Int = java.util.Arrays.binarySearch(labels, l)
    // adjacency between CURRENT roots: canonical pair -> (sum, count)
    val adj = scala.collection.mutable.HashMap.empty[(Long, Long), (Double, Long)]
    // incidence: root -> set of neighboring roots
    val inc = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.Set[Long]]
    def link(a: Long, b: Long): Unit = {
      inc.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      inc.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    edges.foreach { case (a, b, s, c) =>
      // a self-loop would put a node in its own incidence set; when it
      // later merges as the drop side, the dropN loop would re-create
      // an edge to the just-dropped root and a later pop could "merge"
      // with a dead node. buildBoundary never emits a == b; guard the
      // private[graft] direct-call surface too.
      require(a != b, s"RAG self-loop edge on label $a")
      val k = (math.min(a, b), math.max(a, b))
      val (s0, c0) = adj.getOrElse(k, (0.0, 0L))
      adj(k) = (s0 + s, c0 + c)
      link(k._1, k._2)
    }
    // min-heap on (weight, lo, hi); payload carries (sum, count) for the
    // liveness check
    implicit val ord: Ordering[(Double, Long, Long, Double, Long)] =
      Ordering.by[(Double, Long, Long, Double, Long), (Double, Long, Long)](
        e => (e._1, e._2, e._3)).reverse
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Long, Double, Long)]
    adj.foreach { case ((a, b), (s, c)) => pq.enqueue((s / c, a, b, s, c)) }
    var continue = true
    while (continue && pq.nonEmpty) {
      val (w, la, lb, s, c) = pq.dequeue()
      adj.get((la, lb)) match {
        case Some((s0, c0)) if s0 == s && c0 == c => // live entry
          if (w >= thresh) continue = false
          else {
            val keep = math.min(la, lb)
            val drop = math.max(la, lb)
            uf.union(index(keep), index(drop))
            adj.remove((la, lb))
            inc(keep) -= drop
            val dropN = inc.remove(drop).getOrElse(scala.collection.mutable.Set.empty)
            dropN -= keep
            dropN.foreach { other =>
              val dk = (math.min(drop, other), math.max(drop, other))
              val (es, ec) = adj.remove(dk).get
              inc(other) -= drop
              val kk = (math.min(keep, other), math.max(keep, other))
              val (s1, c1) = adj.getOrElse(kk, (0.0, 0L))
              val merged = (s1 + es, c1 + ec) // count-weighted mean composition
              adj(kk) = merged
              link(keep, other)
              pq.enqueue((merged._1 / merged._2, kk._1, kk._2, merged._1, merged._2))
            }
          }
        case _ => () // stale — a mutation re-enqueued the current value
      }
    }
    // canonical min-label map over every label seen
    labels.iterator.map(l => l -> labels(uf.find(index(l)))).toMap
  }

  /** Full ragmerge: returns the relabeled per-pixel rows
    * (image_id, x, y, label). Fully lazy/distributed — building the
    * DataFrame launches no Spark job; merges run one-task-per-image on
    * executors and the per-image edge list is fail-fast bounded.
    *
    * Contract: every segmentation must have its raster in `images`. A
    * missing raster produces no boundary rows, which the bare relabel
    * join could not tell apart from "nothing to merge" — the output
    * would silently pass through unmerged. So every raster id gets a
    * (possibly empty) merge-map row via the id-only left join below,
    * and a seg whose join row is NULL fails the task loudly. */
  def ragMerge(segs: Dataset[ImageRow], images: Dataset[ImageRow],
               band: Int = 0, thresh: Double = 0.02,
               maxEdgesPerImage: Int = 1 << 20)
              (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // executor-side per-image hierarchical merge: (image_id, old[], new[])
    // with identity entries dropped (regions-sized rows, never pixels)
    val maps = buildBoundary(segs, images, band)
      .as[(String, Long, Long, Double, Long)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val edges = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]
        while (it.hasNext) {
          val r = it.next()
          edges += ((r._2, r._3, r._4, r._5))
          require(edges.length <= maxEdgesPerImage,
            s"RAG for image $id exceeds the per-image merge contract ($maxEdgesPerImage edges)")
        }
        val m = mergeHierarchical(edges.toSeq, thresh)
        val changed = m.iterator.filter { case (k, v) => k != v }.toArray.sortBy(_._1)
        (id, changed.map(_._1), changed.map(_._2))
      }
    // every raster id gets a merge-map row (empty when the image had no
    // boundary edges) — id-only join, regions-sized rows
    val rasterIds = images.select(col("image_id")).distinct().as[String]
    val mapsAll = rasterIds
      .joinWith(maps, rasterIds("image_id") === maps("_1"), "left_outer")
      .map { case (id, m) =>
        if (m == null) (id, Array.empty[Long], Array.empty[Long]) else m
      }
    // relabel join: regions-sized right side — AQE broadcasts it when
    // small; at web scale it's a plain equi-join on image_id. Images
    // with no merged labels (or no edges at all) pass through via their
    // empty map row; a NULL row means the seg has NO raster at all and
    // fails loudly (see the contract above).
    segs.joinWith(mapsAll, segs("image_id") === mapsAll("_1"), "left_outer")
      .flatMap { case (sg, mrow) =>
        if (mrow == null)
          throw new IllegalArgumentException(
            s"ragMerge: segmentation '${sg.image_id}' has no matching " +
              "raster in `images` — it would pass through unmerged")
        val m: Map[Long, Long] = mrow._2.iterator.zip(mrow._3.iterator).toMap
        val lab = PixelCodec.decode(sg.bytes, sg.fmt, sg.w, sg.h).bands(0)
        lab.iterator.zipWithIndex.map { case (v, p) =>
          val l = v.toLong
          (sg.image_id, p % sg.w, p / sg.w, m.getOrElse(l, l))
        }
      }.toDF("image_id", "x", "y", "label")
  }
}
