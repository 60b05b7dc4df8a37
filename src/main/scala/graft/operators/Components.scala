package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Distributed connected components over an undirected edge list — the
 * final stage of every near-duplicate pipeline (a training-data-pipeline
 * op beyond the reference's own surface, like the rest of the dedup
 * family): MinHash/SimHash/pHash candidate PAIRS become transitive
 * CLUSTERS, and each document keeps one canonical representative (the
 * minimum id of its component).
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", ACM SoCC 2014 — a
 * published MapReduce algorithm, re-expressed relationally). Each half
 * round is a groupBy + an equi-join on the node id; the edge set only
 * ever shrinks toward stars, so the shuffle is bounded by the CURRENT
 * edge count — never quadratic in cluster size — and convergence takes
 * O(log^2 n) rounds (empirically ~log n). That is what makes this the
 * 100 TB path: naive min-label propagation needs O(diameter) rounds
 * (a pathological duplicate chain = thousands), while this pointer-
 * doubling variant collapses a 4096-node chain in a handful.
 *
 * Determinism: ids keep their NATIVE type and ordering (long ids
 * numerically; string ids via Spark UTF8String binary order == DuckDB
 * varchar memcmp), no nondeterministic expressions, so the result is
 * oracle-replayable by a recursive CTE.
 *
 * Iteration state is `localCheckpoint`ed each round to truncate the
 * growing lineage (same pattern a cluster job would use with a
 * checkpoint dir); the previous round's cache is released eagerly.
 *
 * Driver finish: every star round pays a few Spark jobs of fixed cost
 * whatever the graph size, so a near-duplicate graph of a few dozen
 * edges spent ~20 jobs and over a second in the loop. The first
 * checksum already counts the canonical edge set; at or under
 * [[DriverFinishEdges]] edges the checkpointed set is collected and
 * [[UnionFind]] solves it in one pass over the dense ranks of the node
 * ids in Spark's ordering, so the min index is the min id and the root
 * map is identical to the loop's. Over the bound the star rounds run
 * unchanged: they are the scale path, with a shuffle bounded by the
 * current edge count and nothing held on the driver.
 *
 * This object is also the one home of the in-memory labelers the
 * distributed and raster paths share: [[UnionFind]] (Edge's per-
 * partition hysteresis labeling, Rag's hierarchical merge),
 * [[label4]] (4-connected mask components: ThreshSeg, TopoSnakes,
 * Hough) and [[growStrong8]] (whole-image 8-connected hysteresis:
 * Edge.cannyMask, PhaseCong.phaseCongEdges).
 */
object Components {

  /** Largest canonical edge count [[connectedRoots]] finishes on the
    * driver instead of running star rounds: 64k edges collect as a few
    * MB of ids, and the union-find over them takes milliseconds. */
  val DriverFinishEdges: Long = 1L << 16

  /** Array union-find over `0 until n`. `find` is iterative (a long
    * absorption lineage must not grow the stack) with full path
    * compression; `union` links the larger root under the smaller, so
    * every root is the minimum index of its set. */
  private[graft] final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)

    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }

    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** 4-connected component labeling of a row-major mask: labels are
    * 0.. in row-major first-encounter order (-1 off the mask), with
    * each label's pixel count. */
  private[graft] def label4(fg: Array[Boolean], w: Int, h: Int): (Array[Int], Array[Int]) = {
    val lab = Array.fill(fg.length)(-1)
    val areas = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stack = new java.util.ArrayDeque[Int]()
    var p = 0
    while (p < fg.length) {
      if (fg(p) && lab(p) < 0) {
        val id = areas.length
        var area = 0
        stack.push(p)
        lab(p) = id
        while (!stack.isEmpty) {
          val q = stack.pop()
          area += 1
          val x = q % w; val y = q / w
          if (x > 0 && fg(q - 1) && lab(q - 1) < 0) { lab(q - 1) = id; stack.push(q - 1) }
          if (x < w - 1 && fg(q + 1) && lab(q + 1) < 0) { lab(q + 1) = id; stack.push(q + 1) }
          if (y > 0 && fg(q - w) && lab(q - w) < 0) { lab(q - w) = id; stack.push(q - w) }
          if (y < h - 1 && fg(q + w) && lab(q + w) < 0) { lab(q + w) = id; stack.push(q + w) }
        }
        areas += area
      }
      p += 1
    }
    (lab, areas.toArray)
  }

  /** Whole-image double-threshold hysteresis, in place over a row-major
    * class map (0 = none, 1 = weak, 2 = strong): every weak pixel
    * 8-connected through weak pixels to a strong one becomes strong. */
  private[graft] def growStrong8(cls: Array[Byte], w: Int, h: Int): Unit = {
    val stack = new java.util.ArrayDeque[Int]()
    var p = 0
    while (p < cls.length) { if (cls(p) == 2) stack.push(p); p += 1 }
    while (!stack.isEmpty) {
      val q = stack.pop()
      val qx = q % w; val qy = q / w
      var dy = -1
      while (dy <= 1) {
        var dx = -1
        while (dx <= 1) {
          val nx = qx + dx; val ny = qy + dy
          if (nx >= 0 && nx < w && ny >= 0 && ny < h) {
            val n = ny * w + nx
            if (cls(n) == 1) { cls(n) = 2; stack.push(n) }
          }
          dx += 1
        }
        dy += 1
      }
    }
  }

  /** The star-fixpoint ROOT MAP: (id, component) for every NON-ROOT
    * node appearing in an edge, where component = min node id of its
    * component; a root (= min id) carries no row and maps to itself via
    * the caller's coalesce. Self-loops and duplicate/reversed edges are
    * tolerated. Callers LEFT-join the result against their own id
    * universe (the dedup keep-one stage, hysteresis labels), so no
    * node-list expansion is built here.
    *
    * Graphs of at most [[DriverFinishEdges]] canonical edges finish on
    * the driver (see the object doc); larger ones run the star rounds.
    *
    * @param maxRounds fail-fast bound on large+small star rounds; the
    *   O(log^2 n) guarantee makes 64 unreachable for any realistic
    *   graph (a 4096-node chain converges in < 10). */
  def connectedRoots(edges: DataFrame, srcCol: String, dstCol: String,
                     maxRounds: Int = 64): DataFrame =
    connectedRoots(edges, srcCol, dstCol, maxRounds, DriverFinishEdges)

  /** [[connectedRoots]] with the driver-finish bound as a parameter, so
    * specs can force either path (`driverEdges = 0`: star rounds). */
  private[graft] def connectedRoots(edges: DataFrame, srcCol: String,
                                    dstCol: String, maxRounds: Int,
                                    driverEdges: Long): DataFrame =
    starRoots(initEdges(edges, srcCol, dstCol), maxRounds, driverEdges)

  /** Canonical edge relation (u, v): null-free, self-loop-free,
    * distinct, lineage-truncated (see truncate note below). */
  private def initEdges(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()

    // LAZY checkpoint: the Dataset's plan is truncated to a LogicalRDD
    // either way; with eager=false the RDD materializes (and
    // checkpoints) under the FIRST action that reads it — here the
    // checksum aggregate that immediately follows — so a round skips
    // the separate checkpoint-count job (measured: a few jobs saved per
    // query, wall-neutral at bench scale; identical results).
    //
    // RELIABLE vs LOCAL: localCheckpoint stores blocks unreplicated on
    // executors — after truncation an executor loss is unrecoverable
    // and aborts the whole multi-round job. local[*] never loses an
    // executor; a cluster deployment MUST set a checkpoint dir
    // (sc.setCheckpointDir) and then every truncation here rides the
    // fault-tolerant path instead.
    truncate(e0)
  }

  /** Lineage truncation: a RELIABLE lazy checkpoint when the context
    * has a checkpoint dir, a local one otherwise. */
  private[operators] def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(false)
    else df.localCheckpoint(false)

  /** Alternating large/small-star rounds to the fixpoint; returns the
    * root map (id, component) over the final star edges — or, for at
    * most `driverEdges` edges, the same map from [[driverRoots]]. */
  private def starRoots(eInit: DataFrame, maxRounds: Int,
                        driverEdges: Long): DataFrame = {
    var e = eInit
    var prevSig: (Long, Long) = checksum(e)
    // the finish ranks ids under one type; mixed src/dst types stay on
    // the star rounds, whose coercion widens them
    if (prevSig._1 <= driverEdges &&
        e.schema("u").dataType == e.schema("v").dataType)
      return driverRoots(e, prevSig._1)
    var converged = prevSig._1 == 0L // empty graph: nothing to iterate
    var rounds = 0
    while (!converged) {
      require(rounds < maxRounds,
        s"Components.connectedRoots did not converge in $maxRounds rounds")
      val next = truncate(smallStar(largeStar(e)))
      val sig = checksum(next) // the materializing action for `next`
      // (count, order-free xxhash XOR) equality is the cheap convergence
      // probe; on a hit, confirm exactly (runs once, at the fixpoint).
      converged = sig == prevSig && next.exceptAll(e).isEmpty
      e.unpersist()
      e = next
      prevSig = sig
      rounds += 1
    }

    // At the fixpoint the edge set is a union of stars: every non-root
    // node carries exactly (node -> root). min() is belt and braces.
    e.groupBy(col("u").as("id")).agg(min("v").as("component"))
  }

  /** The root map of a small canonical edge set, solved on the driver:
    * the collect reads the checkpoint the first checksum materialised
    * (the upstream plan does not run again), [[UnionFind]] runs over
    * the dense ranks of the node ids in Spark's ordering for their type
    * (UTF8String byte order for strings, as the loop's min() compares),
    * and the non-root rows come back as a local relation a caller's
    * join can broadcast. An empty set (`edges` = 0) skips the collect. */
  private def driverRoots(e: DataFrame, edges: Long): DataFrame = {
    val rows = if (edges == 0L) Array.empty[Row] else e.collect()
    e.unpersist()
    val ends = rows.flatMap(r => Array(r.get(0), r.get(1)))
    val idType = e.schema("u").dataType
    val rank = GraftBridge.denseRanks(ends, idType)
    val n = if (rank.isEmpty) 0 else rank.max + 1
    val uf = new UnionFind(n)
    rows.indices.foreach(k => uf.union(rank(2 * k), rank(2 * k + 1)))
    val ids = new Array[Any](n)
    ends.indices.foreach(s => ids(rank(s)) = ends(s))
    val roots = (0 until n).collect {
      case i if uf.find(i) != i => Row(ids(i), ids(uf.find(i)))
    }
    e.sparkSession.createDataFrame(java.util.Arrays.asList(roots: _*),
      StructType(Seq(StructField("id", idType), StructField("component", idType))))
  }

  /** Large-star: every node links its LARGER neighbors to the minimum
    * of its neighborhood (incl. itself). One groupBy + one join, both
    * keyed on the node id — AQE-splittable if a hub node skews it.
    * Undirection via explode (one scan, two rows/edge), not a
    * self-union: a union of two slim projections of one checkpointed
    * relation trips Spark's Union.rewriteConstraints ("key not found"
    * on the dropped attribute), and the explode scans the edges once. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(explode(array(
        struct(col("u").as("s"), col("v").as("t")),
        struct(col("v").as("s"), col("u").as("t")))).as("e"))
      .select(col("e.s").as("u"), col("e.t").as("v"))
    val mins = und.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    und.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
    // NO distinct here (round 6): smallStar's output is invariant to
    // duplicate input edges — its min-aggregate ignores multiplicity and
    // its own trailing distinct canonicalizes — so deduping between the
    // stars only bought an extra full exchange per round. The round's
    // canonical (checksummed) edge set is still smallStar's distinct
    // output, identical with or without this dedup.
  }

  /** Small-star: orient edges large->small; every node links its
    * smaller neighbors (and itself) to the minimum smaller neighbor.
    * The (u, m) self-link rides the join rows via explode instead of a
    * second union branch (dedup by the existing distinct). */
  private def smallStar(e: DataFrame): DataFrame = {
    val ori = e.select(greatest(col("u"), col("v")).as("u"),
                       least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
    val mins = ori.groupBy("u").agg(min("v").as("m"))
    ori.join(mins, "u")
      .select(explode(array(col("v"), col("u"))).as("a"), col("m"))
      .where(col("a") =!= col("m"))
      .select(col("a").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Order-insensitive edge-set signature: (count, XOR of row hashes) —
    * XOR, not sum, so ANSI overflow checking never trips. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
