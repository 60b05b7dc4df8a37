package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.GridIndex
import graft.functions.SpatialFunctions._

/**
 * Exact k-nearest-neighbours join via cell k-ring expansion + distance-
 * sorted window pruning (north rule: "kNN via k-ring expansion with
 * distance-sorted window pruning"; the reference has no kNN — SURVEY
 * §2.3 maps the requirement).
 *
 * Two-phase exactness guarantee:
 *  - Phase 1 joins each query against all points in its Chebyshev
 *    k-ring of radius `r1` at `res` and window-prunes to top-k by
 *    (dist2, pt_id). If the query found >= k candidates AND its kth
 *    squared distance <= (r1 * cellSize)^2, the grid geometry guarantees
 *    no closer point exists outside the ring -> result is exact.
 *  - Queries failing the guarantee (sparse neighbourhoods) fall back to
 *    a brute-force pass — they are few by construction, so the fallback
 *    joins a BROADCAST of just those queries against the point table and
 *    window-prunes the same way. No correctness compromise, bounded cost.
 *
 * Distances are SQUARED and computed as (dx*dx + dy*dy) — IEEE-exact
 * multiplication/addition, so ordering and emitted values are bit-equal
 * across engines (no libm pow/sqrt variance against the DuckDB oracle).
 *
 * Scale: phase 1 is one shuffle-hash join keyed by cell (the k-ring
 * explode multiplies the QUERY side only, by (2*r1+1)^2); the point side
 * partitions by its own cell and never explodes. Skewed dense cells are
 * AQE-splittable since both sides are shuffle-partitioned by cell key.
 *
 * The guarantee check is FULLY RELATIONAL and single-job: the per-query
 * candidate count and kth distance are window aggregates over the SAME
 * q_id partitioning the top-k window already shuffled by, so they add
 * zero exchanges; the good rows and the bad-query set both hang off that
 * one shuffle and Spark's ReuseExchange computes the expensive
 * join+explode subtree ONCE (plan-gated in PlanShapeSpec). No driver
 * round-trip, no literal id lists (round 3's bounded collect ran the
 * whole phase-1 join twice — once for the guard collect, once in the
 * returned plan — and tripled q_knn_hex wall time), no internal persist.
 *
 * Fallback cost: the brute pass always scans the point table once more
 * against a broadcast of the bad queries — usually empty, and a single
 * extra scan is far cheaper than re-running the ring join. Under AQE
 * even that scan disappears: the empty bad-query broadcast propagates
 * to an `EmptyRelation` at runtime and the whole brute side is
 * eliminated (observed in `Dev skew`'s final adaptive plans). If the
 * r1/res choice is so wrong that MOST queries miss the guard, that
 * broadcast is the failure you want: raise r1 (documented user error —
 * the guard exists to keep the common case exact, not to rescue a
 * misconfigured index).
 */
object Knn {

  /** Shared tail: annotate candidates with the per-query guarantee
    * (count == k and kth distance strictly inside the ring), split into
    * guaranteed-exact rows and brute-forced stragglers. Queries with
    * ZERO candidates don't appear in `cand` at all, so the bad set must
    * be derived as NOT-satisfied (anti join), never as filter-of-found.
    * Null-id queries are dropped (see finishExactGeneric). */
  private def finishExact(queries: DataFrame, points: DataFrame, k: Int,
                          cand: DataFrame, guard2: Double): DataFrame = {
    val dist2 = (col("qx") - col("px")) * (col("qx") - col("px")) +
      (col("qy") - col("py")) * (col("qy") - col("py"))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("pt_id"))
    finishExactGeneric(queries, k, cand, "dist2", lit(guard2),
      Seq("x", "y"), badQ => points
        .select(col("pt_id"), col("x").as("px"), col("y").as("py"))
        .crossJoin(broadcast(badQ
          .select(col("q_id"), col("x").as("qx"), col("y").as("qy"))))
        .withColumn("dist2", dist2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("q_id", "pt_id", "dist2", "rn"))
  }

  /** Distance-metric-agnostic tail: annotate `cand` (columns q_id,
    * pt_id, <distCol>, rn) with the guarantee, union the brute results
    * for the stragglers. `guard` may reference query columns carried on
    * the cand rows (the geodesic guard depends on the query latitude).
    * Null-id queries are DROPPED from the result (they are excluded
    * from both the good set and the brute set): a null id is not
    * addressable in the output, and brute-forcing them would conflate
    * every null-id query into one merged window partition. */
  private def finishExactGeneric(queries: DataFrame, k: Int, cand: DataFrame,
                                 distCol: String, guard: org.apache.spark.sql.Column,
                                 queryCols: Seq[String],
                                 brute: DataFrame => DataFrame): DataFrame = {
    val wq = Window.partitionBy("q_id")
    // STRICT < on the kth distance: a point outside the ring at distance
    // exactly the guard bound with a smaller pt_id would rank ahead under
    // (dist, pt_id) — boundary ties must fall through to the brute pass
    val guarded = cand
      .withColumn("__n", count(lit(1)).over(wq))
      .withColumn("__kd", max(distCol).over(wq))
      .withColumn("__ok",
        col("q_id").isNotNull && col("__n") === k && col("__kd") < guard)
    val good = guarded.where(col("__ok"))
      .select("q_id", "pt_id", distCol, "rn")
    val satisfied = guarded.where(col("__ok")).select("q_id").distinct()
    val badQueries = queries.select((Seq("q_id") ++ queryCols).map(col): _*)
      .where(col("q_id").isNotNull)
      .join(satisfied, Seq("q_id"), "left_anti")
    good.unionByName(brute(badQueries))
  }

  /** queries: (q_id, x, y); points: (pt_id, x, y). Returns
    * (q_id, pt_id, dist2, rn) with rn in 1..k ordered by (dist2, pt_id). */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int, res: Int, r1: Int)
             (implicit spark: SparkSession): DataFrame = {
    val size = GridIndex.cellSize(res).toDouble
    val guard2 = (r1 * size) * (r1 * size)

    val q = queries
      .withColumn("__qcell", gridCellId(col("x"), col("y"), res))
      .withColumn("__cand", explode(gridKRing(col("__qcell"), r1)))
      .select(col("q_id"), col("x").as("qx"), col("y").as("qy"), col("__cand"))
    val p = points
      .withColumn("__pcell", gridCellId(col("x"), col("y"), res))
      .select(col("pt_id"), col("x").as("px"), col("y").as("py"), col("__pcell"))

    val dist2 = (col("qx") - col("px")) * (col("qx") - col("px")) +
      (col("qy") - col("py")) * (col("qy") - col("py"))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("pt_id"))

    val cand = q.join(p, col("__cand") === col("__pcell"))
      .withColumn("dist2", dist2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "pt_id", "dist2", "rn")

    finishExact(queries, points, k, cand, guard2)
  }

  /**
   * Hex-lattice variant — the north rule's literal "kNN via H3 k-ring
   * expansion": queries explode into their aperture-7 hex k-ring
   * (Hex.kRing via the hexKRing expression), join points on hex cell,
   * window-prune to top-k.
   *
   * Exactness guard: hex centers at grid distance g are >= 1.5*g*sz
   * apart (sz = circumradius; the minimum is attained on ring corners),
   * and any point lies within sz of its cell center — so nothing outside
   * the radius-r1 ring can be closer than ((r1+1)*1.5 - 2)*sz. Queries
   * whose kth distance is not STRICTLY below that bound (or that found
   * < k candidates) fall back to the broadcast brute-force pass, same as
   * the square-grid path.
   */
  def knnJoinHex(queries: DataFrame, points: DataFrame, k: Int, res: Int, r1: Int)
                (implicit spark: SparkSession): DataFrame = {
    val sz = graft.core.Hex.size(res)
    val guardDist = ((r1 + 1) * 1.5 - 2.0) * sz
    require(guardDist > 0, s"r1=$r1 gives no exactness margin at res $res")
    val guard2 = guardDist * guardDist

    val q = queries
      .withColumn("__qcell", hexCellId(col("x"), col("y"), res))
      .withColumn("__cand", explode(hexKRing(col("__qcell"), r1)))
      .select(col("q_id"), col("x").as("qx"), col("y").as("qy"), col("__cand"))
    val p = points
      .withColumn("__pcell", hexCellId(col("x"), col("y"), res))
      .select(col("pt_id"), col("x").as("px"), col("y").as("py"), col("__pcell"))

    val dist2 = (col("qx") - col("px")) * (col("qx") - col("px")) +
      (col("qy") - col("py")) * (col("qy") - col("py"))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("pt_id"))

    val cand = q.join(p, col("__cand") === col("__pcell"))
      .withColumn("dist2", dist2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "pt_id", "dist2", "rn")

    finishExact(queries, points, k, cand, guard2)
  }

  /** Haversine great-circle distance in meters (spherical Earth,
    * R = 6371 km). `least(1, sqrt(a))` clamps the fp overshoot that
    * would make asin return NaN for antipodal points — the oracle and
    * the naive spec replicate the identical expression tree. */
  private val EarthR = 6371000.0
  private def greatCircleMeters(lat1: org.apache.spark.sql.Column,
                                lng1: org.apache.spark.sql.Column,
                                lat2: org.apache.spark.sql.Column,
                                lng2: org.apache.spark.sql.Column) = {
    val dphi = radians(lat2 - lat1) / 2
    val dlmb = radians(lng2 - lng1) / 2
    val a = sin(dphi) * sin(dphi) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dlmb) * sin(dlmb)
    lit(2 * EarthR) * asin(least(lit(1.0), sqrt(a)))
  }

  /**
   * Exact k-nearest-neighbours by GREAT-CIRCLE distance over (lat, lng)
   * degrees — the geodesic entry point (the planar paths implement the
   * reference's own local-equirectangular regime; this one is exact on
   * the sphere).
   *
   * Blocking: a fixed degree grid (`cellDeg` must divide 360) with the
   * query ring WRAPPING across the antimeridian (pmod on the lng cell
   * index). sin²(Δλ/2) is 360°-periodic, so the haversine itself needs
   * no wrap handling.
   *
   * Exactness guard, derived (strict <, per query latitude φq, ring
   * degrees g = r1*cellDeg): any point OUTSIDE the ring has either
   *  - |Δφ| >= g  =>  central angle >= g (meridian bound), or
   *  - wrapped |Δλ| >= g and |Δφ| < g  =>  sin(θ/2) >=
   *    sqrt(cos φp cos φq) * sin(g/2) with |φp| <= |φq| + g, so
   *    θ >= 2·asin(cos(min(90°, |φq|+g)) · sin(g/2)).
   * guard = R · min(rad(g), that east-west bound). Near the poles the
   * cos term -> 0 and the guard collapses: every polar query takes the
   * exact brute-force pass (graceful degradation — the degree grid's
   * cells narrow toward the poles, property-tested at |lat| up to 89°).
   */
  def knnJoinGreatCircle(queries: DataFrame, points: DataFrame, k: Int,
                         cellDeg: Double, r1: Int)
                        (implicit spark: SparkSession): DataFrame = {
    val nxD = 360.0 / cellDeg
    require(math.abs(nxD - math.round(nxD)) < 1e-9,
      s"cellDeg must divide 360 (got $cellDeg)")
    require(r1 >= 1 && (r1 + 1) * cellDeg <= 180.0,
      s"ring too wide: (r1+1)*cellDeg must be <= 180 (got ${(r1 + 1) * cellDeg})")
    val nx = math.round(nxD)
    def ixOf(lng: org.apache.spark.sql.Column) =
      pmod(floor((lng + lit(180.0)) / cellDeg).cast("long"), lit(nx))
    def iyOf(lat: org.apache.spark.sql.Column) =
      floor((lat + lit(90.0)) / cellDeg).cast("long")
    // unique id; ring rows can dip to iy = -r1 -> shift keeps ids
    // non-negative and beyond-pole rows collide with nothing real
    def cellOf(ix: org.apache.spark.sql.Column, iy: org.apache.spark.sql.Column) =
      (iy + lit(r1.toLong)) * lit(nx) + ix

    val ring = for { dy <- -r1 to r1; dx <- -r1 to r1 } yield (dx, dy)
    val q = queries.select(col("q_id"), col("lat").as("qlat"), col("lng").as("qlng"),
        ixOf(col("lng")).as("__ix"), iyOf(col("lat")).as("__iy"))
      .withColumn("__cand", explode(array(ring.map { case (dx, dy) =>
        cellOf(pmod(col("__ix") + dx, lit(nx)), col("__iy") + dy) }: _*)))
      .drop("__ix", "__iy")
    val p = points.select(col("pt_id"), col("lat").as("plat"), col("lng").as("plng"))
      .withColumn("__pcell", cellOf(ixOf(col("plng")), iyOf(col("plat"))))

    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("pt_id"))
    val cand = q.join(p, col("__cand") === col("__pcell"))
      .withColumn("dist",
        greatCircleMeters(col("qlat"), col("qlng"), col("plat"), col("plng")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "pt_id", "dist", "rn", "qlat") // qlat rides for the guard

    val g = r1 * cellDeg
    val meridian = lit(EarthR * math.toRadians(g))
    val cmax = greatest(lit(0.0),
      cos(radians(least(lit(90.0), abs(col("qlat")) + lit(g)))))
    val guard = least(meridian,
      lit(2 * EarthR) * asin(cmax * lit(math.sin(math.toRadians(g) / 2))))

    finishExactGeneric(queries, k, cand, "dist", guard, Seq("lat", "lng"),
      badQ => points
        .select(col("pt_id"), col("lat").as("plat"), col("lng").as("plng"))
        // the brute rescue pays ~8 libm calls per (point, query) pair; a
        // single-split point scan (one parquet file) would run that
        // entire kernel in ONE task. Spread the point side to the
        // cluster's width first — scale-adaptive (defaultParallelism),
        // and the shuffle moves 24-byte point rows, amortized by the
        // per-pair trig it parallelizes. Row set unchanged.
        .repartition(points.sparkSession.sparkContext.defaultParallelism)
        .crossJoin(broadcast(badQ
          .select(col("q_id"), col("lat").as("qlat"), col("lng").as("qlng"))))
        .withColumn("dist",
          greatCircleMeters(col("qlat"), col("qlng"), col("plat"), col("plng")))
        .withColumn("rn", row_number().over(w)) // same spec as the ring
        .filter(col("rn") <= k)                 // ranking — MUST stay equal
        .select("q_id", "pt_id", "dist", "rn"))
  }
}
