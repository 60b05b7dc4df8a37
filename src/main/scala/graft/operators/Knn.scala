package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
 * Three entry points — [[knnJoin]] (square grid), [[knnJoinHex]]
 * (aperture-7 hex lattice) and [[knnJoinGreatCircle]] (degree grid,
 * haversine) — run ONE private core, `exact`. Each supplies only its
 * cell functions (the query's ring-key array and the point's cell key),
 * its distance column and its guard; the core owns the three phases:
 *  - Candidate phase: each query explodes into its ring keys, equi-joins
 *    the points on the cell key and window-prunes to top-k by
 *    (distance, pt_id).
 *  - Guard tail: a query is exact iff it found k candidates AND its kth
 *    distance is STRICTLY below the guard — the distance no point
 *    outside its ring can beat (each entry point derives its own bound).
 *  - Brute pass: queries failing the guard (sparse neighbourhoods) join
 *    a BROADCAST of just those queries against the point table and
 *    window-prune with the same ranking. No correctness compromise,
 *    bounded cost.
 *
 * Scale: the candidate phase is one equi-join keyed by cell (the k-ring
 * explode multiplies the QUERY side only); the point side keys by its
 * own cell and never explodes. Skewed dense cells are AQE-splittable
 * when both sides shuffle by cell key.
 *
 * The guard tail is FULLY RELATIONAL and single-job: the per-query
 * candidate count and kth distance are window aggregates over the SAME
 * q_id partitioning the top-k window already shuffled by, so they add
 * zero exchanges; the good rows and the bad-query set both hang off that
 * one shuffle and Spark's ReuseExchange computes the expensive
 * join+explode subtree ONCE (plan-gated in PlanShapeSpec). No driver
 * round-trip, no literal id lists (round 3's bounded collect ran the
 * whole candidate join twice — once for the guard collect, once in the
 * returned plan — and tripled q_knn_hex wall time), no internal persist.
 *
 * Brute-pass cost: it always scans the point table once more against a
 * broadcast of the bad queries — usually empty, and a single extra scan
 * is far cheaper than re-running the ring join. Under AQE even that scan
 * disappears: the empty bad-query broadcast propagates to an
 * `EmptyRelation` at runtime and the whole brute side is eliminated
 * (observed in `Dev skew`'s final adaptive plans). If the r1/res choice
 * is so wrong that MOST queries miss the guard, that broadcast is the
 * failure you want: raise r1 (documented user error — the guard exists
 * to keep the common case exact, not to rescue a misconfigured index).
 */
object Knn {

  /** Planar squared distance over the candidate rows, (dx*dx + dy*dy):
    * IEEE-exact multiplication/addition, so ordering and emitted values
    * are bit-equal across engines (no libm pow/sqrt variance against the
    * DuckDB oracle). */
  private val dist2 = (col("qx") - col("px")) * (col("qx") - col("px")) +
    (col("qy") - col("py")) * (col("qy") - col("py"))

  /**
   * The one core every entry point runs. `queries` carries (q_id, a, b)
   * and `points` (pt_id, a, b) for `coords` = (a, b); candidate and
   * brute rows carry them as (qa, qb) and (pa, pb), which `dist` reads.
   *  - `qKeys`: named query-side columns `ringKeys` is built from;
   *    `ringKeys`: the array of cell keys the query's ring covers;
   *    `pCell`: the point's cell key (same key space).
   *  - `distCol`: the distance's output name; `guard`: the strict upper
   *    bound the kth distance must stay below, which may read the query
   *    columns `guardCols` (they ride on the candidate rows).
   *  - `spread`: applied to the brute pass's point side.
   * Returns (q_id, pt_id, `distCol`, rn) with rn in 1..k ordered by
   * (`distCol`, pt_id).
   */
  private def exact(queries: DataFrame, points: DataFrame, k: Int,
                    coords: (String, String), qKeys: Seq[Column], ringKeys: Column,
                    pCell: Column, distCol: String, dist: Column,
                    guard: Column, guardCols: Seq[String],
                    spread: DataFrame => DataFrame): DataFrame = {
    val (a, b) = coords
    val w = Window.partitionBy("q_id").orderBy(col(distCol), col("pt_id"))
    // the ring candidates and the brute pass MUST rank alike
    def topK(pairs: DataFrame): DataFrame = pairs
      .withColumn(distCol, dist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    def asQuery(df: DataFrame, extra: Column*): DataFrame =
      df.select(Seq(col("q_id"), col(a).as("q" + a), col(b).as("q" + b)) ++ extra: _*)
    def asPoint(df: DataFrame, extra: Column*): DataFrame =
      df.select(Seq(col("pt_id"), col(a).as("p" + a), col(b).as("p" + b)) ++ extra: _*)

    // candidate phase: the explode multiplies the query side only
    val q = asQuery(queries.select(Seq(col("q_id"), col(a), col(b)) ++ qKeys: _*)
      .withColumn("__cand", explode(ringKeys)), col("__cand"))
    val p = asPoint(points, pCell.as("__pcell"))
    val cand = topK(q.join(p, col("__cand") === col("__pcell")))
      .select((Seq("q_id", "pt_id", distCol, "rn") ++ guardCols).map(col): _*)

    // guard tail. STRICT < on the kth distance: a point outside the ring
    // at distance exactly the guard bound with a smaller pt_id would rank
    // ahead under (dist, pt_id) — boundary ties must fall through to the
    // brute pass. Queries with ZERO candidates don't appear in `cand` at
    // all, so the bad set is NOT-satisfied (anti join), never
    // filter-of-found. Null-id queries are DROPPED (excluded from both
    // sets): a null id is not addressable in the output, and brute-forcing
    // them would conflate every null-id query into one window partition.
    val wq = Window.partitionBy("q_id")
    val guarded = cand
      .withColumn("__n", count(lit(1)).over(wq))
      .withColumn("__kd", max(distCol).over(wq))
      .withColumn("__ok",
        col("q_id").isNotNull && col("__n") === k && col("__kd") < guard)
    val good = guarded.where(col("__ok"))
      .select("q_id", "pt_id", distCol, "rn")
    val satisfied = guarded.where(col("__ok")).select("q_id").distinct()
    val badQueries = queries.select(col("q_id"), col(a), col(b))
      .where(col("q_id").isNotNull)
      .join(satisfied, Seq("q_id"), "left_anti")

    // brute pass over the stragglers
    val brute = topK(spread(asPoint(points)).crossJoin(broadcast(asQuery(badQueries))))
      .select("q_id", "pt_id", distCol, "rn")
    good.unionByName(brute)
  }

  /** queries: (q_id, x, y); points: (pt_id, x, y). Returns
    * (q_id, pt_id, dist2, rn) with rn in 1..k ordered by (dist2, pt_id).
    *
    * Exactness guard: a Chebyshev k-ring of radius `r1` at `res` covers
    * every point within r1 * cellSize of the query, so a kth squared
    * distance strictly below (r1 * cellSize)^2 leaves no closer point
    * outside the ring. */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int, res: Int, r1: Int)
             (implicit spark: SparkSession): DataFrame = {
    val size = GridIndex.cellSize(res).toDouble
    val guard2 = (r1 * size) * (r1 * size)
    exact(queries, points, k, ("x", "y"),
      Seq(gridCellId(col("x"), col("y"), res).as("__qcell")),
      gridKRing(col("__qcell"), r1), gridCellId(col("x"), col("y"), res),
      "dist2", dist2, lit(guard2), Nil, identity)
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
    exact(queries, points, k, ("x", "y"),
      Seq(hexCellId(col("x"), col("y"), res).as("__qcell")),
      hexKRing(col("__qcell"), r1), hexCellId(col("x"), col("y"), res),
      "dist2", dist2, lit(guardDist * guardDist), Nil, identity)
  }

  /** Haversine great-circle distance in meters (spherical Earth,
    * R = 6371 km). `least(1, sqrt(a))` clamps the fp overshoot that
    * would make asin return NaN for antipodal points — the oracle and
    * the naive spec replicate the identical expression tree. */
  private val EarthR = 6371000.0
  private def greatCircleMeters(lat1: Column, lng1: Column, lat2: Column, lng2: Column) = {
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
    def ixOf(lng: Column) = pmod(floor((lng + lit(180.0)) / cellDeg).cast("long"), lit(nx))
    def iyOf(lat: Column) = floor((lat + lit(90.0)) / cellDeg).cast("long")
    // unique id; ring rows can dip to iy = -r1 -> shift keeps ids
    // non-negative and beyond-pole rows collide with nothing real
    def cellOf(ix: Column, iy: Column) = (iy + lit(r1.toLong)) * lit(nx) + ix
    val ring = for { dy <- -r1 to r1; dx <- -r1 to r1 } yield
      cellOf(pmod(col("__ix") + dx, lit(nx)), col("__iy") + dy)

    val g = r1 * cellDeg
    val meridian = lit(EarthR * math.toRadians(g))
    val cmax = greatest(lit(0.0),
      cos(radians(least(lit(90.0), abs(col("qlat")) + lit(g)))))
    val guard = least(meridian,
      lit(2 * EarthR) * asin(cmax * lit(math.sin(math.toRadians(g) / 2))))

    exact(queries, points, k, ("lat", "lng"),
      Seq(ixOf(col("lng")).as("__ix"), iyOf(col("lat")).as("__iy")), array(ring: _*),
      cellOf(ixOf(col("lng")), iyOf(col("lat"))), "dist",
      greatCircleMeters(col("qlat"), col("qlng"), col("plat"), col("plng")),
      guard, Seq("qlat"),
      // the brute rescue pays ~8 libm calls per (point, query) pair; a
      // single-split point scan (one parquet file) would run that
      // entire kernel in ONE task. Spread the point side to the
      // cluster's width first — scale-adaptive (defaultParallelism),
      // and the shuffle moves 24-byte point rows, amortized by the
      // per-pair trig it parallelizes. Row set unchanged.
      _.repartition(points.sparkSession.sparkContext.defaultParallelism))
  }
}
