package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{TileRow, PolyRow}
import graft.core.{Geom, GridIndex}
import graft.functions.{PxFunctions => Px, PxRuntime}

/**
 * Per-tile raster operators (SURVEY §2.2, §2.4, §2.8). All of these are
 * shuffle-free column transforms over the tiled relation — the pixel
 * arrays stay inside `transform`/`zip_with`/`aggregate` higher-order
 * functions (codegen'd), mirroring the reference's blockwise loops
 * without ever materializing pixels as rows.
 *
 * Band-crossing ops join on the natural tile key (image_id, tx, ty) —
 * an equi join that AQE plans as a local shuffle at worst; at ingest the
 * tile relation is hash-partitioned by image_id so same-image bands
 * co-locate.
 */
object RasterOps {

  private val tileKey = Seq("image_id", "tx", "ty")

  /** mask_raster (raster.py:1031-1134): keep pixels == mval, else `fill`.
    * Native per-tile loop (PxFunctions) — the transform() HOF form paid an
    * interpreted lambda per pixel, measured ~4x the whole decode cost. */
  def maskEquals(tiles: DataFrame, mval: Float, fill: Float = 0f): DataFrame =
    tiles.withColumn("pixels",
      Px.maskEquals(col("pixels"), mval, fill))

  /** mask_raster_multi (raster.py:1136-1265): rule in {"==", "<", ">"}
    * with replacement value — pixels matching the rule become `repl`. */
  def maskRule(tiles: DataFrame, rule: String, threshold: Float, repl: Float): DataFrame = {
    val code = rule match {
      case "==" => 0
      case "<"  => 1
      case ">"  => 2
      case r    => throw new IllegalArgumentException(s"rule $r")
    }
    tiles.withColumn("pixels",
      Px.maskRule(col("pixels"), code, threshold, repl))
  }

  /** Band algebra (NDVI raster.py:1347): (a - b) / (a + b) between two
    * band numbers of the same image, nodata-safe (0/0 -> nodata). */
  def normalizedDifference(tiles: Dataset[TileRow], bandA: Int, bandB: Int)
                          (implicit spark: SparkSession): DataFrame = {
    val a = tiles.toDF().where(col("band") === bandA)
      .withColumnRenamed("pixels", "pa")
    val b = tiles.toDF().where(col("band") === bandB)
      .select(col("image_id"), col("tx"), col("ty"), col("cell_id"),
        col("pixels").as("pb"))
    a.join(b, tileKey :+ "cell_id")
      .withColumn("pixels",
        Px.ndvi(col("pa"), col("pb"), col("nodata")))
      .drop("pa", "pb")
      .withColumn("band", lit(0))
  }

  /** colour_thresh (utilities.py:1642-1716): the data core of the
    * reference's interactive HSV threshold tool — cvtColor(BGR2HSV) +
    * cv2.inRange(lower, upper) + bitwise_and(image, image, mask=mask);
    * only the trackbar/imshow UI around it is out of scope (like
    * handyplots). Takes ALL-BANDS tiles (band 0 = R, 1 = G, 2 = B):
    * the convert is a same-pixel 3-band op, so riding multiTiles makes
    * the whole thing a zero-shuffle column transform — no band
    * re-alignment join (the NDVI two-band join shape would shuffle).
    * Output: the tile keys + `mask` (1/0 per pixel, PxRuntime.hsvInRange's
    * documented OpenCV conventions) and masked bands r/g/b
    * (bitwise_and analog: pixel where mask == 1, else 0). All four
    * arrays come from codegen'd native expressions. */
  def colourThresh(tiles: Dataset[graft.MultiTileRow],
                   hMin: Double, hMax: Double, sMin: Double, sMax: Double,
                   vMin: Double, vMax: Double): DataFrame = {
    def band(i: Int): Column = col("bands")(i)
    val mask = Px.hsvInRange(band(0), band(1), band(2),
      hMin, hMax, sMin, sMax, vMin, vMax)
    tiles.toDF()
      .withColumn("mask", mask)
      .withColumn("r", Px.mul(band(0), col("mask")))
      .withColumn("g", Px.mul(band(1), col("mask")))
      .withColumn("b", Px.mul(band(2), col("mask")))
      .drop("bands")
  }

  /** The reference's 11 RGB vegetation/color indices (zonal_rgb_idx /
    * _set_rgb_ind, shape.py:1388-1410) as column expressions, FAITHFUL to
    * the reference's own (sometimes idiosyncratic) formulas — e.g.
    * exG = 2g - (r - b) and gli = ((g-r)+(g-b))/(2g) + r + b are kept
    * exactly as written there. Callers supply r/g/b columns; every index
    * is a pure arithmetic expr (codegen'd, shuffle-free). */
  def rgbIndices(r: Column, g: Column, b: Column): Seq[(String, Column)] = {
    val exg = g * 2 - (r - b)
    val exr = r * 1.4 - g
    Seq(
      "exg"   -> exg,
      "exr"   -> exr,
      "exgr"  -> (exg - exr),
      "cive"  -> (r * 0.441 - g * 0.811 + b * 0.385 + 18.78745),
      "ndi"   -> (g - r) / (g + r),
      "rgbvi" -> ((g * g - b) * r) / ((g * g + b) * r),
      "vari"  -> ((g - r) / (g + r) - b),
      "ari"   -> (lit(1.0) / (g * r)),
      "rgbi"  -> r / g,
      "gli"   -> (((g - r) + (g - b)) / (g * 2) + r + b),
      "tgl"   -> (g - 0.39) * (r - 0.61) * b)
  }

  /**
   * zonal_rgb_idx (shape.py:1413-1502): per-polygon MEANS of all 11 RGB
   * indices over the pixels inside each polygon. All-bands tiles probe
   * the driver-built polygon cell index ([[PolyLayer.broadcastIndex]])
   * in one flatMap, the PIP-passing pixels each (tile, cell) row owns
   * emit (poly_id, r, g, b) rows, and the index means are ONE grouped
   * aggregate of codegen'd exprs — Catalyst's partial aggregation folds
   * the per-pixel rows map-side, so the only shuffle carries
   * (poly, 11 partial sums), never pixels. `shift` adds a constant to
   * every band (callers use 1.0 to keep the reference's 1/(g*r)-style
   * denominators away from zero on integer imagery).
   */
  def zonalRgbIndices(tiles: Dataset[graft.MultiTileRow], polys: Dataset[PolyRow],
                      cellRes: Int, shift: Double = 0.0)
                     (implicit spark: SparkSession): DataFrame =
    zonalRgbIndices(tiles, polys, cellRes, shift, PolyLayer.MaxBroadcastRingBytes)

  private[operators] def zonalRgbIndices(tiles: Dataset[graft.MultiTileRow],
                                         polys: Dataset[PolyRow], cellRes: Int,
                                         shift: Double, maxRingBytes: Long)
                                        (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val index = PolyLayer.broadcastIndex(polys, cellRes, maxRingBytes)
    val px = tiles.flatMap { t =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]
      PolyLayer.tileHits(index.value, t.cell_id, t.x_min, t.y_max, t.px, t.tw, t.th).foreach {
        case (p, win) =>
          var row = win.rowLo
          while (row <= win.rowHi) {
            val cy = t.y_max - (row + 0.5) * t.px
            var c = win.colLo
            while (c <= win.colHi) {
              if (win.fullInside || p.poly.contains(t.x_min + (c + 0.5) * t.px, cy)) {
                val i = row * t.tw + c
                out += ((p.polyId, t.bands(0)(i).toDouble,
                  t.bands(1)(i).toDouble, t.bands(2)(i).toDouble))
              }
              c += 1
            }
            row += 1
          }
      }
      out
    }.toDF("poly_id", "r", "g", "b")
    val aggs = rgbIndices(col("r") + shift, col("g") + shift, col("b") + shift)
      .map { case (n, e) => round(avg(e), 4).as(n) }
    px.groupBy("poly_id").agg(aggs.head, aggs.tail: _*)
  }

  /** combine_scene (raster.py:1466-1524): aligned-grid per-pixel rule
    * merge of two classifications — where s1 is nodata/0 take s2, where
    * both agree keep, else keep s1 (the reference's crop-map rules).
    * "nodata" = 0, s1's own declared sentinel, AND NaN (never a valid
    * class label) — the kernel tests each pixel against the row's
    * sentinel, so mixed-sentinel scene sets merge correctly. */
  def combineScene(s1: Dataset[TileRow], s2: Dataset[TileRow])
                  (implicit spark: SparkSession): DataFrame = {
    val a = s1.toDF().withColumnRenamed("pixels", "pa")
    val b = s2.toDF().select(col("image_id"), col("tx"), col("ty"),
      col("band"), col("cell_id"), col("pixels").as("pb"))
    a.join(b, tileKey ++ Seq("band", "cell_id"))
      .withColumn("pixels",
        Px.combineScene(col("pa"), col("pb"), col("nodata").cast("float")))
      .drop("pa", "pb")
  }

  /**
   * temporal_comp (raster.py:2287-2407): element-wise reduce across N
   * aligned snapshots distinguished by a `t` column. stat in
   * {"mean", "std", "min", "max", "sum", "median", "percentile"} — the
   * full statChoose dispatch (raster.py:2345-2356, np.nanstd ddof 0 for
   * "std"; median/percentile are the
   * reference's headline cloud-free-composite path). `q` is the
   * percentile in [0, 100], np.nanpercentile linear-interpolation
   * convention. NaN-safe like the reference's nan-stats. One shuffle on
   * the tile key; the time axis folds with array HOFs (no per-pixel
   * rows).
   */
  def temporalComposite(snapshots: DataFrame, stat: String, q: Double = 50.0): DataFrame = {
    // normalize each snapshot's OWN sentinel to NaN first: the composite
    // kernel skips NaN, so mixed sentinels (one layer NaN, another
    // -9999) composite correctly instead of averaging -9999 in as a
    // real value; the output sentinel is then deterministically NaN
    // (a first("nodata") would both misread differing layers and flip
    // nondeterministically across runs — the mosaic note below)
    val normalized = snapshots.withColumn("pixels",
      Px.nodataToNan(col("pixels"), col("nodata").cast("float")))
    val gathered = normalized
      .groupBy((tileKey ++ Seq("band", "cell_id")).map(col): _*)
      .agg(sort_array(collect_list(struct(col("t"), col("pixels")))).as("series"),
        first("x_min").as("x_min"), first("y_max").as("y_max"),
        first("px").as("px"), first("tw").as("tw"), first("th").as("th"),
        lit(Float.NaN).cast("float").as("nodata"))
    val arrays = col("series.pixels")
    // native one-loop composite (PxFunctions): the aggregate/zip_with/
    // array_sort HOF chains paid interpreted lambdas per pixel PER
    // SERIES ELEMENT and dominated the whole job at bench volume
    val opCode = stat match {
      case "sum" => 0
      case "mean" => 1
      case "min" => 2
      case "max" => 3
      case "median" | "percentile" => 4
      case "std" => 5
      case s => throw new IllegalArgumentException(s"stat $s")
    }
    val qq = if (stat == "median") 50.0 else q
    require(opCode != 4 || (qq >= 0.0 && qq <= 100.0), s"percentile out of range: $qq")
    val out = Px.seriesComposite(arrays, opCode, qq)
    gathered.withColumn("pixels", out).drop("series")
  }

  /** _merge / mosaic (gdal_merge.py:288-533 via raster.py:1449-1464):
    * composite N aligned rasters into one — per aligned tile, first
    * non-nodata value wins in image_id order (the reference's last-file-
    * wins becomes a deterministic priority fold). Tiles must share the
    * grid (same x_min/y_max/tw/th per cell), as gdal_merge assumes. */
  def mosaic(tiles: DataFrame): DataFrame = {
    val gathered = tiles
      .groupBy(col("cell_id"), col("band"), col("tx"), col("ty"),
        col("x_min"), col("y_max"), col("tw"), col("th"))
      .agg(sort_array(collect_list(struct(col("image_id"), col("pixels"),
        col("nodata")))).as("layers"),
        first("px").as("px"))
    // per-layer nodata rides the sorted struct: each layer is tested
    // against ITS OWN sentinel (a single first("nodata") would both
    // misread differing layers and flip nondeterministically); the
    // output tile's sentinel is the sorted FIRST layer's — deterministic
    val composited = Px.mosaic(col("layers.pixels"), col("layers.nodata"))
    gathered.withColumn("pixels", composited)
      .withColumn("nodata", col("layers.nodata").getItem(0))
      .withColumn("image_id", lit("mosaic")).drop("layers")
  }

  /** combine_grid (utilities.py:887-918): per-pixel product then relabel
    * (here: product; relabel is a LUT via applyLut). */
  def combineGrid(s1: Dataset[TileRow], s2: Dataset[TileRow])
                 (implicit spark: SparkSession): DataFrame = {
    val a = s1.toDF().withColumnRenamed("pixels", "pa")
    val b = s2.toDF().select(col("image_id"), col("tx"), col("ty"),
      col("band"), col("cell_id"), col("pixels").as("pb"))
    a.join(b, tileKey ++ Seq("band", "cell_id"))
      .withColumn("pixels", Px.mul(col("pa"), col("pb")))
      .drop("pa", "pb")
  }

  /** stat_comp (raster.py:2410-2528): composite across the BAND axis of
    * one raster — same fold as temporalComposite with band as the series
    * key (incl. the statChoose percentile, raster.py:2464-2473). No
    * shuffle beyond the tile-key group. */
  def bandComposite(tiles: DataFrame, stat: String, q: Double = 50.0): DataFrame =
    temporalComposite(
      tiles.withColumn("t", col("band")).withColumn("band", lit(0)), stat, q)

  /** raster2points (raster.py:1607-1699): tile -> (x, y, value) rows,
    * nodata dropped. Pixel-center coords via posexplode index math;
    * respects the cell-ownership rule so multi-cell tiles don't
    * double-emit. */
  def rasterToPoints(tiles: DataFrame): DataFrame = {
    val rowIdx = floor(col("pos") / col("tw"))
    val colIdx = col("pos") % col("tw")
    val cx = col("x_min") + (colIdx + 0.5) * col("px")
    val cy = col("y_max") - (rowIdx + 0.5) * col("px")
    // cell bounds from the packed cell id (same math as GridIndex)
    val res = shiftrightunsigned(col("cell_id"), 40).bitwiseAND(lit(0x1fL))
    val size = pow(lit(2.0), lit(GridIndex.WorldPow) - res)
    val cx0 = shiftrightunsigned(col("cell_id"), 20).bitwiseAND(lit(0xfffffL)) * size - GridIndex.Offset
    val cy0 = col("cell_id").bitwiseAND(lit(0xfffffL)) * size - GridIndex.Offset
    tiles
      .select(col("image_id"), col("band"), col("x_min"), col("y_max"),
        col("px"), col("tw"), col("cell_id"), col("nodata"),
        posexplode(col("pixels")))
      .withColumn("x", cx).withColumn("y", cy)
      .where(col("x") >= cx0 && col("x") < cx0 + size &&
        col("y") >= cy0 && col("y") < cy0 + size)
      .where(col("col") =!= col("nodata")) // Spark: NaN = NaN is true
      .select(col("image_id"), col("band"), col("x"), col("y"),
        col("col").as("value"))
  }

  /** rasterize (raster.py:1773-1831): burn polygons into an image-aligned
    * grid — the inverse of polygonize. Produces mask tiles (1 inside,
    * 0 outside; `burnClass` uses the polygon class value). The polygon
    * layer broadcasts as a driver-built cell index
    * ([[PolyLayer.broadcastIndex]]), so the burn is a typed map over
    * tiles with ZERO shuffle. Each (tile, cell) row burns only the
    * pixels it owns under the Tiler's ownership rule, so a tile that
    * spans several cells burns each pixel in exactly one of its rows.
    * Overlapping features burn in (poly_id, part) order — deterministic. */
  def rasterize(tiles: Dataset[TileRow], polys: Dataset[PolyRow], cellRes: Int,
                burnClass: Boolean = false)
               (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    val index = PolyLayer.broadcastIndex(polys, cellRes)
    tiles.map { t =>
      val out = new Array[Float](t.pixels.length)
      PolyLayer.tileHits(index.value, t.cell_id, t.x_min, t.y_max, t.px, t.tw, t.th).foreach {
        case (p, win) =>
          val burn = if (burnClass) p.cls.toFloat else 1f
          var r = win.rowLo
          while (r <= win.rowHi) {
            val cy = t.y_max - (r + 0.5) * t.px
            var c = win.colLo
            while (c <= win.colHi) {
              if (win.fullInside || p.poly.contains(t.x_min + (c + 0.5) * t.px, cy))
                out(r * t.tw + c) = burn
              c += 1
            }
            r += 1
          }
      }
      t.copy(pixels = out)
    }
  }

  /** clip_raster (raster.py:1932-2047): crop tiles to the polygon bbox
    * and nodata-fill pixels outside the polygon (cutline mask). The
    * polygon's one-part cell index ([[PolyLayer.byCell]]) is broadcast;
    * each (tile, cell) row keeps only the in-polygon pixels it owns
    * under the Tiler's ownership rule ([[PolyLayer.tileHits]], as
    * [[rasterize]]), so a tile that spans several cells keeps each pixel
    * in exactly one of its rows. */
  def clipRaster(tiles: Dataset[TileRow], poly: PolyRow, cellRes: Int)
                (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    val byCell = PolyLayer.byCell(Array(PolyLayer.Part(poly.poly_id, poly.part, poly.cls,
      Geom.PackedPoly(poly.rings))), cellRes)
    val cells = byCell.keySet.toArray
    val index = spark.sparkContext.broadcast(byCell)
    tiles
      // Column predicate, NOT a typed lambda: isin stays visible to
      // Catalyst so a parquet-backed tile table prunes row groups /
      // partitions on cell_id instead of decoding everything
      .where(col("cell_id").isin(cells: _*))
      .map { t =>
        val out = Array.fill(t.pixels.length)(t.nodata)
        PolyLayer.tileHits(index.value, t.cell_id, t.x_min, t.y_max, t.px, t.tw, t.th).foreach {
          case (p, win) =>
            var r = win.rowLo
            while (r <= win.rowHi) {
              val cy = t.y_max - (r + 0.5) * t.px
              var c = win.colLo
              while (c <= win.colHi) {
                val i = r * t.tw + c
                if (win.fullInside || p.poly.contains(t.x_min + (c + 0.5) * t.px, cy))
                  out(i) = t.pixels(i)
                c += 1
              }
              r += 1
            }
        }
        t.copy(pixels = out)
      }
  }

  /** hist_match LUT application: remap pixel values through a broadcast
    * value->value lookup (the tail of raster.py:2139-2217 after the CDF
    * join computes the mapping). Unmapped values pass through. */
  def applyLut(tiles: DataFrame, lut: Map[Float, Float])
              (implicit spark: SparkSession): DataFrame = {
    val entries = lut.toSeq.sortWith((p, q) => PxRuntime.cmp(p._1, q._1) < 0)
    tiles.withColumn("pixels", Px.applyLut(col("pixels"),
      entries.map(_._1).toArray, entries.map(_._2).toArray))
  }

  /** Otsu threshold (shape.py:2367-2372 thresholds): maximize between-
    * class variance over the global value histogram (one agg + a tiny
    * driver-side scan). For quantized (uint8-style) rasters the exact
    * per-value histogram is used; float imagery with more than `levels`
    * distinct values quantizes into `levels` min/max-ranged bins first,
    * so the collected histogram is ALWAYS bounded (never an unbounded
    * distinct-value pull to the driver). */
  def otsuThreshold(tiles: DataFrame, levels: Int = 256): Double = {
    val vals = tiles.select(explode(col("pixels")).as("v")).where(!isnan(col("v")))
    // EXACT bounded distinct probe — deterministic path choice (an
    // approximate count's error could flip it across runs/engines) with
    // bounded cost: each partition emits at most levels+1 of ITS
    // distinct values, so per-task memory and the shuffle stay O(levels)
    // regardless of the raster's distinct-value count. The <= levels
    // decision stays exact: a truncating partition alone contributes
    // levels+1 distinct values; if none truncates, the union is the true
    // distinct set. Probed FIRST: the quantized (uint8-style) common
    // case needs no min/max, so it pays two scans of the exploded
    // relation, not three — the min/max scan runs only on the
    // continuous-float path that bins by range.
    val nd = {
      import org.apache.spark.sql.Encoders
      vals.select(col("v")).as[Float](Encoders.scalaFloat).mapPartitions { it =>
        val s = new java.util.LinkedHashSet[Float]()
        // normalize -0.0f: JVM Float.equals splits the zeros while
        // Spark's distinct() merges them — an unnormalized set could
        // truncate one Spark-distinct value short and break the bound
        while (it.hasNext && s.size <= levels) {
          val v = it.next()
          s.add(if (v == 0f) 0f else v)
        }
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
      }(Encoders.scalaFloat).distinct().limit(levels + 1).count()
    }
    val binned =
      if (nd <= levels) vals.groupBy(col("v").cast("double").as("v"))
      else {
        val probe = vals.agg(
          min(col("v")).as("mn"), max(col("v")).as("mx")).head()
        val (mn, mx) = (probe.getFloat(0).toDouble, probe.getFloat(1).toDouble)
        val width = (mx - mn) / levels
        // bin value = UPPER edge: "v <= threshold" must keep the whole
        // bin in the lower class (the reference uses bw = src > t)
        vals.groupBy((lit(mn) +
          (least(floor((col("v") - mn) / width), lit(levels - 1.0)) + 1) * width)
          .cast("double").as("v"))
      }
    val hist = binned.agg(count(lit(1)).as("c"))
      .orderBy("v").collect()
      .map(r => (r.getDouble(0), r.getLong(1).toDouble))
    otsuArgmax(hist)
  }

  /** Otsu's between-class-variance argmax over an ASCENDING per-value
    * histogram — the ONE copy of the scan (otsuThreshold here and
    * ThreshSeg.otsuLocal both select through it, so a tie-break or
    * stability change cannot drift between the global and per-polygon
    * paths). */
  private[operators] def otsuArgmax(hist: Array[(Double, Double)]): Double = {
    val total = hist.map(_._2).sum
    val sumAll = hist.map { case (v, c) => v * c }.sum
    var sumB = 0.0; var wB = 0.0; var best = 0.0; var thr = hist.head._1
    hist.foreach { case (v, c) =>
      wB += c
      if (wB > 0 && wB < total) {
        sumB += v * c
        val wF = total - wB
        val mB = sumB / wB
        val mF = (sumAll - sumB) / wF
        val between = wB * wF * (mB - mF) * (mB - mF)
        if (between > best) { best = between; thr = v }
      }
    }
    thr
  }
}
