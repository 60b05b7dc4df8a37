package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{GridIndex, S2, Hex}

/**
 * Column-level spatial functions (SURVEY §2.10).
 *
 * `gridCellId` is deliberately NOT a custom expression: the planar cell
 * key is plain integer math over built-ins, so it stays inside
 * WholeStageCodegen and Catalyst can constant-fold / push around it —
 * "functions, not UDFs". It mirrors graft.core.GridIndex bit-for-bit
 * (property-tested in SpatialFunctionsSpec).
 *
 * PIP, the hex and spherical encoders and the k-rings are [[Kernel]]
 * calls into the core objects (and [[PipRuntime]]): static calls inside
 * WholeStageCodegen. Their coordinate inputs accept anything the
 * analyzer casts to DOUBLE (INT, DECIMAL), and a k-ring's cell anything
 * it casts to BIGINT.
 */
object SpatialFunctions {

  private val Coords = Seq(DoubleType, DoubleType, IntegerType)
  private def cellKernel(name: String, runtime: Class[_]) =
    Kernel(name, runtime, "cellId", LongType, Coords, cast = true)
  private def ringKernel(name: String, runtime: Class[_]) =
    Kernel(name, runtime, "kRing", Kernel.LongArray, Seq(LongType, IntegerType), cast = true)

  /** SQL-only form of [[gridCellId]] (the Column form stays built-in math). */
  private[graft] val GridCellId = cellKernel("grid_cell_id", GridIndex.getClass)
  private[graft] val S2CellId = cellKernel("s2_cell_id", S2.getClass)
  private[graft] val HexCellId = cellKernel("hex_cell_id", Hex.getClass)
  private[graft] val GridKRing = ringKernel("grid_k_ring", GridIndex.getClass)
  private[graft] val HexKRing = ringKernel("hex_k_ring", Hex.getClass)
  private[graft] val PointInPolygon = Kernel("st_point_in_polygon", PipRuntime.getClass,
    "eval", BooleanType, Seq(DoubleType, DoubleType, ArrayType(ArrayType(StructType(Seq(
      StructField("x", DoubleType), StructField("y", DoubleType)))))), cast = true)

  /** Planar grid cell id as pure column math; mirrors GridIndex.cellId. */
  def gridCellId(x: Column, y: Column, res: Int): Column = {
    val size = GridIndex.cellSize(res).toDouble
    val lim  = (1L << res) - 1
    def axis(c: Column): Column =
      greatest(lit(0L), least(lit(lim),
        floor((c + lit(GridIndex.Offset.toDouble)) / lit(size)).cast(LongType)))
    lit(res.toLong << 40) + shiftleft(axis(x), 20) + axis(y)
  }

  /** S2 cell id at `level` from (lat, lng) degree columns. */
  def s2CellId(lat: Column, lng: Column, level: Int): Column =
    S2CellId(Seq(lat, lng, lit(level)))

  /** H3-style hex cell id at `res` from planar (x, y) columns. */
  def hexCellId(x: Column, y: Column, res: Int): Column =
    HexCellId(Seq(x, y, lit(res)))

  // ---- latitude-aware entry points (reference raster.py:647-648:
  //      meters-per-degree-longitude = 111320 * cos(lat)) — pure column
  //      math over the planar encoders, so codegen/pushdown carry over.

  /** Equirectangular planar x (64 m world units) from lat/lng degrees. */
  def geoX(lat: Column, lng: Column): Column =
    lng * lit(graft.core.GeoScale.DegScale) * cos(radians(lat))

  /** Planar y (64 m world units) from latitude degrees. */
  def geoY(lat: Column): Column = lat * lit(graft.core.GeoScale.DegScale)

  /** Grid cell id straight from lat/lng — cells span 2^(26-res) ground
    * meters, east-west exact at every latitude. */
  def gridCellIdGeo(lat: Column, lng: Column, res: Int): Column =
    gridCellId(geoX(lat, lng), geoY(lat), res)

  /** Hex cell id straight from lat/lng (same k-ring algebra as planar). */
  def hexCellIdGeo(lat: Column, lng: Column, res: Int): Column =
    hexCellId(geoX(lat, lng), geoY(lat), res)

  /** Array of grid cells within Chebyshev distance k (kNN expansion). */
  def gridKRing(cell: Column, k: Int): Column =
    GridKRing(Seq(cell, lit(k)))

  /** Array of hex cells within hex distance k. */
  def hexKRing(cell: Column, k: Int): Column =
    HexKRing(Seq(cell, lit(k)))

  /** Exact point-in-polygon over a rings column
    * ARRAY<ARRAY<STRUCT<x:DOUBLE, y:DOUBLE>>> (ray cast + winding
    * fallback; boundary = inside). */
  def pointInPolygon(x: Column, y: Column, rings: Column): Column =
    PointInPolygon(Seq(x, y, rings))
}
