package graft

/**
 * Core row types of the engine (SURVEY §1.1).
 *
 * `ImageRow` is the north-rule input table shape (BASELINE.json:15):
 * `(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
 * caption:string, phash:int64)` plus the geo struct flattened as
 * (x_min, y_max, px) — the reference's geotransform is exactly
 * (x_min, px, 0, y_max, 0, -px)
 * (/root/reference/geospatial_learn/raster.py:260-266).
 * Every row's `phash` is `PixelCodec.phash64` of its DECODED band 0:
 * rows are built only by `operators.ImageOps.fromArray`, which hashes
 * what a reader decodes.
 *
 * `TileRow` is what the `flatMap` tiler emits (FIXTURES.md §2): one row
 * per (image, tile, overlapping grid cell, band). Pixel payloads stay
 * bounded (tile <= 256x256 float ~ 256 KB) so executor rows never blow up.
 */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    x_min: Double,
    y_max: Double,
    px: Double)

final case class TileRow(
    image_id: String,
    cell_id: Long,     // planar GridIndex cell overlapped by this tile
    tx: Int,
    ty: Int,
    x_min: Double,     // tile geotransform origin (top-left), world coords
    y_max: Double,
    px: Double,
    band: Int,
    pixels: Array[Float], // row-major th*tw
    tw: Int,
    th: Int,
    nodata: Float)

/** All-bands tile row: what `Tiler.multiTiles` emits — one row per
  * (image, tile, overlapping cell) carrying EVERY band's pixels, so
  * band-gathering consumers (sample extraction, per-pixel classification)
  * never shuffle pixels to re-align bands. */
final case class MultiTileRow(
    image_id: String,
    cell_id: Long,
    tx: Int,
    ty: Int,
    x_min: Double,
    y_max: Double,
    px: Double,
    bands: Array[Array[Float]], // band -> row-major th*tw
    tw: Int,
    th: Int,
    nodata: Float)

/** Vector feature: ring 0 = exterior, others = holes; multipolygons are
  * extra rows sharing poly_id with distinct part (FIXTURES.md §3). */
final case class PolyRow(
    poly_id: Long,
    part: Int,
    rings: Array[Array[Pt]],
    cls: Int,
    name: String,
    measure: Double)

final case class Pt(x: Double, y: Double)

final case class PointRow(pt_id: Long, x: Double, y: Double, label: String)
