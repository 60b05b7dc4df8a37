package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import graft.core.Geom

/**
 * Allocation-free point-in-polygon over Catalyst's nested ArrayData —
 * the static call behind `st_point_in_polygon` (SURVEY §4.2). Reads ring
 * vertices directly from the unsafe representation: no per-row
 * Array[(Double, Double)] materialization, so the call stays cheap inside
 * WholeStageCodegen's hot loop.
 *
 * Only the vertex walk is its own: each edge goes through the packed
 * kernel's edge test ([[Geom.edgeStep]]) and winding step
 * ([[Geom.windingStep]]), so decisions match `Geom.pointInPolygonPacked`
 * (boundary = inside, even-odd with winding fallback on scanline
 * ambiguity) — spec-checked against it in SpatialFunctionsSpec.
 */
object PipRuntime {

  def eval(px: Double, py: Double, rings: ArrayData): Boolean = {
    var crossings = 0
    var ambiguous = 0
    val nRings = rings.numElements()
    var r = 0
    while (r < nRings) {
      val ring = rings.getArray(r)
      val n = ring.numElements()
      // edge i is (v_i, v_{i+1 mod n}): carry v_i forward from the
      // previous iteration so each vertex struct materializes ONCE per
      // call instead of twice (getStruct allocates a row view)
      var ax = 0.0; var ay = 0.0; var x0 = 0.0; var y0 = 0.0
      if (n > 0) {
        val v0 = ring.getStruct(0, 2)
        x0 = v0.getDouble(0); y0 = v0.getDouble(1)
        ax = x0; ay = y0
      }
      var i = 0
      while (i < n) {
        var bx = x0; var by = y0
        if (i + 1 < n) {
          val b = ring.getStruct(i + 1, 2)
          bx = b.getDouble(0); by = b.getDouble(1)
        }
        val s = Geom.edgeStep(px, py, ax, ay, bx, by)
        if (s == Geom.OnEdge) return true
        crossings ^= s & Geom.Crosses
        ambiguous |= s & Geom.Ambiguous
        ax = bx; ay = by
        i += 1
      }
      r += 1
    }
    if (ambiguous == 0) crossings == Geom.Crosses
    else {
      // per-ring even-odd parity, orientation-independent (the packed
      // kernel's fallback — hole rings may wind either way)
      var inside = false
      var rr = 0
      while (rr < nRings) {
        if (ringWinding(px, py, rings.getArray(rr)) != 0) inside = !inside
        rr += 1
      }
      inside
    }
  }

  private def ringWinding(px: Double, py: Double, ring: ArrayData): Int = {
    var wn = 0
    val n = ring.numElements()
    var i = 0
    while (i < n) {
      val a = ring.getStruct(i, 2)
      val b = ring.getStruct((i + 1) % n, 2)
      wn += Geom.windingStep(px, py, a.getDouble(0), a.getDouble(1),
        b.getDouble(0), b.getDouble(1))
      i += 1
    }
    wn
  }
}
