package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Kernel of the native `graft_parts_length` expression (plans/PartsLength):
  * the planar length of a multi-part geometry in the GeoJSON connector's
  * `parts` form (array<array<array<double>>>, parts → points → ordinates).
  *
  * The double ops are those of the nested `aggregate` fold it replaced, in
  * the same order, so lengths are bit-identical: each part sums
  * `sqrt(pow(dx, 2) + pow(dy, 2))` over its segments into its own
  * accumulator from 0.0, and the part sums are added in order. Null parts
  * and parts with fewer than 2 points add 0. Only the first two ordinates
  * are read (a z ordinate is ignored).
  *
  * Kept as a top-level object so `graft.functions.PartsMath.length(parts)`
  * is a static call from generated Java.
  */
object PartsMath {

  /** The length, or null where the fold met a null on a segment: a null
    * point, a point with fewer than 2 ordinates, or a null x or y. */
  def length(parts: ArrayData): java.lang.Double = {
    var total = 0.0d
    var p = 0
    while (p < parts.numElements()) {
      // a null part adds 0, as it did in the fold (`size(null)` is -1 < 2
      // in a non-ANSI session)
      val part = at(parts, p)
      val n = if (part == null) 0 else part.numElements()
      var acc = 0.0d
      var i = 0
      while (i < n - 1) {
        val a = at(part, i); val b = at(part, i + 1)
        if (!hasXy(a) || !hasXy(b)) return null
        acc = acc + java.lang.Math.sqrt(
          java.lang.StrictMath.pow(b.getDouble(0) - a.getDouble(0), 2.0d) +
            java.lang.StrictMath.pow(b.getDouble(1) - a.getDouble(1), 2.0d))
        i += 1
      }
      total = total + acc
      p += 1
    }
    total
  }

  private def at(a: ArrayData, i: Int): ArrayData = if (a.isNullAt(i)) null else a.getArray(i)

  private def hasXy(point: ArrayData): Boolean =
    point != null && point.numElements() >= 2 && !point.isNullAt(0) && !point.isNullAt(1)
}
