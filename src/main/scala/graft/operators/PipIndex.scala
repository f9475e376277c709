package graft.operators

import graft.core.Geom.{Polygon, PreparedPolygon, Pt}
import graft.core.{CellBuckets, HexGrid}
import graft.model.Footprint

/**
 * Serializable cell-bucketed polygon index for the codegen PIP path.
 * Ships inside the query plan (reference-object in generated code); the
 * prepared-geometry buckets are @transient and rebuilt lazily per
 * deserialization — build cost is O(polygons), negligible next to a task.
 *
 * `matches(x, y)` returns Catalyst ArrayData of matched feature ids
 * (UTF8Strings precomputed once) and a SHARED empty array for misses, so the
 * per-row cost on the 10^12-row scan is: one hex encode (primitive math), one
 * hash probe, and — only for candidate cells — the exact boundary-inclusive
 * refine. Zero allocation on the miss path.
 */
final class PipIndex(polys: Seq[Footprint], res: Int) extends Serializable {

  private case class Entry(id: String, ring: Array[Pt], holes: Array[Array[Pt]])
  private val entries: Array[Entry] = polys.map { f =>
    Entry(f.feature_id, f.ring.map(p => Pt(p.x, p.y)).toArray,
      f.holes.map(_.map(p => Pt(p.x, p.y)).toArray).toArray)
  }.toArray

  @transient private lazy val ids: Array[org.apache.spark.unsafe.types.UTF8String] =
    entries.map(e => org.apache.spark.unsafe.types.UTF8String.fromString(e.id))

  /** cell → polygon ordinals over each polygon's hex cover. */
  @transient private lazy val buckets: CellBuckets = CellBuckets.build(
    entries.map(e => HexGrid.cover(Polygon(e.ring, e.holes), res)))

  @transient private lazy val prepared: Array[PreparedPolygon] =
    entries.map(e => new PreparedPolygon(Polygon(e.ring, e.holes)))

  private val EmptyArray = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))

  /** Matched feature ids as ArrayData (shared empty instance on miss). */
  def matches(x: Double, y: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cand = buckets(HexGrid.encode(x, y, res))
    if (cand == null) return EmptyArray
    var n = 0
    var i = 0
    val hit = new Array[Any](cand.length)
    while (i < cand.length) {
      val c = cand(i)
      if (prepared(c).covers(x, y)) { hit(n) = ids(c); n += 1 }
      i += 1
    }
    if (n == 0) EmptyArray
    else if (n == hit.length) new org.apache.spark.sql.catalyst.util.GenericArrayData(hit)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hit.asInstanceOf[Array[AnyRef]], n).asInstanceOf[Array[Any]])
  }
}
