package graft.core

import scala.reflect.ClassTag

/**
 * Cell id → ordinals table shared by the broadcast indexes
 * ([[graft.operators.PipIndex]], [[graft.operators.KnnIndex]],
 * [[graft.operators.SetbackIndex]], [[graft.operators.TileIndex]]), built
 * lazily once per executor and probed read-only by every task there. Open
 * addressing with linear probing over primitive arrays (power-of-two
 * capacity, [[Hashing.mix64]] slots): a `java.util.HashMap[java.lang.Long, _]`
 * would BOX the key on every probe — 10^12 boxed Longs on the probe scan. Each bucket lists its ordinals in
 * ascending order; an empty slot has a null bucket.
 */
final class CellBuckets private (keys: Array[Long], vals: Array[Array[Int]], mask: Int) {

  /** Slot of `cell`'s bucket, or -1. Allocation-free. */
  def slot(cell: Long): Int = {
    var slot = (Hashing.mix64(cell) & mask).toInt
    while (true) {
      if (vals(slot) == null) return -1
      if (keys(slot) == cell) return slot
      slot = (slot + 1) & mask
    }
    -1
  }

  /** Ordinals bucketed in `cell`, or null. Allocation-free. */
  def apply(cell: Long): Array[Int] = {
    val s = slot(cell)
    if (s < 0) null else vals(s)
  }

  /** `f` of every bucket, indexed by [[slot]] (null at empty slots): a
    * per-bucket value built once and then read with one probe. */
  def mapBuckets[T >: Null : ClassTag](f: Array[Int] => T): Array[T] =
    vals.map(b => if (b == null) null else f(b))
}

object CellBuckets {

  /** `cells(i)`: the cells ordinal i belongs to (null = none); a cell listed
    * twice for one ordinal lists that ordinal twice in its bucket. */
  def build(cells: Array[Array[Long]]): CellBuckets = {
    var total = 0
    cells.foreach(cs => if (cs != null) total += cs.length)
    var cap = 16
    while (cap < total * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val counts = new Array[Int](cap)
    val mask = cap - 1
    def slotOf(cell: Long): Int = {
      var slot = (Hashing.mix64(cell) & mask).toInt
      while (counts(slot) != 0 && keys(slot) != cell) slot = (slot + 1) & mask
      slot
    }
    // two passes: count per cell, then fill exact-size buckets in ordinal order
    val vals = new Array[Array[Int]](cap)
    var pass = 0
    while (pass < 2) {
      var i = 0
      while (i < cells.length) {
        val cs = cells(i)
        var k = 0
        while (cs != null && k < cs.length) {
          val slot = slotOf(cs(k))
          if (pass == 0) { keys(slot) = cs(k); counts(slot) += 1 }
          else {
            if (vals(slot) == null) { vals(slot) = new Array[Int](counts(slot)); counts(slot) = 0 }
            vals(slot)(counts(slot)) = i; counts(slot) += 1
          }
          k += 1
        }
        i += 1
      }
      pass += 1
    }
    new CellBuckets(keys, vals, mask)
  }
}
