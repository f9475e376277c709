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
 * ascending order; an empty slot has a null bucket. A memoized index
 * ([[graft.operators.PlanIndex.shared]]) keeps its table resident, so the
 * table is sized by distinct cells (measured sizes at [[CellBuckets.build]]).
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

  /** (distinct cells, (cell, ordinal) pairs, capacity): the table's size. */
  private[graft] def stats: (Int, Int, Int) =
    (vals.count(_ != null), vals.iterator.filter(_ != null).map(_.length).sum, keys.length)
}

object CellBuckets {

  /** `cells(i)`: the cells ordinal i belongs to (null = none); a cell listed
    * twice for one ordinal lists that ordinal twice in its bucket. The
    * table is sized by DISTINCT cells (load ≤ 1/2), not by (cell, ordinal)
    * pairs. On the 7000-footprint city of `graft.operators.IndexCostProbe`
    * the PIP, setback and tile tables hold 7,140 / 48,848 / 752 cells for
    * 25,478 / 69,300 / 17,469 pairs: capacity 16384 / 131072 / 2048 where
    * sizing by pairs gave 65536 / 262144 / 65536, ~2.9 MB less at 12 B a
    * slot. */
  def build(cells: Array[Array[Long]]): CellBuckets = {
    var pairs = 0
    cells.foreach(cs => if (cs != null) pairs += cs.length)
    // counting in a scratch table sized by pairs gives the distinct cells,
    // which size the resident table; count again there, then fill
    val table = new Table(new Table(pairs).count(cells))
    table.count(cells)
    val keys = table.keys
    val counts = table.counts
    // exact-size buckets, filled in ordinal order
    val vals = new Array[Array[Int]](keys.length)
    var i = 0
    while (i < cells.length) {
      val cs = cells(i)
      var k = 0
      while (cs != null && k < cs.length) {
        val slot = table.slotOf(cs(k))
        if (vals(slot) == null) { vals(slot) = new Array[Int](counts(slot)); counts(slot) = 0 }
        vals(slot)(counts(slot)) = i; counts(slot) += 1
        k += 1
      }
      i += 1
    }
    new CellBuckets(keys, vals, keys.length - 1)
  }

  /** Open-addressing cell → count table for up to `n` distinct cells
    * (power-of-two capacity, load ≤ 1/2); a slot is taken when its count is
    * non-zero. */
  private final class Table(n: Int) {
    val keys: Array[Long] = {
      var cap = 16
      while (cap < n * 2) cap <<= 1
      new Array[Long](cap)
    }
    val counts = new Array[Int](keys.length)

    def slotOf(cell: Long): Int = {
      var slot = (Hashing.mix64(cell) & (keys.length - 1)).toInt
      while (counts(slot) != 0 && keys(slot) != cell) slot = (slot + 1) & (keys.length - 1)
      slot
    }

    /** Counts every listed cell; the number of distinct cells. */
    def count(cells: Array[Array[Long]]): Int = {
      var distinct = 0
      var i = 0
      while (i < cells.length) {
        val cs = cells(i)
        var k = 0
        while (cs != null && k < cs.length) {
          val slot = slotOf(cs(k))
          if (counts(slot) == 0) { keys(slot) = cs(k); distinct += 1 }
          counts(slot) += 1
          k += 1
        }
        i += 1
      }
      distinct
    }
  }
}
