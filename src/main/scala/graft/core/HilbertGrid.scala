package graft.core

/**
 * Hilbert-curve cell index over the same planar domain and packing as
 * [[ZGrid]] — the clustering-order upgrade: consecutive Hilbert ids are
 * ALWAYS spatially adjacent cells (unit step), where Z-order jumps across
 * the plane at every power-of-two boundary. For a table clustered on the
 * cell key that means a square query window touches fewer contiguous id
 * ranges → fewer row-group fragments to scan
 * (HilbertSpec measures the fragment-count win vs Z-order on seeded random
 * windows; the classic Moon et al. 2001 result).
 *
 * Transform: the standard iterative rotate/reflect walk (public-domain
 * Hilbert conversion, e.g. Hamilton's compact algorithm / Wikipedia form) —
 * integer-only, so the q72 DuckDB oracle replays it bit-exactly as a
 * recursive CTE. Id layout matches ZGrid: `(d << 6) | level`, so ids at
 * different levels never collide and the level is recoverable.
 */
object HilbertGrid {

  val MaxLevel: Int = ZGrid.MaxLevel
  val Span: Double = ZGrid.Span
  val X0: Double = ZGrid.X0
  val Y0: Double = ZGrid.Y0

  def pack(level: Int, d: Long): Long = (d << 6) | level.toLong
  def levelOf(cell: Long): Int = (cell & 63L).toInt
  def dOf(cell: Long): Long = cell >>> 6

  /** (ix, iy) → distance along the level-`order` Hilbert curve. */
  def xy2d(order: Int, x0: Long, y0: Long): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the quadrant so the sub-curve is in canonical orientation
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** distance → (ix, iy), the inverse walk. */
  def d2xy(order: Int, d0: Long): (Long, Long) = {
    var x = 0L
    var y = 0L
    var t = d0
    var s = 1L
    while (s < (1L << order)) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tt = x; x = y; y = tt
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** Point → packed Hilbert cell id at `level` (grid mapping == ZGrid's). */
  def encode(x: Double, y: Double, level: Int): Long = {
    require(level >= 1 && level <= MaxLevel, s"level out of range: $level")
    val n = 1L << level
    var ix = math.floor((x - X0) / Span * n).toLong
    var iy = math.floor((y - Y0) / Span * n).toLong
    if (ix < 0) ix = 0; if (ix >= n) ix = n - 1
    if (iy < 0) iy = 0; if (iy >= n) iy = n - 1
    pack(level, xy2d(level, ix, iy))
  }

  /** Lower-left corner and size of the cell. */
  def bounds(cell: Long): (Double, Double, Double) = {
    val l = levelOf(cell)
    val s = Span / (1L << l).toDouble
    val (ix, iy) = d2xy(l, dOf(cell))
    (X0 + ix * s, Y0 + iy * s, s)
  }

  def center(cell: Long): (Double, Double) = {
    val (x, y, s) = bounds(cell)
    (x + s / 2, y + s / 2)
  }
}
