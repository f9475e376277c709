package graft.core

/**
 * Planar quadtree cell index with Morton (Z-order) ids — the engine's S2-analog
 * (SURVEY.md §7.3). Unlike the hex grid, this hierarchy nests EXACTLY:
 * parent(cell) spatially contains cell, so range covers and hierarchical
 * partition pruning are precise.
 *
 * Domain: [X0, X0 + Span) × [Y0, Y0 + Span) with Span = 2^25 m — covers any
 * UTM-like planar CRS (x ~1e5..1e6, y up to ~1e7 fits after Y0 offset; we use
 * an unshifted 33.5-million-metre window anchored at the origin, which covers
 * both the FZK ETRS89/UTM32 fixture (~4.6e5, 5.4e6) and the CityJSON EPSG:3068
 * fixture (metres from a local datum)).
 *
 * Cell id layout (64 bits): [5 bits level][2*level bits Morton code][rest 0],
 * packed as (morton << 6) | level so ids at different levels never collide
 * and sorting by id groups spatially (Z-order locality for clustering).
 */
object ZGrid {

  val MaxLevel = 28
  val Span: Double = 33554432.0 // 2^25 metres
  val X0 = 0.0
  val Y0 = 0.0

  def cellSize(level: Int): Double = Span / (1L << level).toDouble

  def pack(level: Int, morton: Long): Long = (morton << 6) | level.toLong
  def levelOf(cell: Long): Int = (cell & 63L).toInt
  def mortonOf(cell: Long): Long = cell >>> 6

  def encode(x: Double, y: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level out of range: $level")
    val n = 1L << level
    var ix = math.floor((x - X0) / Span * n).toLong
    var iy = math.floor((y - Y0) / Span * n).toLong
    // clamp so boundary values stay in-domain
    if (ix < 0) ix = 0; if (ix >= n) ix = n - 1
    if (iy < 0) iy = 0; if (iy >= n) iy = n - 1
    pack(level, interleave(ix, iy))
  }

  def ix(cell: Long): Long = deinterleaveEven(mortonOf(cell))
  def iy(cell: Long): Long = deinterleaveEven(mortonOf(cell) >>> 1)

  /** Lower-left corner and size of the cell. */
  def bounds(cell: Long): (Double, Double, Double) = {
    val l = levelOf(cell)
    val s = cellSize(l)
    (X0 + ix(cell) * s, Y0 + iy(cell) * s, s)
  }

  def center(cell: Long): (Double, Double) = {
    val (x, y, s) = bounds(cell)
    (x + s / 2, y + s / 2)
  }

  def parent(cell: Long): Long = {
    val l = levelOf(cell)
    require(l > 0, "level-0 cell has no parent")
    pack(l - 1, mortonOf(cell) >>> 2)
  }

  def children(cell: Long): Array[Long] = {
    val l = levelOf(cell)
    val m = mortonOf(cell) << 2
    Array.tabulate(4)(i => pack(l + 1, m | i))
  }

  def contains(ancestor: Long, cell: Long): Boolean = {
    val la = levelOf(ancestor); val lc = levelOf(cell)
    lc >= la && (mortonOf(cell) >>> (2 * (lc - la))) == mortonOf(ancestor)
  }

  /** Cells at `level` intersecting the (touching-inclusive) rectangle. */
  def coverRect(minx: Double, miny: Double, maxx: Double, maxy: Double, level: Int): Array[Long] = {
    val n = 1L << level
    def clampIdx(v: Long) = math.max(0L, math.min(n - 1, v))
    val ix0 = clampIdx(math.floor((minx - X0) / Span * n).toLong)
    val ix1 = clampIdx(math.floor((maxx - X0) / Span * n).toLong)
    val iy0 = clampIdx(math.floor((miny - Y0) / Span * n).toLong)
    val iy1 = clampIdx(math.floor((maxy - Y0) / Span * n).toLong)
    val out = new Array[Long](((ix1 - ix0 + 1) * (iy1 - iy0 + 1)).toInt)
    var k = 0
    var xi = ix0
    while (xi <= ix1) {
      var yi = iy0
      while (yi <= iy1) {
        out(k) = pack(level, interleave(xi, yi)); k += 1
        yi += 1
      }
      xi += 1
    }
    out
  }

  // ---- Morton bit tricks ----
  private[core] def interleave(xi: Long, yi: Long): Long =
    spread(xi) | (spread(yi) << 1)

  private def spread(vIn: Long): Long = {
    var v = vIn & 0x00000000FFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  private def deinterleaveEven(mIn: Long): Long = {
    var v = mIn & 0x5555555555555555L
    v = (v | (v >>> 1)) & 0x3333333333333333L
    v = (v | (v >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v >>> 4)) & 0x00FF00FF00FF00FFL
    v = (v | (v >>> 8)) & 0x0000FFFF0000FFFFL
    v = (v | (v >>> 16)) & 0x00000000FFFFFFFFL
    v
  }
}
