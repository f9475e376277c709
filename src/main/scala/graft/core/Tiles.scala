package graft.core

/**
 * WMTS-style z/x/y tile pyramid math over a planar domain (the raster side of
 * the raster↔vector assignment operator). Tile matrix: at zoom z the domain is
 * a 2^z × 2^z grid; y counts from the TOP edge (WMTS/TMS "row" convention).
 *
 * Domain matches [[ZGrid]] (Span × Span metres anchored at the origin) so a
 * zoom-z tile equals a level-z quad cell with flipped y — giving the engine a
 * single clustering key family across cell index and tile pyramid.
 */
object Tiles {

  val Span: Double = ZGrid.Span

  final case class Tile(z: Int, x: Long, y: Long)

  def tileSize(z: Int): Double = Span / (1L << z).toDouble

  /** Pack into a sortable long: [6 bits z][29 bits x][29 bits y]. */
  def pack(t: Tile): Long = (t.z.toLong << 58) | (t.x << 29) | t.y
  def unpack(id: Long): Tile =
    Tile((id >>> 58).toInt, (id >>> 29) & ((1L << 29) - 1), id & ((1L << 29) - 1))

  def tileOf(x: Double, y: Double, z: Int): Tile = {
    val n = 1L << z
    def clampIdx(v: Long) = math.max(0L, math.min(n - 1, v))
    val tx = clampIdx(math.floor(x / Span * n).toLong)
    val tyFromBottom = clampIdx(math.floor(y / Span * n).toLong)
    Tile(z, tx, n - 1 - tyFromBottom)
  }

  /** Number of tiles [[coverRect]] returns, without allocating them: 0 for an
    * inverted or NaN envelope (`minx > maxx`, `miny > maxy` — what an empty
    * geometry's ±Infinity envelope is), else the clamped column × row count
    * between the corner tiles. */
  def coverCount(minx: Double, miny: Double, maxx: Double, maxy: Double, z: Int): Long =
    if (!(minx <= maxx && miny <= maxy)) 0L
    else {
      val (tl, br) = (tileOf(minx, maxy, z), tileOf(maxx, miny, z))
      (br.x - tl.x + 1) * (br.y - tl.y + 1)
    }

  /** Largest array the JVM allocates reliably (the JDK's own soft limit). */
  private val MaxCover = Int.MaxValue - 8

  /** Tiles at zoom z intersecting the rectangle (touching included): the
    * block from the top-left corner's tile to the bottom-right corner's
    * (y counts from the top). None for an inverted or NaN envelope; a cover
    * too large for one array fails with a message naming envelope and zoom. */
  def coverRect(minx: Double, miny: Double, maxx: Double, maxy: Double, z: Int): Array[Tile] = {
    val count = coverCount(minx, miny, maxx, maxy, z)
    require(count <= MaxCover, s"tile cover of envelope ($minx, $miny, $maxx, $maxy) at " +
      s"zoom $z holds $count tiles, more than one array can hold")
    val out = new Array[Tile](count.toInt)
    val (tl, br) = (tileOf(minx, maxy, z), tileOf(maxx, miny, z))
    var k = 0
    var xi = tl.x
    while (k < out.length && xi <= br.x) { // k: an empty cover writes nothing
      var yi = tl.y
      while (yi <= br.y) { out(k) = Tile(z, xi, yi); k += 1; yi += 1 }
      xi += 1
    }
    out
  }

  /** Geographic bounds of a tile: (minx, miny, maxx, maxy). */
  def bounds(t: Tile): (Double, Double, Double, Double) = {
    val s = tileSize(t.z)
    val minx = t.x * s
    val maxyTop = Span - t.y * s
    (minx, maxyTop - s, minx + s, maxyTop)
  }

  def parent(t: Tile): Tile = {
    require(t.z > 0)
    Tile(t.z - 1, t.x >> 1, t.y >> 1)
  }
}
