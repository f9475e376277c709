package graft.core

import graft.core.Geom.{Polygon, Pt}

/**
 * Planar hexagonal cell index — the engine's H3-analog (documented substitution
 * per SURVEY.md §7.3: no H3 jar exists offline, and the input CRS is planar
 * ETRS89/UTM anyway, so an icosahedral projection would add error, not remove it).
 *
 * Design mirrors H3's public semantics at resolutions 0..15:
 *  - aperture-7 size progression: edge(res) = EDGE0 / sqrt(7)^res, calibrated so
 *    res 7 ≈ 1.22 km and res 12 ≈ 9.4 m like H3's published edge lengths;
 *  - flat-top hexagons on an axial (q, r) lattice;
 *  - 64-bit cell ids packing (res, q, r);
 *  - kRing / ring-distance with the standard cube-coordinate metric;
 *  - parent/child via coordinate containment (like H3, hex hierarchies are
 *    non-nesting, so parent(cell) = cellAt(center(cell), res-1)).
 *
 * Replaces the reference's per-dataset in-memory R*-tree
 * (`CityGMLV2DB.java:211-231`) with index-as-data: the cell id is a column,
 * so the "index" shuffles, prunes and joins like any other key at 100 TB.
 */
object HexGrid {

  val MaxRes = 15
  /** Calibrated so edge(7) ≈ 1220 m (H3 res-7 mean edge). sqrt(7)^7 ≈ 907.49. */
  val Edge0: Double = 1220.0 * 907.4926996951546
  private val Sqrt7 = math.sqrt(7.0)
  private val Sqrt3 = math.sqrt(3.0)

  def edge(res: Int): Double = Edge0 / math.pow(Sqrt7, res)

  /** inradius (apothem) of a hexagon at `res`. */
  def apothem(res: Int): Double = edge(res) * Sqrt3 / 2.0

  // ---- id packing: [4 bits res][30 bits q+OFF][30 bits r+OFF] ----
  private val Off = 1 << 29
  private val Mask30 = (1L << 30) - 1

  def pack(res: Int, q: Int, r: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"res out of range: $res")
    (res.toLong << 60) | ((q.toLong + Off) << 30) | (r.toLong + Off)
  }

  def resOf(cell: Long): Int = (cell >>> 60).toInt
  def qOf(cell: Long): Int = (((cell >>> 30) & Mask30) - Off).toInt
  def rOf(cell: Long): Int = ((cell & Mask30) - Off).toInt

  /** Point -> containing cell at `res` (flat-top axial rounding). */
  def encode(x: Double, y: Double, res: Int): Long = {
    val size = edge(res)
    val q = (2.0 / 3.0 * x) / size
    val r = (-1.0 / 3.0 * x + Sqrt3 / 3.0 * y) / size
    val (qi, ri) = cubeRound(q, r)
    pack(res, qi, ri)
  }

  /** Cell center in input coordinates. */
  def center(cell: Long): Pt = {
    val res = resOf(cell); val q = qOf(cell); val r = rOf(cell)
    val size = edge(res)
    Pt(size * 1.5 * q, size * (Sqrt3 / 2.0 * q + Sqrt3 * r))
  }

  private def cubeRound(q: Double, r: Double): (Int, Int) = {
    val s = -q - r
    var qi = math.round(q).toInt
    var ri = math.round(r).toInt
    val si = math.round(s).toInt
    val dq = math.abs(qi - q); val dr = math.abs(ri - r); val ds = math.abs(si - s)
    if (dq > dr && dq > ds) qi = -ri - si
    else if (dr > ds) ri = -qi - si
    (qi, ri)
  }

  /** Hex (cube) distance between two same-res cells. */
  def dist(a: Long, b: Long): Int = {
    require(resOf(a) == resOf(b), "dist across resolutions")
    val dq = qOf(a) - qOf(b); val dr = rOf(a) - rOf(b)
    (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
  }

  /** All cells with hex distance <= k (the filled k-ring; size 3k(k+1)+1). */
  def kRing(cell: Long, k: Int): Array[Long] = {
    val res = resOf(cell); val q0 = qOf(cell); val r0 = rOf(cell)
    val out = new Array[Long](3 * k * (k + 1) + 1)
    var n = 0
    var dq = -k
    while (dq <= k) {
      val rLo = math.max(-k, -dq - k)
      val rHi = math.min(k, -dq + k)
      var dr = rLo
      while (dr <= rHi) {
        out(n) = pack(res, q0 + dq, r0 + dr); n += 1
        dr += 1
      }
      dq += 1
    }
    out
  }

  /** Only the hollow ring at exact hex distance k. */
  def ring(cell: Long, k: Int): Array[Long] =
    if (k == 0) Array(cell)
    else kRing(cell, k).filter(c => dist(cell, c) == k)

  /** Parent cell (containment of center — hex hierarchies are non-nesting, like H3). */
  def parent(cell: Long): Long = {
    val res = resOf(cell)
    require(res > 0, "res-0 cell has no parent")
    val c = center(cell)
    encode(c.x, c.y, res - 1)
  }

  /**
   * Conservative polygon cover at `res`: every cell whose hexagon's own bbox
   * intersects the polygon env. Guarantee needed by the PIP join prefilter:
   * for any point p with covers(p) true, encode(p, res) ∈ cover(poly, res).
   * That holds because the containing hexagon of p intersects the polygon, hence
   * its bbox intersects the polygon env, and we only prune by bbox tests.
   */
  def cover(poly: Polygon, res: Int): Array[Long] = {
    val env = poly.env
    coverBox(env.minx, env.miny, env.maxx, env.maxy, res)
  }

  /** [[cover]] of an axis-aligned box (the polygon's env). Each (q, r) of
    * the scan is visited once, so the cells come out distinct. */
  def coverBox(minx: Double, miny: Double, maxx: Double, maxy: Double,
               res: Int): Array[Long] = {
    val size = edge(res)
    val rc = size // circumradius
    val ap = apothem(res)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    // scan candidate axial range from bbox corners expanded by circumradius
    val xs = Array(minx - rc, maxx + rc)
    val ys = Array(miny - rc, maxy + rc)
    var qMin = Int.MaxValue; var qMax = Int.MinValue
    for (x <- xs; y <- ys) {
      val c = encode(x, y, res)
      qMin = math.min(qMin, qOf(c)); qMax = math.max(qMax, qOf(c))
    }
    var q = qMin - 1
    while (q <= qMax + 1) {
      // for this q column, x is fixed: cx = 1.5*size*q; r range from y range
      val cx = size * 1.5 * q
      val rMin = math.floor((ys(0) / (Sqrt3 * size)) - q / 2.0).toInt - 1
      val rMax = math.ceil((ys(1) / (Sqrt3 * size)) - q / 2.0).toInt + 1
      var r = rMin
      while (r <= rMax) {
        val cy = size * (Sqrt3 / 2.0 * q + Sqrt3 * r)
        // hex bbox vs polygon env (touching included — reference P6 semantics)
        if (cx + rc >= minx && cx - rc <= maxx &&
            cy + ap >= miny && cy - ap <= maxy) out += pack(res, q, r)
        r += 1
      }
      q += 1
    }
    out.result()
  }
}
