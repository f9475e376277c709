package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core.Hashing
import graft.model.{Env6, Footprint, ImageRow, XY}
import graft.sources.Exporters

/**
 * Seeded, hermetic input generators. Every value is a pure function of the
 * benchmark seed (and a row index for the Spark-side tables), so the same
 * seed regenerates the same inputs on the driver (for the oracles) and on
 * the executors (for the engine).
 */
object Gen {

  /** City origin: an arbitrary projected-metre frame (UTM-like magnitudes). */
  val X0 = 457000.0
  val Y0 = 5439000.0

  private def mm(v: Double): Double = math.round(v * 1000.0) / 1000.0

  /** Uniform in [0, 1) for (seed, index, stream) — executor-safe. */
  def u(seed: Long, i: Long, stream: Int): Double =
    Hashing.uniform(Hashing.mix64(seed * 0x5851f42d4c957f2dL + i), stream)

  // ---------------------------------------------------------------- city

  /** Axis-aligned box; what executor-side generators capture instead of
    * the whole city. */
  final case class Box(minX: Double, minY: Double, maxX: Double, maxY: Double)

  final case class City(buildings: Seq[Footprint], box: Box) {
    def vertices: Int = buildings.map(f => f.ring.size + f.holes.map(_.size).sum).sum
  }

  private def rect(x0: Double, y0: Double, x1: Double, y1: Double): Seq[XY] =
    Seq(XY(x0, y0), XY(x1, y0), XY(x1, y1), XY(x0, y1))

  private def footprint(id: String, kind: String, ring: Seq[XY],
                        holes: Seq[Seq[XY]], height: Double): Footprint = {
    val r = ring.map(p => XY(mm(p.x), mm(p.y)))
    val hs = holes.map(_.map(p => XY(mm(p.x), mm(p.y))))
    val env = Env6(r.map(_.x).min, r.map(_.y).min, 0.0, r.map(_.x).max, r.map(_.y).max, height)
    Footprint(id, "Building", 0, r, hs, env,
      XY(r.map(_.x).sum / r.size, r.map(_.y).sum / r.size), Map("kind" -> kind))
  }

  /**
   * `n` buildings on a jittered grid of `pitch`-metre lots. Shapes mix
   * concave stars, rectangles with a courtyard hole, L-shapes and twin
   * rectangles that share one edge exactly (boundary-inclusive matching puts
   * a point on that edge in both). Coordinates are millimetre-rounded so the
   * CityJSON export (precision 3) round-trips them exactly.
   */
  def city(seed: Long, n: Int, pitch: Double): City = {
    val rnd = new SplittableRandom(seed ^ 0xC17EL)
    val cols = math.ceil(math.sqrt(n.toDouble)).toInt
    val out = Seq.newBuilder[Footprint]
    var made = 0
    var lot = 0
    while (made < n) {
      val ox = X0 + (lot % cols) * pitch
      val oy = Y0 + (lot / cols) * pitch
      val w = pitch * (0.5 + 0.3 * rnd.nextDouble())
      val h = pitch * (0.5 + 0.3 * rnd.nextDouble())
      val x0 = ox + (pitch - w) * rnd.nextDouble()
      val y0 = oy + (pitch - h) * rnd.nextDouble()
      val height = 5.0 + 20.0 * rnd.nextDouble()
      def id = f"bldg_$made%06d"
      val k = rnd.nextDouble()
      if (k < 0.5) {
        val nv = 2 * (8 + rnd.nextInt(13)) // 16..40 vertices, alternating radii
        val cx = x0 + w / 2; val cy = y0 + h / 2
        val ro = math.min(w, h) / 2; val ri = ro * (0.45 + 0.3 * rnd.nextDouble())
        val rot = rnd.nextDouble() * math.Pi
        val ring = (0 until nv).map { j =>
          val a = rot + 2 * math.Pi * j / nv
          val r = if (j % 2 == 0) ro else ri
          XY(cx + r * math.cos(a), cy + r * math.sin(a))
        }
        out += footprint(id, "star", ring, Nil, height); made += 1
      } else if (k < 0.7) {
        val hole = rect(x0 + 0.3 * w, y0 + 0.3 * h, x0 + 0.7 * w, y0 + 0.7 * h).reverse
        out += footprint(id, "courtyard", rect(x0, y0, x0 + w, y0 + h), Seq(hole), height)
        made += 1
      } else if (k < 0.88 || made + 1 >= n) {
        val cx = x0 + w * (0.35 + 0.3 * rnd.nextDouble())
        val cy = y0 + h * (0.35 + 0.3 * rnd.nextDouble())
        val ring = Seq(XY(x0, y0), XY(x0 + w, y0), XY(x0 + w, cy), XY(cx, cy),
          XY(cx, y0 + h), XY(x0, y0 + h))
        out += footprint(id, "lshape", ring, Nil, height); made += 1
      } else {
        val xm = mm(x0 + w * (0.35 + 0.3 * rnd.nextDouble()))
        out += footprint(id, "twin", rect(x0, y0, xm, y0 + h), Nil, height); made += 1
        out += footprint(f"bldg_$made%06d", "twin", rect(xm, y0, x0 + w, y0 + h), Nil, height)
        made += 1
      }
      lot += 1
    }
    val rows = (lot + cols - 1) / cols
    City(out.result(), Box(X0, Y0, X0 + cols * pitch, Y0 + rows * pitch))
  }

  /** Export the city split across `files` CityGML and `files` CityJSON files
    * (alternating buildings), returning the two directories to ingest. */
  def exportCity(city: City, dir: Path, files: Int): (String, String) = {
    val gml = Files.createDirectories(dir.resolve("citygml"))
    val cj = Files.createDirectories(dir.resolve("cityjson"))
    val parts = city.buildings.zipWithIndex.groupBy(_._2 % (2 * files))
    (0 until 2 * files).foreach { p =>
      val fps = parts.getOrElse(p, Nil).sortBy(_._2).map(_._1)
      if (p % 2 == 0) Exporters.exportCityGml(fps, gml.resolve(f"part-$p%02d.gml").toString)
      else Exporters.exportCityJson(fps, cj.resolve(f"part-$p%02d.json").toString)
    }
    (gml.toString, cj.toString)
  }

  // ------------------------------------------------------------ geotags

  /** Geotag skew after ImageGen: `hot` share inside one hot 3 m cell on a
    * building, `cityShare` uniform over the city, `edge` share exactly on an
    * edge two twin buildings share (covered by both), the rest far field
    * (1–3 km outside the city, where no footprint is). */
  final case class Skew(hotX: Double, hotY: Double, city: Box,
                        edgeXs: Array[Double], edgeYs: Array[Double],
                        hot: Double = 0.6, cityShare: Double = 0.29, edge: Double = 0.01)

  /** The hot cell sits at the centre of a star building, well inside its
    * inner radius (at least 4.5 m), so every hot geotag hits exactly one
    * footprint and the committed row count hardly moves with the seed. */
  def skewFor(seed: Long, city: City): Skew = {
    val stars = city.buildings.filter(_.attrs("kind") == "star")
    val b = stars(java.lang.Math.floorMod(Hashing.mix64(seed ^ 0x407L), stars.size.toLong).toInt)
    val shared = city.buildings.sliding(2).collect {
      case Seq(a, c) if a.attrs("kind") == "twin" && c.attrs("kind") == "twin" &&
          a.env.maxx == c.env.minx && a.env.miny == c.env.miny =>
        (a.env.maxx, (a.env.miny + a.env.maxy) / 2)
    }.toArray
    Skew(b.centroid.x, b.centroid.y, city.box, shared.map(_._1), shared.map(_._2))
  }

  def geotag(seed: Long, i: Long, s: Skew): (Double, Double) = {
    val c = s.city
    val a = u(seed, i, 11); val b = u(seed, i, 12); val k = u(seed, i, 13)
    if (k < s.hot) (s.hotX - 1.5 + 3.0 * a, s.hotY - 1.5 + 3.0 * b)
    else if (k < s.hot + s.cityShare)
      (c.minX + (c.maxX - c.minX) * a, c.minY + (c.maxY - c.minY) * b)
    else if (k < s.hot + s.cityShare + s.edge && s.edgeXs.nonEmpty) {
      val e = (a * s.edgeXs.length).toInt
      (s.edgeXs(e), s.edgeYs(e))
    } else {
      val ang = 2 * math.Pi * a; val r = 1000.0 + 2000.0 * b
      val cx = (c.minX + c.maxX) / 2; val cy = (c.minY + c.maxY) / 2
      val half = math.max(c.maxX - c.minX, c.maxY - c.minY) / 2
      (cx + (half + r) * math.cos(ang), cy + (half + r) * math.sin(ang))
    }
  }

  def imageId(i: Long): String = f"img_$i%09d"

  // ------------------------------------------------------------- images

  /** Payload bytes (seeded noise, 32–96 B): never read by enrichment, so a
    * column-pruning regression shows as input bytes and time. */
  private def payload(seed: Long, i: Long): Array[Byte] = {
    val n = 32 + (java.lang.Math.floorMod(Hashing.mix64(seed ^ (i * 7 + 3)), 65L)).toInt
    val out = new Array[Byte](n)
    var j = 0
    var z = Hashing.mix64(seed ^ (i * 7 + 5))
    while (j < n) { out(j) = z.toByte; z = Hashing.mix64(z); j += 1 }
    out
  }

  private val Fmts = Array("jpeg", "png")
  private val Sides = Array(64, 128, 256, 512)

  private def imageRow(seed: Long, i: Long, s: Skew, caption: String,
                       geoIndex: Long): ImageRow = {
    val (x, y) = geotag(seed, geoIndex, s)
    val z = Hashing.mix64(seed ^ (i * 13 + 1))
    ImageRow(imageId(i), payload(seed, i), Sides((z & 3).toInt), Sides(((z >>> 2) & 3).toInt),
      Fmts(((z >>> 4) & 1).toInt), caption, Hashing.mix64(z), x, y)
  }

  /** The image table in the input_hint schema, `n` rows. */
  def images(spark: SparkSession, seed: Long, n: Long, s: Skew, parts: Int): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => imageRow(seed, i, s, s"photo $i", i))
  }

  // ----------------------------------------------------------- captions

  private val Syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da",
    "go", "hu", "ji", "ke", "ma", "no", "pa", "qu", "ro", "si", "te", "ul", "vi", "wo",
    "xe", "ya", "zu", "bo", "ce", "fi", "ga", "he")

  private def word(k: Long): String = {
    val a = (k & 31).toInt; val b = ((k >>> 5) & 31).toInt; val c = ((k >>> 10) & 31).toInt
    Syllables(a) + Syllables(b) + Syllables(c)
  }

  /** Blocks of 4 rows; a block is a planted cluster with this probability. */
  val PlantedBlockShare = 0.2667

  /** Cluster layout of row i: Some((block, member)) for planted rows. Block
    * b plants 2–4 near-duplicates in its first rows; the rest are unique. */
  def plantedOf(seed: Long, i: Long): Option[(Long, Int)] = {
    val b = i / 4
    val size = 2 + (java.lang.Math.floorMod(Hashing.mix64(seed ^ (b * 31 + 7)), 3L)).toInt
    if (u(seed, b, 21) < PlantedBlockShare && (i % 4) < size) Some((b, (i % 4).toInt)) else None
  }

  /** Caption of row i. Unique rows draw 14–22 words from a 32768-word
    * vocabulary (pairwise Jaccard ≈ 0). Member m > 0 of a planted cluster
    * replaces one word of the cluster's base caption (Jaccard ≥ 0.8 to the
    * base and ≥ 0.7 between members). */
  def caption(seed: Long, i: Long): String = {
    val (key, member) = plantedOf(seed, i) match {
      case Some((b, m)) => (-(b + 1), m)
      case None => (i, 0)
    }
    val len = 14 + (java.lang.Math.floorMod(Hashing.mix64(seed ^ (key * 17 + 3)), 9L)).toInt
    val words = Array.tabulate(len)(p => word(Hashing.mix64(seed ^ (key * 977 + p))))
    if (member > 0) {
      val p = java.lang.Math.floorMod(Hashing.mix64(seed ^ (key * 5 + member)), len.toLong).toInt
      words(p) = word(Hashing.mix64(seed ^ (key * 3 + member * 101)) ^ 0x5555L)
    }
    words.mkString(" ")
  }

  /** Planted near-duplicates are reposts of one photo: every member of a
    * cluster carries the geotag of the cluster's first row. */
  def geoIndex(seed: Long, i: Long): Long = plantedOf(seed, i).map(_._1 * 4).getOrElse(i)

  def captions(spark: SparkSession, seed: Long, n: Long, s: Skew, parts: Int): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => imageRow(seed, i, s, caption(seed, i), geoIndex(seed, i)))
  }

  // ------------------------------------------------------------- probes

  /** Probe batch q: `n` points uniform over the city plus a 50 m margin. */
  def probes(seed: Long, q: Int, n: Int, c: Box): Seq[(String, Double, Double)] =
    (0 until n).map { j =>
      val i = q.toLong * 1000003L + j
      (f"q${q}_p$j", c.minX - 50 + (c.maxX - c.minX + 100) * u(seed, i, 31),
        c.minY - 50 + (c.maxY - c.minY + 100) * u(seed, i, 32))
    }

  /** Point table for the range workload (driver and executor agree). */
  def rangePoint(seed: Long, i: Long, c: Box): (Double, Double) =
    (c.minX + (c.maxX - c.minX) * u(seed, i, 41), c.minY + (c.maxY - c.minY) * u(seed, i, 42))

  def rangeTable(spark: SparkSession, seed: Long, n: Long, c: Box, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map { i =>
      val (x, y) = rangePoint(seed, i, c)
      (f"pt_$i%08d", x, y)
    }.toDF("point_id", "x", "y")
  }
}
