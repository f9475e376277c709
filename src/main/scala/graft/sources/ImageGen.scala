package graft.sources

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import graft.core.Hashing
import graft.model.ImageRow
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Deterministic synthetic image+caption table (FIXTURES.md §1; schema =
 * BASELINE.json input_hint). Every column is a pure function of the row index
 * `i` (seeded splitmix64 streams), so the table regenerates byte-identically
 * on every executor — the content-derived-id property the engine's resume
 * semantics require (replacing the reference's random UUIDs, GraphRef.java:8-10).
 *
 * Geotags are skewed around the FZK-Haus footprint (fzk_haus_lod2_v2.gml:6-7):
 * 60% inside the footprint, 30% in a 10–40 m ring, 10% far field — this is the
 * dense-cell skew workload the PIP join (one hot cell-table bucket) must handle.
 *
 * Pixel content: smooth two-axis gradient + low-amplitude deterministic noise,
 * chosen so JPEG (quality 0.95) round-trips at PSNR ≥ 40 dB per the input_hint
 * payload invariant.
 */
object ImageGen {

  val Seed = 42L

  // FZK-Haus 2D envelope
  val FzkMinX = 457842.0
  val FzkMinY = 5439083.0
  val FzkW = 12.0
  val FzkH = 10.0
  val Cx: Double = FzkMinX + FzkW / 2
  val Cy: Double = FzkMinY + FzkH / 2

  private val dims = Array(16, 32, 64)

  def geotag(i: Long): (Double, Double) = {
    val u = Hashing.uniform(Seed ^ i, 4)
    if (u < 0.6) {
      (FzkMinX + FzkW * Hashing.uniform(Seed ^ i, 5),
       FzkMinY + FzkH * Hashing.uniform(Seed ^ i, 6))
    } else if (u < 0.9) {
      val r = 10.0 + 30.0 * Hashing.uniform(Seed ^ i, 5)
      val a = 2 * math.Pi * Hashing.uniform(Seed ^ i, 6)
      (Cx + r * math.cos(a), Cy + r * math.sin(a))
    } else {
      (Cx + (Hashing.uniform(Seed ^ i, 5) - 0.5) * 1000.0,
       Cy + (Hashing.uniform(Seed ^ i, 6) - 0.5) * 1000.0)
    }
  }

  /** Raw (pre-encode) pixel at (px, py) for image i, as packed RGB. */
  def pixel(i: Long, w: Int, h: Int, px: Int, py: Int): Int = {
    val r = (px * 255 / math.max(w - 1, 1)) & 0xff
    val g = (py * 255 / math.max(h - 1, 1)) & 0xff
    val base = ((px + py) * 127 / math.max(w + h - 2, 1)) & 0xff
    // block-wise (4×4) noise: deterministic texture that JPEG q0.95 round-trips
    // at PSNR ≥ 40 dB (per-pixel noise would not — input_hint payload invariant)
    val noise = ((Hashing.mix64(i * 0x9e3779b97f4a7c15L + (px >> 2) * 31L + (py >> 2)) >>> 40) % 17 - 8).toInt
    val b = math.max(0, math.min(255, base + noise))
    (r << 16) | (g << 8) | b
  }

  def renderRaw(i: Long, w: Int, h: Int): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var py = 0
    while (py < h) {
      var px = 0
      while (px < w) {
        bi.setRGB(px, py, pixel(i, w, h, px, py))
        px += 1
      }
      py += 1
    }
    bi
  }

  def encode(bi: BufferedImage, fmt: String): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    if (fmt == "jpeg") {
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.95f)
      val ios = ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(bi, null, null), p)
      writer.dispose()
      ios.close()
    } else {
      ImageIO.write(bi, "png", baos)
    }
    baos.toByteArray
  }

  def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** 64-bit FNV-1a over the decoded RGB pixel buffer (FIXTURES.md §1 phash rule). */
  def phashOf(bi: BufferedImage): Long = {
    val w = bi.getWidth; val h = bi.getHeight
    val px = new Array[Int](w * h)
    bi.getRGB(0, 0, w, h, px, 0, w)
    var i = 0
    while (i < px.length) { px(i) = px(i) & 0xffffff; i += 1 } // drop alpha
    Hashing.fnv1aInts(px)
  }

  /** PSNR (dB) between two decoded images over RGB channels; 99.0 when identical. */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight, "dim mismatch")
    val w = a.getWidth; val h = a.getHeight
    val pa = new Array[Int](w * h); val pb = new Array[Int](w * h)
    a.getRGB(0, 0, w, h, pa, 0, w)
    b.getRGB(0, 0, w, h, pb, 0, w)
    var se = 0.0
    var i = 0
    while (i < pa.length) {
      val x = pa(i); val y = pb(i)
      val dr = ((x >> 16) & 0xff) - ((y >> 16) & 0xff)
      val dg = ((x >> 8) & 0xff) - ((y >> 8) & 0xff)
      val db = (x & 0xff) - (y & 0xff)
      se += dr * dr + dg * dg + db * db
      i += 1
    }
    val mse = se / (pa.length * 3.0)
    if (mse == 0.0) 99.0 else 10.0 * math.log10(255.0 * 255.0 / mse)
  }

  def psnrBytes(a: Array[Byte], b: Array[Byte]): Double =
    if (java.util.Arrays.equals(a, b)) 99.0 else psnr(decode(a), decode(b))

  /** Build row i — pure function of i. */
  def row(i: Long): ImageRow = {
    val w = dims(((Hashing.mix64(Seed ^ (i * 3 + 1)) >>> 33) % 3).toInt)
    val h = dims(((Hashing.mix64(Seed ^ (i * 3 + 2)) >>> 33) % 3).toInt)
    val fmt = if ((Hashing.mix64(Seed ^ (i * 3 + 3)) & 1L) == 0L) "png" else "jpeg"
    val (x, y) = geotag(i)
    val raw = renderRaw(i, w, h)
    val bytes = encode(raw, fmt)
    val ph = phashOf(decode(bytes))
    ImageRow(f"img_$i%010d", bytes, w, h, fmt,
      s"caption for img_$i at ($x,$y)", ph, x, y)
  }

  /**
   * Distributed generation: `spark.range` → typed map. Partition count scales
   * with n so each task renders a bounded batch (the 100 TB shape: generation
   * cost is embarrassingly parallel and shuffle-free).
   */
  def table(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[ImageRow] = {
    import spark.implicits._
    ImageIO.setUseCache(false)
    spark.range(0, n, 1, partitions).map(i => row(i))
  }

  /**
   * Strong-contrast 36x32 block image (9x8 grid of 4px blocks, one block per
   * dHash cell) whose perceptual signature is determined by keyed bits —
   * the planted-near-duplicate fixture for [[graft.operators.Dedup.imageNearDup]].
   * `variant = true` re-encodes the SAME pixels as JPEG (lossy), so
   * (i, original-png) and (i, variant-jpeg) are near-duplicates by
   * construction while distinct i differ in ~32 of 64 dHash bits.
   * (The gradient images from [[row]] share one global luminance ramp, so
   * their dHashes are all near-equal — useless as a near-dup fixture.)
   */
  def blockImage(i: Long, variant: Boolean): Array[Byte] = {
    val bi = new BufferedImage(36, 32, BufferedImage.TYPE_INT_RGB)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 9) {
        val key = Hashing.mix64(0xB10CL ^ (i * 72 + by * 9 + bx))
        val base = if ((key & 1L) == 1L) 210 else 40
        val v = base + ((key >>> 8) % 30).toInt
        val rgb = (v << 16) | (v << 8) | v
        var py = by * 4
        while (py < by * 4 + 4) {
          var px = bx * 4
          while (px < bx * 4 + 4) { bi.setRGB(px, py, rgb); px += 1 }
          py += 1
        }
        bx += 1
      }
      by += 1
    }
    encode(bi, if (variant) "jpeg" else "png")
  }

  /** n planted near-duplicate image pairs: ids blk_<i>_o (png) / blk_<i>_v (jpeg). */
  def blockTable(spark: SparkSession, n: Long, partitions: Int = 8) = {
    import spark.implicits._
    ImageIO.setUseCache(false)
    spark.range(0, n, 1, partitions).flatMap { i =>
      Seq((f"blk_$i%06d_o", blockImage(i, variant = false)),
          (f"blk_$i%06d_v", blockImage(i, variant = true)))
    }.toDF("image_id", "bytes")
  }

  /** Geotag-only variant (no pixel rendering) for join-throughput benchmarks. */
  def points(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[(String, Double, Double)] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val (x, y) = geotag(i)
      (f"img_$i%010d", x, y)
    }
  }
}
