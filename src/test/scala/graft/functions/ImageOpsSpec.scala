package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.ImageGen

class ImageOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val imgs = ImageGen.table(spark, 120, 4).toDF().cache()

  test("decodeMeta: distributed decode matches stored metadata") {
    val metas = ImageFunctions.decodeMeta(imgs).collect()
    assert(metas.length === 120)
    val src = imgs.select("image_id", "w", "h", "fmt", "phash")
      .as[(String, Int, Int, String, Long)].collect().map(r => r._1 -> r).toMap
    metas.foreach { m =>
      val (_, w, h, fmt, ph) = src(m.image_id)
      assert(m.ok)
      assert(m.w === w && m.h === h)
      assert(m.fmt_sniffed === fmt, s"${m.image_id}: sniffed ${m.fmt_sniffed} want $fmt")
      assert(m.phash === ph)
    }
  }

  test("extractFeatures: sane ranges; identical content -> identical dhash") {
    val f = ImageFunctions.extractFeatures(imgs).collect()
    assert(f.length === 120)
    f.foreach { x =>
      assert(x.mean_r >= 0 && x.mean_r <= 255)
      assert(x.mean_g >= 0 && x.mean_g <= 255)
      assert(x.mean_b >= 0 && x.mean_b <= 255)
    }
    val again = ImageFunctions.extractFeatures(imgs).collect()
    assert(f.map(x => x.image_id -> x.dhash).toMap === again.map(x => x.image_id -> x.dhash).toMap)
    // gradient direction is identical for all generated images -> similar dhash
    // but phash-distinct content must not produce all-equal features
    assert(f.map(_.mean_b).distinct.length > 10)
  }

  test("DCT pHash: planted PNG/JPEG pairs near, distinct blocks far, exact banded retrieval") {
    val blocks = ImageGen.blockTable(spark, 60)
    val ph = ImageFunctions.dctHashes(blocks).collect()
      .map(r => r.image_id -> r.phash_dct).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val intra = (0 until 60).map(i => ham(ph(f"blk_$i%06d_o"), ph(f"blk_$i%06d_v")))
    val inter = (0 until 59).map(i => ham(ph(f"blk_$i%06d_o"), ph(f"blk_${i + 1}%06d_o")))
    assert(intra.max <= 4, s"recompression noise should stay tiny, max=${intra.max}")
    assert(inter.min > 10, s"distinct blocks must stay far, min=${inter.min}")
    // banded retrieval at the tight radius returns EXACTLY the planted pairs
    val pairs = graft.operators.Dedup.imageNearDup(blocks, maxHamming = 4, algo = "phash")
      .select("doc_a", "doc_b").as[(String, String)].collect().toSet
    val want = (0 until 60).map(i => (f"blk_$i%06d_o", f"blk_$i%06d_v")).toSet
    assert(pairs === want)
  }

  test("verifyPayload: all generated rows pass; corrupted caption fails") {
    val checks = ImageFunctions.verifyPayload(imgs).collect()
    assert(checks.length === 120 && checks.forall(_.pass))
    val corrupted = imgs.withColumn("caption",
      when(col("image_id") === "img_0000000007", lit("tampered")).otherwise(col("caption")))
    val c2 = ImageFunctions.verifyPayload(corrupted).collect()
    assert(c2.count(!_.pass) === 1)
    assert(c2.find(!_.pass).get.image_id === "img_0000000007")
  }

  test("imageGateColumns: each gate fires independently; null caption safe; scan-local") {
    val rows = Seq(
      ("ok", 512, 512, "png", 512 * 512 * 3L, "a fine caption"),
      ("small", 32, 512, "png", 512 * 32 * 3L, "a fine caption"),
      ("aspect", 900, 128, "jpeg", 900 * 128 * 3L, "a fine caption"),
      ("thumb", 512, 512, "jpeg", 1000L, "a fine caption"),
      ("badfmt", 512, 512, "bmp", 512 * 512 * 3L, "a fine caption"),
      ("nocap", 512, 512, "png", 512 * 512 * 3L, "   "),
      ("nullcap", 512, 512, "png", 512 * 512 * 3L, null: String),
      ("longcap", 512, 512, "png", 512 * 512 * 3L,
        (1 to 200).map("w" + _).mkString(" "))
    ).toDF("id", "w", "h", "fmt", "n_bytes", "caption")
    val q = rows.select(col("id") +: ImageFunctions.imageGateColumns(
      col("w"), col("h"), col("fmt"), col("n_bytes"), col("caption")): _*)
    val m = q.collect().map(r => r.getString(0) -> r).toMap
    assert(m("ok").getAs[Boolean]("keep"))
    assert(!m("small").getAs[Boolean]("res_ok"))
    assert(m("aspect").getAs[Boolean]("res_ok") && !m("aspect").getAs[Boolean]("aspect_ok"))
    assert(!m("thumb").getAs[Boolean]("bpp_ok"))
    assert(!m("badfmt").getAs[Boolean]("fmt_ok") && m("badfmt").getAs[Boolean]("bpp_ok"))
    assert(!m("nocap").getAs[Boolean]("caption_ok"))
    assert(!m("nullcap").getAs[Boolean]("caption_ok"), "null caption must gate, not NPE")
    assert(!m("longcap").getAs[Boolean]("caption_ok"), "token bound is inclusive-max")
    Seq("small", "aspect", "thumb", "badfmt", "nocap", "nullcap", "longcap")
      .foreach(id => assert(!m(id).getAs[Boolean]("keep"), id))
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"metadata gates must be scan-local:\n$plan")
  }
}
