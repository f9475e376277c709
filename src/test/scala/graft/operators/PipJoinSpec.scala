package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model._
import graft.sources.{CityGmlReader, CityJsonReader, ImageGen}

class PipJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // FZK (partition 0) + 100 CityJSON buildings (partition 1) building footprints
  lazy val fzkFps = CityGmlReader.toFootprints(
    CityGmlReader.parseFile(graft.Fixtures.fzkV2), 0)
    .filter(_.feature_type == "Building")
  lazy val cjFps = CityJsonReader.toFootprints(
    CityJsonReader.parseFile(graft.Fixtures.cityJson), 1)
    .filter(_.feature_type == "Building")

  // probe points around FZK (seeded geotags, incl. 60% in-footprint skew)
  lazy val fzkPoints: Seq[(String, Double, Double)] =
    (0L until 3000L).map { i => val (x, y) = ImageGen.geotag(i); (f"img_$i%010d", x, y) }
  // probe points over the CityJSON 96x98 m grid
  lazy val cjPoints: Seq[(String, Double, Double)] =
    (0L until 4000L).map { i =>
      (s"p_$i", graft.core.Hashing.uniform(7, i * 2) * 110.0 - 5.0,
        graft.core.Hashing.uniform(7, i * 2 + 1) * 110.0 - 5.0)
    }

  def runAndCollect(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("image_id", "feature_id").as[(String, String)].collect().toSet

  test("PIP join matches brute-force oracle (FZK fixture)") {
    val pts = fzkPoints.toDF("image_id", "x", "y")
    val got = runAndCollect(PipJoin.auto(pts, fzkFps))
    val want = PipJoin.bruteForce(fzkPoints, fzkFps)
    assert(want.nonEmpty, "oracle should match some points")
    assert(got === want)
    // ~60% of points are inside by construction
    assert(got.size > 1500)
  }

  test("PIP join matches brute-force oracle (100-building CityJSON grid)") {
    val pts = cjPoints.toDF("image_id", "x", "y")
    val got = runAndCollect(PipJoin.auto(pts, cjFps))
    val want = PipJoin.bruteForce(cjPoints, cjFps)
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("codegen expr path (pip_matches) ≡ brute force on both fixtures") {
    val all = fzkFps ++ cjFps
    val pts = (fzkPoints ++ cjPoints).toDF("image_id", "x", "y")
    val got = runAndCollect(PipJoin.auto(pts, all))
    val want = PipJoin.bruteForce(fzkPoints ++ cjPoints, all)
    assert(got === want)
    // and the generated code actually inlines the index (no join in the plan)
    val plan = PipJoin.auto(pts, all).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expr path must be join-free:\n$plan")
  }

  test("SQL surface: hex_encode/st_covers registered and usable from spark.sql") {
    graft.functions.GeoFunctions.register(spark)
    fzkPoints.toDF("image_id", "x", "y").createOrReplaceTempView("pts")
    val n = spark.sql(
      """SELECT count(*) FROM pts
         WHERE st_covers_ring(
           array(named_struct('x', 457854d, 'y', 5439083d),
                 named_struct('x', 457842d, 'y', 5439083d),
                 named_struct('x', 457842d, 'y', 5439093d),
                 named_struct('x', 457854d, 'y', 5439093d)), x, y)""").head().getLong(0)
    val want = fzkPoints.count { case (_, x, y) =>
      x >= 457842 && x <= 457854 && y >= 5439083 && y <= 5439093 }
    assert(n === want)
    val cells = spark.sql("SELECT DISTINCT hex_encode(x, y, 11) FROM pts").count()
    assert(cells > 1)
  }

  test("payload invariant survives the join: caption byte-equal, phash stable, PSNR>=40") {
    val imgs = ImageGen.table(spark, 200, partitions = 4)
    val joined = PipJoin.auto(imgs.toDF(), fzkFps)
    val src = imgs.collect().map(r => r.image_id -> r).toMap
    val rows = joined.as[ImageRow].collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = src(r.image_id)
      assert(r.caption === s.caption, "caption byte-equality")
      assert(r.phash === s.phash)
      assert(ImageGen.psnrBytes(s.bytes, r.bytes) >= 40.0)
    }
  }
}
