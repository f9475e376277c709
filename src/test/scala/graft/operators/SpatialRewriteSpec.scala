package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.GeoFunctions
import graft.sources.{CityGmlReader, ImageGen}

/**
 * The SQL `st_covers` join on its two routes: the cell equi-join over a
 * file-backed (here parquet) polygon side, and the `pip_matches` kernel over
 * a local one, which [[org.apache.spark.sql.graft.LocalKernelFold]] then
 * evaluates on the driver when the points are local too. The rules run in
 * a session of their own, so they never reach the shared test session.
 */
class SpatialRewriteSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark.newSession()
    org.apache.spark.sql.graft.GraftExtensions.enable(s)
    s
  }
  import spark.implicits._

  lazy val fps = CityGmlReader.toFootprints(
    CityGmlReader.parseFile(graft.Fixtures.fzkV2), 0)
    .filter(_.feature_type == "Building")
  lazy val points: Seq[(String, Double, Double)] =
    (0L until 2000L).map { i => val (x, y) = ImageGen.geotag(i); (f"img_$i%010d", x, y) }

  private def parquet(df: DataFrame, name: String): DataFrame = {
    val dir = Files.createTempDirectory("rewrite").resolve(name).toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The polygons as driver rows: a LocalRelation after optimization. */
  def localPolys: DataFrame = spark.createDataset(fps).select("feature_id", "ring", "holes")
  /** The same polygons read from parquet. */
  lazy val filePolys: DataFrame = parquet(localPolys, "polys")
  def localPts: DataFrame = points.toDF("image_id", "x", "y")
  lazy val filePts: DataFrame = parquet(localPts, "pts")

  def naiveJoin(pts: DataFrame, polys: DataFrame): DataFrame =
    pts.crossJoin(polys)
      .where(GeoFunctions.st_covers(col("ring"), col("holes"), col("x"), col("y")))
      .select("image_id", "feature_id")

  private def optimized(q: DataFrame): String = q.queryExecution.optimizedPlan.toString

  /** The kernel route: pip_matches over the points, no join and no cover explode. */
  private def assertKernel(q: DataFrame): Unit = {
    val opt = optimized(q)
    assert(opt.contains("pip_matches") && !opt.contains("Join") && !opt.contains("hex_cover"),
      s"expected the pip_matches kernel:\n$opt")
  }

  test("SpatialJoinRewrite: naive cross join + st_covers becomes a cell equi-join") {
    val q = naiveJoin(localPts, filePolys)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("hex_encode"), s"expected cell prejoin:\n$optimized")
    assert(optimized.contains("hex_cover"), s"expected polygon cover explode:\n$optimized")
    q.collect()
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop"),
      s"rewrite must eliminate the nested-loop join:\n$physical")
    // rows identical to brute force
    val got = q.as[(String, String)].collect().toSet
    val want = PipJoin.bruteForce(points, fps)
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("over a local polygon side the join is the pip_matches kernel; local points run no job") {
    val want = PipJoin.bruteForce(points, fps)
    val onFile = naiveJoin(filePts, localPolys)
    assertKernel(onFile)
    assert(onFile.as[(String, String)].collect().toSet === want)
    val local = naiveJoin(localPts, localPolys)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], optimized(local))
    val (rows, jobs) = TestSpark.jobsRunBy(local.as[(String, String)].collect())
    assert(jobs === 0 && rows.toSet === want)
  }

  test("rewrite fires regardless of which side is the point side") {
    Seq(filePolys -> "hex_encode", localPolys -> "pip_matches").foreach { case (polys, route) =>
      val q = polys.crossJoin(filePts) // polygons LEFT, points RIGHT
        .where(GeoFunctions.st_covers(col("ring"), col("holes"), col("x"), col("y")))
        .select("image_id", "feature_id")
      assert(optimized(q).contains(route), optimized(q))
      val got = q.as[(String, String)].collect().toSet
      assert(got === PipJoin.bruteForce(points, fps))
    }
  }

  test("pure SQL surface: JOIN ... ON st_covers(...) gets the filter-refine plan") {
    localPts.createOrReplaceTempView("sql_pts")
    filePolys.createOrReplaceTempView("sql_polys")
    localPolys.createOrReplaceTempView("sql_local_polys")
    val q = spark.sql(
      """SELECT image_id, feature_id
         FROM sql_pts JOIN sql_polys ON st_covers(ring, holes, x, y)""")
    assert(q.queryExecution.optimizedPlan.toString.contains("hex_encode"),
      "rewrite must fire on SQL-authored joins too")
    val got = q.as[(String, String)].collect().toSet
    assert(got === PipJoin.bruteForce(points, fps))
    val local = spark.sql(
      """SELECT image_id, feature_id
         FROM sql_pts JOIN sql_local_polys ON st_covers(ring, holes, x, y)""")
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], optimized(local))
    assert(local.as[(String, String)].collect().toSet === got)
  }

  test("st_covers under OR is NOT rewritten and keeps rows from the other disjunct") {
    // every pair satisfies the second disjunct for image ids ending in "7";
    // conjoining the cell equi-join onto the whole condition would drop them
    Seq(filePolys, localPolys).foreach { polys =>
      val q = filePts.crossJoin(polys)
        .where(GeoFunctions.st_covers(col("ring"), col("holes"), col("x"), col("y"))
          || col("image_id").endsWith("7"))
        .select("image_id", "feature_id")
      assert(!optimized(q).contains("hex_encode") && !optimized(q).contains("pip_matches"),
        "a PipCoversExpr under OR must not trigger the conjunctive rewrite")
      val got = q.as[(String, String)].collect().toSet
      val pip = PipJoin.bruteForce(points, fps)
      val byOther = for {
        (id, _, _) <- points.toSet if id.endsWith("7"); f <- fps
      } yield (id, f.feature_id)
      assert(got === (pip ++ byOther))
    }
  }

  test("st_covers as one of several AND conjuncts still rewrites") {
    Seq(filePolys -> "hex_encode", localPolys -> "pip_matches").foreach { case (polys, route) =>
      val q = filePts.crossJoin(polys)
        .where(GeoFunctions.st_covers(col("ring"), col("holes"), col("x"), col("y"))
          && col("image_id").endsWith("0"))
        .select("image_id", "feature_id")
      assert(optimized(q).contains(route),
        "a top-level AND conjunct must still trigger the rewrite")
      val got = q.as[(String, String)].collect().toSet
      assert(got === PipJoin.bruteForce(points, fps).filter(_._1.endsWith("0")))
    }
  }

  test("continent-scale polygon: stats-driven res coarsens; rows still match brute force") {
    // ~400 km square polygon + a handful of points inside/outside; at the
    // building-scale default (res 11, ~25 m edge) its cover would be
    // hundreds of millions of cells — the rule must coarsen the index's res
    // from the local polygon side's envelope stats
    val big = graft.model.Footprint("country", "Query", 0,
      Seq(graft.model.XY(0, 0), graft.model.XY(400000, 0),
        graft.model.XY(400000, 400000), graft.model.XY(0, 400000)),
      Seq.empty, graft.model.Env6(0, 0, 0, 400000, 400000, 0),
      graft.model.XY(200000, 200000), Map.empty)
    val pts = parquet(Seq(("in1", 1000.0, 1000.0), ("in2", 399000.0, 350000.0),
      ("out1", 500000.0, 10.0), ("out2", -5.0, 3.0)).toDF("image_id", "x", "y"), "continent")
    val polys = spark.createDataset(Seq(big)).select("feature_id", "ring", "holes")
    val q = pts.crossJoin(polys)
      .where(GeoFunctions.st_covers(col("ring"), col("holes"), col("x"), col("y")))
      .select("image_id", "feature_id")
    assertKernel(q)
    val resUsed = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.graft.PipMatchesExpr => e.bc.value.res
    }))
    assert(resUsed.size === 1 && resUsed.head < org.apache.spark.sql.graft.SpatialJoinRewrite.Res,
      s"a 400 km polygon must pick a coarser res than the default: $resUsed")
    assert(q.as[(String, String)].collect().toSet ===
      Set(("in1", "country"), ("in2", "country")))
  }

  test("vector/text/tile kernels are callable from the SQL surface") {
    graft.functions.GeoFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_cosine(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c,
                vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                lang_id('the and of to in is that it with for') AS l,
                size(shingle_make('a b c d', 3)) AS ns,
                size(tile_cover(named_struct(
                  'minx', 0.0D, 'miny', 0.0D, 'minz', 0.0D,
                  'maxx', 10.0D, 'maxy', 10.0D, 'maxz', 0.0D), 20)) AS nt""").head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getString(2) === "en")
    assert(r.getInt(3) === 2)
    assert(r.getInt(4) >= 1)
  }

  test("config-only deployment: GraftExtensions injects functions + rule into a fresh session") {
    import org.apache.spark.sql.SparkSession
    val old = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the existing SparkContext when one is live; extensions apply
      // at session build
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
        .getOrCreate()
      // functions available with NO register() call
      val r = s2.sql(
        "SELECT hex_encode(1.0D, 2.0D, 9) AS c, vec_cosine(array(1.0D), array(1.0D)) AS v").head()
      assert(r.getLong(0) === graft.core.HexGrid.encode(1.0, 2.0, 9))
      assert(r.getDouble(1) === 1.0)
      // the spatial-join rewrite and the kernel fold are active in SQL too:
      // over local points and polygons the query is one LocalRelation and
      // runs no job
      import s2.implicits._
      points.take(200).toDF("image_id", "x", "y").createOrReplaceTempView("ext_pts")
      s2.createDataset(fps).select("feature_id", "ring", "holes")
        .createOrReplaceTempView("ext_polys")
      val q = s2.sql(
        "SELECT image_id, feature_id FROM ext_pts JOIN ext_polys ON st_covers(ring, holes, x, y)")
      val opt = q.queryExecution.optimizedPlan
      assert(opt.isInstanceOf[LocalRelation], s"injected optimizer rules must fire:\n$opt")
      val (rows, jobs) = TestSpark.jobsRunBy(q.as[(String, String)].collect())
      assert(jobs === 0 && rows.toSet === PipJoin.bruteForce(points.take(200), fps))
    } finally {
      old.foreach { s => SparkSession.setActiveSession(s); SparkSession.setDefaultSession(s) }
    }
  }

  test("extension-only session resolves every function of the SQL table") {
    import org.apache.spark.sql.SparkSession
    val names = org.apache.spark.sql.graft.GeoFunctionsImpl.sqlFunctions.map(_._1)
    assert(names.size === 41 && names.distinct.size === names.size)
    val old = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
        .getOrCreate()
      val missing = names.filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"functions the extension did not inject: $missing")
      // aggregates built through the table resolve in SQL too
      val r = s2.sql(
        """SELECT long_topk(v, 2) AS l, knn_topk(CAST(v AS DOUBLE), CAST(v AS STRING), 1) AS n,
          |       topk_by(CAST(v AS DOUBLE), v, 1) AS t, st_area(array(0D, 2D, 2D), array(0D, 0D, 2D)) AS a
          |FROM VALUES (3L), (1L), (2L) AS t(v)""".stripMargin).head()
      assert(r.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)) === Seq(1L, 2L))
      assert(r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)) === Seq("1"))
      assert(r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)) === Seq(3L))
      assert(r.getDouble(3) === 2.0)
    } finally {
      old.foreach { s => SparkSession.setActiveSession(s); SparkSession.setDefaultSession(s) }
    }
  }

  test("rewrite leaves non-spatial joins untouched") {
    val a = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val b = Seq((1, "z")).toDF("id2", "w")
    val q = a.join(b, col("id") === col("id2"))
    assert(!q.queryExecution.optimizedPlan.toString.contains("hex_encode"))
    assert(q.count() === 1)
  }
}
