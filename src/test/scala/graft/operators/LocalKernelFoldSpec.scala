package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Explode}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GeoFunctionsImpl, GraftExtensions, LocalKernelFold, PipMatchesExpr}
import org.apache.spark.sql.types._

import graft.TestSpark
import graft.app.Pipeline
import graft.functions.GeoFunctions

/**
 * The two local-batch paths of the PIP/kNN kernels:
 *  - `SpatialJoinRewrite` plans SQL `st_covers` over a local polygon side on
 *    `pip_matches` — its rows equal the relational cell join's (a
 *    parquet-backed polygon side) and the brute force, on seeded polygons
 *    with every shape `st_covers` decides;
 *  - [[LocalKernelFold]] evaluates a pip/knn Generate over local probes on
 *    the driver — its rows equal the unfolded plan's, and such a query runs
 *    no Spark job.
 * The rules run only in sessions of their own: `GraftExtensions.enable` on a
 * new session, or a session built with the extensions.
 */
class LocalKernelFoldSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val enabled: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.enable(s)
    s
  }

  /** `body` over a session built with the extensions; the caller's active
    * and default sessions are restored afterwards. */
  private def withExtensionSession[T](body: SparkSession => T): T = {
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(SparkSession.builder().master("local[4]").withExtensions(new GraftExtensions).getOrCreate())
    finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  private def isLocal(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString
  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def parquet(df: DataFrame, name: String): DataFrame = {
    val dir = Files.createTempDirectory("fold").resolve(name).toString
    df.write.parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  // ---------------------------------------------------------------- SQL route

  private val xy = new StructType().add("x", DoubleType, nullable = false).add("y", DoubleType, nullable = false)
  private val polySchema = new StructType().add("fid", StringType).add("ring", ArrayType(xy))
    .add("holes", ArrayType(ArrayType(xy))).add("h", DoubleType)
  private val pointSchema = new StructType().add("id", StringType).add("x", DoubleType)
    .add("y", DoubleType).add("t", DoubleType)

  private type Ring = Seq[(Double, Double)]
  /** One polygon row; a None ring or holes is SQL null. */
  private final case class Poly(fid: String, ring: Option[Ring], holes: Option[Seq[Ring]], h: Double)

  private def square(x0: Double, y0: Double, side: Double, closed: Boolean = false): Ring = {
    val r = Seq((x0, y0), (x0 + side, y0), (x0 + side, y0 + side), (x0, y0 + side))
    if (closed) r :+ r.head else r
  }

  /** Fixed shapes (PipKernelSpec's star, courtyard, twins, empty ring and
    * duplicated id; shared-edge squares; a hole crossing its exterior;
    * overlapping holes; a NaN vertex; an exact duplicate; null ring and null
    * holes) plus seeded stars, half of them with a square hole. */
  private def polygons(seed: Int): Seq[Poly] = {
    val rnd = new Random(seed)
    val fixed = PipKernelSpec.fps.map(f => Poly(f.feature_id, Some(f.ring.map(p => (p.x, p.y))),
      Some(f.holes.map(_.map(p => (p.x, p.y)))), rnd.nextDouble()))
    val shared = (0 until 4).map(i => Poly(s"sq$i", Some(square(100 + 10 * i, 0, 10, i % 2 == 0)), Some(Nil),
      rnd.nextDouble()))
    val stars = (0 until 8).map { i =>
      val (cx, cy) = (rnd.nextDouble() * 200, 60 + rnd.nextDouble() * 100)
      val outer = 5 + rnd.nextDouble() * 15
      val n = 5 + rnd.nextInt(4)
      val ring = (0 until 2 * n).map { j =>
        val r = if (j % 2 == 0) outer else outer * (0.45 + 0.3 * rnd.nextDouble())
        (cx + r * math.cos(math.Pi * j / n), cy + r * math.sin(math.Pi * j / n))
      }
      val hole = if (i % 2 == 0) Seq(square(cx - outer / 8, cy - outer / 8, outer / 4)) else Nil
      Poly(s"star$i", Some(ring), Some(hole), rnd.nextDouble())
    }
    val odd = Seq(
      Poly("crossing_hole", Some(square(300, 0, 10)), Some(Seq(square(305, 5, 10))), rnd.nextDouble()),
      Poly("two_holes", Some(square(320, 0, 20)), Some(Seq(square(322, 2, 8), square(326, 6, 8))), rnd.nextDouble()),
      Poly("nan_vertex", Some(Seq((350.0, 0.0), (360.0, 0.0), (Double.NaN, 5.0), (360.0, 10.0), (350.0, 10.0))),
        Some(Nil), rnd.nextDouble()),
      Poly("null_ring", None, Some(Nil), rnd.nextDouble()),
      Poly("null_holes", Some(square(-50, -50, 500)), None, rnd.nextDouble()))
    val all = fixed ++ shared ++ stars ++ odd
    all :+ all(fixed.size + shared.size) // an exact duplicate of the first star
  }

  /** Every vertex and edge quarter point, a seeded scatter over the extent,
    * NaN and null coordinates. */
  private def probes(polys: Seq[Poly], seed: Int): Seq[(String, Option[Double], Option[Double])] = {
    val rnd = new Random(seed)
    val rings = polys.flatMap(p => p.ring.toSeq ++ p.holes.toSeq.flatten).filter(_.nonEmpty)
    val onRings = rings.flatMap { r =>
      r.indices.flatMap { i =>
        val ((ax, ay), (bx, by)) = (r(i), r((i + 1) % r.size))
        Seq(0.0, 0.25, 0.5, 0.75).map(t => (ax + t * (bx - ax), ay + t * (by - ay)))
      }
    }
    val scatter = Seq.fill(1500)((rnd.nextDouble() * 400 - 20, rnd.nextDouble() * 200 - 20))
    val pts = (onRings ++ scatter).zipWithIndex.map { case ((x, y), i) => (s"p$i", Some(x), Some(y)) }
    pts ++ Seq(("nan_x", Some(Double.NaN), Some(5.0)), ("nan_y", Some(105.0), Some(Double.NaN)),
      ("null_x", None, Some(5.0)), ("null_y", Some(105.0), None))
  }

  private def polyRows(s: SparkSession, polys: Seq[Poly]): DataFrame = {
    def ring(r: Ring) = r.map { case (x, y) => Row(x, y) }
    s.createDataFrame(polys.map(p => Row(p.fid, p.ring.map(ring).orNull,
      p.holes.map(_.map(ring)).orNull, p.h)).asJava, polySchema)
  }

  private def pointRows(s: SparkSession, pts: Seq[(String, Option[Double], Option[Double])],
                        seed: Int): DataFrame = {
    val rnd = new Random(seed)
    s.createDataFrame(pts.map { case (id, x, y) =>
      Row(id, x.map(Double.box).orNull, y.map(Double.box).orNull, rnd.nextDouble())
    }.asJava, pointSchema)
  }

  private def sqlJoin(s: SparkSession, pts: DataFrame, polys: DataFrame, extra: Boolean,
                      polysLeft: Boolean): DataFrame = {
    pts.createOrReplaceTempView("fold_pts")
    polys.createOrReplaceTempView("fold_polys")
    val from = if (polysLeft) "fold_polys b JOIN fold_pts p" else "fold_pts p JOIN fold_polys b"
    s.sql(s"SELECT p.id, b.fid FROM $from ON st_covers(b.ring, b.holes, p.x, p.y)" +
      (if (extra) " AND b.h >= p.t" else ""))
  }

  /** Multiset difference, both ways: what `got` lacks and what it adds. */
  private def diff(got: Seq[String], want: Seq[String]): String =
    s"missing ${want.diff(got).take(20)}, extra ${got.diff(want).take(20)}"

  test("SQL st_covers over local polygons on pip_matches == nested loop == relational == brute force") {
    val s = enabled
    for (seed <- 1 to 3) {
      val polys = polygons(seed)
      val pts = probes(polys, seed)
      val (localPolys, localPts) = (polyRows(s, polys), pointRows(s, pts, seed))
      val (filePolys, filePts) = (parquet(localPolys, "polys"), parquet(localPts, "pts"))
      val t = localPts.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      // the cell routes (relational, brute force) filter by the finite
      // vertices' box, which a NaN vertex does not bound (see PipIndex.env)
      val finite = (row: String) => !row.endsWith(",nan_vertex]")
      val xy = pts.collect { case (id, Some(x), Some(y)) => (id, x, y) }
      /** PipJoin.bruteForce polygon by polygon, `b.h >= p.t` applied when `extra`. */
      def brute(extra: Boolean): Set[String] = polys.collect { case Poly(fid, Some(r), Some(hs), h) =>
        PipJoin.bruteForce(xy.filter(q => !extra || h >= t(q._1)), Seq(PipKernelSpec.fp(fid, r, hs)))
      }.flatten.map { case (id, fid) => s"[$id,$fid]" }.toSet
      for (extra <- Seq(false, true); polysLeft <- Seq(false, true)) {
        val clue = s"seed $seed, extra conjunct $extra, polygons left $polysLeft"
        // st_covers itself: the shared session has no rule, so a nested loop
        val (p, b) = (pointRows(spark, pts, seed).as("p"), polyRows(spark, polys).as("b"))
        val nested = sortedRows(p.crossJoin(b)
          .where(GeoFunctions.st_covers(col("b.ring"), col("b.holes"), col("p.x"), col("p.y")) &&
            (if (extra) col("b.h") >= col("p.t") else lit(true)))
          .select("p.id", "b.fid"))
        val folded = sqlJoin(s, localPts, localPolys, extra, polysLeft)
        assert(isLocal(folded), s"$clue:\n${optimized(folded)}")
        val kernel = sqlJoin(s, filePts, localPolys, extra, polysLeft)
        assert(optimized(kernel).contains("pip_matches") && !optimized(kernel).contains("Join"),
          s"$clue:\n${optimized(kernel)}")
        val relational = sqlJoin(s, localPts, filePolys, extra, polysLeft)
        assert(optimized(relational).contains("hex_cover"), s"$clue:\n${optimized(relational)}")
        assert(sortedRows(kernel) === nested, s"$clue: ${diff(sortedRows(kernel), nested)}")
        assert(sortedRows(folded) === nested, s"$clue: ${diff(sortedRows(folded), nested)}")
        val cell = sortedRows(relational).filter(finite)
        assert(cell === nested.filter(finite), s"$clue: ${diff(cell, nested.filter(finite))}")
        assert(nested.filter(finite).toSet === brute(extra).filter(finite), clue)
        // the duplicated star yields duplicate rows; the NaN vertex covers points
        assert(nested.size > nested.toSet.size && nested.exists(!finite(_)), clue)
      }
    }
  }

  test("the kernel route's payload holds only the polygon columns the plan reads") {
    val s = enabled
    val polys = polygons(1)
    val pts = parquet(pointRows(s, probes(polys, 1), 1), "payload_pts")
    val q = sqlJoin(s, pts, polyRows(s, polys), extra = true, polysLeft = false)
    val types = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: PipMatchesExpr => e.dataType
    }))
    assert(types === Seq(ArrayType(new StructType().add("fid", StringType).add("h", DoubleType),
      containsNull = false)))
    // a query that reads no polygon column gets an empty payload struct
    val count = s.sql("SELECT count(*) FROM fold_pts p JOIN fold_polys b ON st_covers(b.ring, b.holes, p.x, p.y)")
    assert(optimized(count).contains("pip_matches"), optimized(count))
    val nested = pointRows(spark, probes(polys, 1), 1).as("p").crossJoin(polyRows(spark, polys).as("b"))
      .where(GeoFunctions.st_covers(col("b.ring"), col("b.holes"), col("p.x"), col("p.y"))).count()
    assert(count.head().getLong(0) === nested)
  }

  // ------------------------------------------------------------ kernel fold

  private lazy val centroids = PipKernelSpec.fps.map(f => (f.feature_id, f.centroid.x, f.centroid.y))

  /** PipKernelSpec's probes with payload columns and a null-x probe. */
  private def foldProbes(s: SparkSession): DataFrame = {
    val schema = new StructType().add("image_id", StringType).add("x", DoubleType).add("y", DoubleType)
      .add("payload", StringType).add("n", IntegerType)
    val rows = (PipKernelSpec.probes.map { case (id, x, y) => (id, Double.box(x), Double.box(y)) } :+
      (("null_x", null, Double.box(1.0)))).zipWithIndex.map { case ((id, x, y), i) =>
      Row(id, x, y, s"payload $i", i)
    }
    s.createDataFrame(rows.asJava, schema)
  }

  test("folded rows equal unfolded rows: pip, knn, outer and pos generators, pruned columns, enrich") {
    val pip = spark.sparkContext.broadcast(new PipIndex(PipKernelSpec.fps, PipJoin.DefaultRes))
    val knn = spark.sparkContext.broadcast(new KnnIndex(centroids, 3))
    val pipOf = GeoFunctionsImpl.pip_matches(col("x"), col("y"), pip)
    val knnOf = GeoFunctionsImpl.knn_matches(col("x"), col("y"), knn)
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "PipJoin.auto" -> (p => PipJoin.auto(p, PipKernelSpec.fps)),
      "PipJoin.auto, pruned child columns" -> (p => PipJoin.auto(p, PipKernelSpec.fps).select("n", "feature_id")),
      "KnnJoin.broadcastGrid, k = 3" -> (p => KnnJoin.broadcastGrid(p.withColumnRenamed("image_id", "probe_id"),
        centroids, 3)),
      "explode_outer(pip_matches)" -> (p => p.select(col("image_id"), explode_outer(pipOf))),
      "posexplode(pip_matches)" -> (p => p.select(col("n"), posexplode(pipOf))),
      "posexplode_outer(knn_matches)" -> (p => p.select(col("image_id"), posexplode_outer(knnOf))),
      "inline_outer(knn_matches)" -> (p => p.select(col("payload"), inline_outer(knnOf))),
      "Pipeline.enrich" -> (p => Pipeline.enrich(p, PipKernelSpec.fps)))
    cases.foreach { case (name, query) =>
      val unfolded = query(foldProbes(spark))
      val folded = query(foldProbes(enabled))
      assert(!isLocal(unfolded), s"$name is folded without the rule")
      assert(isLocal(folded), s"$name:\n${optimized(folded)}")
      assert(folded.schema === unfolded.schema, name)
      assert(sortedRows(folded) === sortedRows(unfolded), name)
    }
    // k rows per probe, ranked 1..k; a null point gives one null row under _outer
    val ranks = KnnJoin.broadcastGrid(foldProbes(enabled).withColumnRenamed("image_id", "probe_id")
      .where(col("x").isNotNull), centroids, 3).groupBy("probe_id").agg(sort_array(collect_list("rnk")))
      .collect().map(_.getSeq[Int](1))
    assert(ranks.nonEmpty && ranks.forall(_ === Seq(1, 2, 3)))
    val outer = foldProbes(enabled).where(col("image_id") === "null_x")
      .select(explode_outer(pipOf)).collect()
    assert(outer.toSeq === Seq(Row(null)))
  }

  test("in an extension session local 1000-probe pip, knn and sqljoin run no Spark job; tile runs one") {
    val city = PipKernelSpec.city(2000)
    val cityCentroids = city.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    val rnd = new Random(5)
    val batch = Seq.fill(1000)((s"q${rnd.nextInt()}", rnd.nextDouble() * 4020 - 20, rnd.nextDouble() * 820 - 20))
    /** (jobs, rows) per query kind; `sql` adds the SQL join, which needs the
      * extensions' functions. */
    def jobs(s: SparkSession, sql: Boolean): Map[String, (Int, Int)] = {
      import s.implicits._
      def probes = batch.toDF("probe_id", "x", "y")
      val cityDs = s.createDataset(city)
      cityDs.select(col("feature_id").as("fid"), col("ring"), col("holes")).createOrReplaceTempView("jobs_bldg")
      probes.createOrReplaceTempView("jobs_probes")
      def run(q: => DataFrame): (Int, Int) = {
        val (rows, n) = TestSpark.jobsRunBy(q.collect())
        (n, rows.length)
      }
      Map(
        "pip" -> run(PipJoin.auto(probes, city).select("probe_id", "feature_id")),
        "knn" -> run(KnnJoin.broadcastGrid(probes, cityCentroids, 5)),
        "tile" -> run(TileAssign.assign(probes, cityDs, Seq(16, 18))
          .select("probe_id", "zoom", "tile_id", "feature_id"))) ++
        (if (sql) Map("sqljoin" -> run(s.sql("SELECT p.probe_id, b.fid FROM jobs_probes p, jobs_bldg b " +
          "WHERE st_covers(b.ring, b.holes, p.x, p.y)"))) else Map.empty)
    }
    val plain = jobs(spark, sql = false)
    assert(plain.values.forall(_._1 >= 1), s"without the rules every query runs a job: $plain")
    assert(plain("pip")._2 > 0 && plain("knn")._2 === 5000)
    Seq(jobs(enabled, sql = true), withExtensionSession(jobs(_, sql = true))).foreach { got =>
      Seq("pip", "knn", "sqljoin").foreach(k => assert(got(k)._1 === 0, s"$k: $got"))
      assert(got("tile")._1 >= 1, s"tile: $got")
      assert(got.map { case (k, (_, rows)) => k -> rows } ===
        (plain + ("sqljoin" -> plain("pip"))).map { case (k, (_, rows)) => k -> rows })
    }
  }

  test("streaming and nondeterministic inputs are not folded; plans without a Generate are not walked") {
    val pip = spark.sparkContext.broadcast(new PipIndex(PipKernelSpec.fps, PipJoin.DefaultRes))
    val (x, y) = (AttributeReference("x", DoubleType)(), AttributeReference("y", DoubleType)())
    val f = AttributeReference("f", StringType)()
    val data = Seq(InternalRow(0.0, 0.0), InternalRow(1000.0, 1000.0))
    val stream = Generate(Explode(PipMatchesExpr(x, y, pip)), Nil, outer = false, None, Seq(f),
      LocalRelation(Seq(x, y), data, isStreaming = true))
    assert(LocalKernelFold(stream) eq stream)
    val batch = stream.copy(child = LocalRelation(Seq(x, y), data))
    LocalKernelFold(batch) match {
      case lr: LocalRelation => assert(lr.output === batch.output && lr.data.size === 3) // star + two dups
      case other => fail(s"not folded: $other")
    }
    val plain = Project(Seq(x), LocalRelation(Seq(x, y), data))
    assert(LocalKernelFold(plain) eq plain)

    val pts = foldProbes(enabled)
    val random = pts.select(col("image_id"),
      explode(GeoFunctionsImpl.pip_matches(col("x") + rand() * 0.0, col("y"), pip)))
    assert(optimized(random).contains("Generate"), optimized(random))
    val (rows, jobs) = TestSpark.jobsRunBy(random.collect())
    assert(jobs >= 1)
    assert(rows.map(_.toString).sorted.toSeq ===
      sortedRows(pts.select(col("image_id"), explode(GeoFunctionsImpl.pip_matches(col("x"), col("y"), pip)))))
  }
}
