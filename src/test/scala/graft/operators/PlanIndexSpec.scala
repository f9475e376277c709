package graft.operators

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.lang.ref.WeakReference
import java.nio.file.Files
import java.util.Collections

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{KnnMatchesExpr, PipMatchesExpr, SetbackNearestExpr, TileMatchesExpr}

import graft.TestSpark
import graft.app.Pipeline
import graft.model.Footprint

/**
 * Shipping of the map-only kernels' indexes: each expression carries only
 * the broadcast handle (a few hundred bytes however large the index), and
 * every task on an executor resolves it to one shared instance. Reuse: one
 * handle per input object and parameters ([[PlanIndex.shared]]), for as
 * long as that input and its SparkContext live, and only for inputs whose
 * rows cannot change. The last case stops the shared session.
 */
class PlanIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  // a def: the last case restarts the session
  def spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private lazy val city = PipKernelSpec.city(7000)
  private lazy val centroids = city.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
  private lazy val cityDs = { val s = spark; import s.implicits._; city.toDS() }
  private lazy val localRings = PlanIndexSpec.ringsOf(spark, city)
  private val zooms = Seq(16, 18)

  private def points(parts: Int): DataFrame = spark.range(0, 1600, 1, parts).select(
    col("id").cast("string").as("image_id"), col("id").as("event_id"),
    col("id").cast("string").as("probe_id"),
    ((col("id") % 100) * 40.0 + 1.0).as("x"), ((col("id") / 100).cast("int") * 40.0).as("y"))

  /** The executed plan's expressions matching `pf`, after running it. */
  private def executed[T](df: DataFrame)(pf: PartialFunction[Expression, T]): Seq[T] = {
    df.write.format("noop").mode("overwrite").save()
    collect(df.queryExecution.executedPlan)(p => p.expressions.flatMap(_.collect(pf)))
      .flatten
  }

  /** Java-serialized bytes `o` adds to a stream that already holds `prior`:
    * an expression's own payload without its input attributes' ~1.6 KB of
    * class descriptors each. */
  private def ownBytes(o: AnyRef, prior: AnyRef*): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    prior.foreach(out.writeObject)
    out.flush()
    val before = bytes.size()
    out.writeObject(o)
    out.close()
    bytes.size() - before
  }

  private def tiles(pts: DataFrame): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    TileAssign.auto(pts, city.toDS(), Seq(16, 18))
  }

  test("pip_matches, knn_matches, setback_nearest and tile_matches carry < 2 KB at 7000 features") {
    val pts = points(4)
    val pip = executed(PipJoin.auto(pts, city)) { case e: PipMatchesExpr => e }
    val knn = executed(KnnJoin.broadcastGrid(pts,
      city.map(f => (f.feature_id, f.centroid.x, f.centroid.y)), k = 3)) {
      case e: KnnMatchesExpr => e
    }
    val ringIndex = new SetbackIndex(city.map(f => (f.feature_id,
      f.ring.map(_.x).toArray, f.ring.map(_.y).toArray)))
    val setback = executed(Setback.indexed(pts, ringIndex)) { case e: SetbackNearestExpr => e }
    val tile = executed(tiles(pts)) { case e: TileMatchesExpr => e }
    Seq("pip_matches" -> pip, "knn_matches" -> knn, "setback_nearest" -> setback,
      "tile_matches" -> tile).foreach {
      case (name, es) =>
        assert(es.size === 1, s"$name must be in the executed plan")
        val size = ownBytes(es.head, es.head.children: _*)
        assert(size < 2048, s"$name serializes to $size bytes: it must carry only the handle")
    }
    // the index itself is the ~2 MB the handle replaces
    assert(ownBytes(pip.head.bc.value) > 1000000)
  }

  /** Broadcast ids of the executed plan's index handles, in plan order. */
  private def ids(df: DataFrame): Seq[Long] = executed(df) {
    case e: PipMatchesExpr => e.bc.id
    case e: KnnMatchesExpr => e.bc.id
    case e: SetbackNearestExpr => e.bc.id
    case e: TileMatchesExpr => e.bc.id
  }

  private def withRingLimit[T](limit: Int)(body: => T): T = {
    spark.conf.set(Setback.BroadcastRingLimitConf, limit.toString)
    try body finally spark.conf.unset(Setback.BroadcastRingLimitConf)
  }

  test("two calls on one input share one broadcast: each kernel and Pipeline.enrich") {
    val pts = points(2)
    Seq[(String, () => DataFrame)](
      "pip_matches" -> (() => PipJoin.auto(pts, city)),
      "knn_matches" -> (() => KnnJoin.broadcastGrid(pts, centroids, k = 3)),
      "setback_nearest" -> (() => Setback.auto(pts, localRings)),
      "tile_matches" -> (() => TileAssign.auto(pts, cityDs, zooms)),
      "Pipeline.enrich" -> (() => Pipeline.enrich(pts, city))).foreach { case (name, query) =>
      val first = ids(query())
      assert(first.size === (if (name == "Pipeline.enrich") 2 else 1), name)
      assert(ids(query()) === first, s"$name: a second call must reuse the handle")
    }
  }

  test("a changed parameter gets a new broadcast: res, k, zooms, broadcastLimit, ring limit") {
    val pts = points(2)
    def differ(name: String, a: => DataFrame, b: => DataFrame): Unit = {
      val (first, second) = (ids(a), ids(b))
      assert(first.nonEmpty && second.nonEmpty && first.intersect(second).isEmpty, name)
    }
    differ("res", PipJoin.auto(pts, city), PipJoin.auto(pts, city, res = 10))
    differ("k", KnnJoin.broadcastGrid(pts, centroids, k = 3), KnnJoin.broadcastGrid(pts, centroids, k = 4))
    differ("zooms", TileAssign.auto(pts, cityDs, zooms), TileAssign.auto(pts, cityDs, Seq(16)))
    differ("broadcastLimit", TileAssign.auto(pts, cityDs, zooms),
      TileAssign.auto(pts, cityDs, zooms, broadcastLimit = 1999999L))
    differ("ring limit", Setback.auto(pts, localRings),
      withRingLimit(Setback.DefaultRingLimit - 1)(Setback.auto(pts, localRings)))
  }

  test("a new but equal input gets a new broadcast") {
    val pts = points(2)
    val s = spark
    import s.implicits._
    Seq[(String, () => DataFrame, () => DataFrame)](
      ("pip_matches", () => PipJoin.auto(pts, city), () => PipJoin.auto(pts, city.map(identity))),
      ("knn_matches", () => KnnJoin.broadcastGrid(pts, centroids, k = 3),
        () => KnnJoin.broadcastGrid(pts, centroids.map(identity), k = 3)),
      ("setback_nearest", () => Setback.auto(pts, localRings), () => Setback.auto(pts, localRings.toDF())),
      ("tile_matches", () => TileAssign.auto(pts, cityDs, zooms), () => TileAssign.auto(pts, city.toDS(), zooms)),
      ("Pipeline.enrich", () => Pipeline.enrich(pts, city), () => Pipeline.enrich(pts, city.map(identity)))
    ).foreach { case (name, same, equal) =>
      assert(ids(same()).intersect(ids(equal())).isEmpty, name)
    }
  }

  test("parquet-backed rings and footprints are collected and broadcast on every call") {
    val pts = points(2)
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("plan-index-spec")
    try {
      localRings.write.parquet(dir.resolve("rings").toString)
      cityDs.write.parquet(dir.resolve("fps").toString)
      val rings = spark.read.parquet(dir.resolve("rings").toString)
      val fps = spark.read.parquet(dir.resolve("fps").toString).as[Footprint]
      for (query <- Seq(() => Setback.auto(pts, rings), () => TileAssign.auto(pts, fps, zooms))) {
        val first = ids(query())
        assert(first.size === 1 && ids(query()).intersect(first).isEmpty)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Runs `PipJoin.auto` on a fresh copy of the city that only this call
    * holds; a weak reference to that copy. */
  private def queryDroppedCity(pts: DataFrame): WeakReference[Seq[Footprint]] = {
    val copy = city.map(identity)
    assert(ids(PipJoin.auto(pts, copy)).size === 1)
    new WeakReference(copy)
  }

  test("an input the caller drops leaves no memo entry after a bounded GC loop") {
    def gcUntil(done: => Boolean): Unit = {
      var rounds = 0
      while (!done && rounds < 50) { System.gc(); Thread.sleep(20); rounds += 1 }
    }
    // first let the entries of inputs that earlier cases dropped go
    var last = -1
    gcUntil { val now = PlanIndex.entryCount; try now == last finally last = now }
    val before = PlanIndex.entryCount
    val dropped = queryDroppedCity(points(2))
    assert(PlanIndex.entryCount === before + 1, "the call adds one entry")
    gcUntil(dropped.get == null && PlanIndex.entryCount == before)
    assert(dropped.get == null, "the memo must not keep its input alive")
    assert(PlanIndex.entryCount === before, "the dropped input's entry must go")
  }

  test("all 16 tasks of a 16-partition scan share the driver's index instance (local mode)") {
    val pts = points(16)
    val pip = PipJoin.auto(pts, city)
    val tile = tiles(pts)
    Seq(pip -> executed(pip) { case e: PipMatchesExpr => e.bc },
      tile -> executed(tile) { case e: TileMatchesExpr => e.bc }).foreach { case (df, bcs) =>
      val bc: Broadcast[_] = bcs.head
      val seen = PlanIndexSpec.seen
      seen.clear()
      // each task deserializes its own copy of the handle, as a scan task does
      val tasks = df.queryExecution.executedPlan.execute().mapPartitions { it =>
        it.foreach(_ => ())
        PlanIndexSpec.seen.add(bc.value.asInstanceOf[AnyRef])
        Iterator(1)
      }.collect()
      assert(tasks.length === 16)
      assert(seen.size === 1, "every task must resolve the same index instance")
      assert(seen.iterator().next() eq bc.value.asInstanceOf[AnyRef], "local mode: the driver's own object")
    }
  }

  // stops the shared session: keep it last
  test("after a SparkSession restart no handle from the stopped context comes back") {
    val old = spark
    val stale = executed(PipJoin.auto(points(2), city)) { case e: PipMatchesExpr => e.bc }.head
    old.stop()
    assert(spark.sparkContext ne old.sparkContext)
    val s = spark
    import s.implicits._
    val probes = Seq(("in", 0.0, 0.0), ("out", 20.0, 20.0))
    val df = PipJoin.auto(probes.toDF("image_id", "x", "y"), city)
    val fresh = executed(df) { case e: PipMatchesExpr => e.bc }.head
    assert(fresh ne stale, "a handle of the stopped context must not come back")
    assert(df.select("image_id", "feature_id").as[(String, String)].collect().toSet ===
      PipJoin.bruteForce(probes, city))
  }
}

object PlanIndexSpec {
  /** (fid, xs, ys) rings of `fps` as a DataFrame over local rows. */
  def ringsOf(spark: org.apache.spark.sql.SparkSession, fps: Seq[Footprint]): DataFrame = {
    import spark.implicits._
    fps.map(f => (f.feature_id, f.ring.map(_.x), f.ring.map(_.y))).toDF("fid", "xs", "ys")
  }

  /** Index instances the tasks saw, by identity (tasks share the test JVM). */
  val seen: java.util.Set[AnyRef] =
    Collections.synchronizedSet(Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))
}
