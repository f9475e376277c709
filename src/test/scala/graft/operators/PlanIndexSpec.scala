package graft.operators

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.util.Collections

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{KnnMatchesExpr, PipMatchesExpr, SetbackNearestExpr, TileMatchesExpr}

import graft.TestSpark

/**
 * Shipping of the map-only kernels' indexes: each expression carries only
 * the broadcast handle (a few hundred bytes however large the index), and
 * every task on an executor resolves it to one shared instance.
 */
class PlanIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private lazy val city = PipKernelSpec.city(7000)

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
}

object PlanIndexSpec {
  /** Index instances the tasks saw, by identity (tasks share the test JVM). */
  val seen: java.util.Set[AnyRef] =
    Collections.synchronizedSet(Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))
}
