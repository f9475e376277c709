package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Geom
import graft.core.Geom.Pt
import graft.model.Footprint

/**
 * Filter–refine point-in-polygon spatial join (the engine's flagship operator;
 * BASELINE.json north_star).
 *
 * Replaces the reference's per-partition R*-tree + AABB walk
 * (`CityGMLV2DB.java:211-231`, `Neo4jDB.java:373-385`) with one map-only
 * codegen kernel over a broadcast index:
 *
 *   polygons --hex cover(res)--> PipIndex: cell → polygon ordinals  [driver, once]
 *   PipIndex --PlanIndex.broadcast--> one instance per executor
 *   points   --pip_matches(x, y)--> hex encode, bucket probe,       [10^12-row side]
 *            exact boundary-inclusive refine, matched feature ids
 *
 * There is no join operator and no shuffle: the point side streams through
 * one whole-stage-codegen projection, and a hot cell costs its points one
 * bucket probe each rather than one reducer. The index is flat primitive
 * arrays, smaller than the `Seq[Footprint]` the driver already holds, so no
 * polygon-side size needs another path (measured up to 5M vertices).
 *
 * The index is built and broadcast once per polygon `Seq` object and `res`
 * ([[PlanIndex.shared]]): repeated queries against one unchanged city reuse
 * one handle for as long as the caller holds that `Seq`.
 */
object PipJoin {

  val DefaultRes = 11 // hex edge ≈ 25 m — sized to the building-footprint scale

  /**
   * Points DataFrame must carry (x, y) columns; all its columns are kept, and
   * each point yields one row per covering polygon (duplicate ids kept) with
   * its `feature_id`. `res` must be a valid hex resolution; the index checks
   * it on the driver.
   */
  def auto(points: DataFrame, polys: Seq[Footprint], res: Int = DefaultRes): DataFrame = {
    val index = PlanIndex.shared(points, polys, "pip", res)(
      PlanIndex.broadcast(points, new PipIndex(polys, res)))
    points.withColumn("feature_id",
      explode(org.apache.spark.sql.graft.GeoFunctionsImpl.pip_matches(col("x"), col("y"), index)))
  }

  /** Driver-side brute-force oracle for tests (O(n·m), small scale only). */
  def bruteForce(points: Seq[(String, Double, Double)],
                 polys: Seq[Footprint]): Set[(String, String)] = {
    val prepared = polys.map { f =>
      val ring = f.ring.map(p => Pt(p.x, p.y)).toArray
      val holes = f.holes.map(_.map(p => Pt(p.x, p.y)).toArray).toArray
      (f.feature_id, Geom.Polygon(ring, holes))
    }
    (for {
      (id, x, y) <- points
      (fid, poly) <- prepared
      if poly.covers(x, y)
    } yield (id, fid)).toSet
  }
}
