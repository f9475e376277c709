package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Geom
import graft.core.Geom.Pt
import graft.functions.GeoFunctions._
import graft.model.Footprint

/**
 * Filter–refine point-in-polygon spatial join (the engine's flagship operator;
 * BASELINE.json north_star).
 *
 * Replaces the reference's per-partition R*-tree + AABB walk
 * (`CityGMLV2DB.java:211-231`, `Neo4jDB.java:373-385`) with index-as-data:
 *
 *   polygons --hex_cover(res)--> (cell, polygon)        [small side]
 *   points   --hex_encode(res)--> cell                  [10^12-row side, codegen]
 *   equi-join on cell  (broadcast | salted shuffle)     [Catalyst picks exec]
 *   refine: st_covers_ring(ring, x, y)                  [exact, boundary-incl.]
 *
 * The big side never shuffles on the broadcast path; the refine predicate is a
 * Column expression so Catalyst keeps the filter adjacent to the join, and the
 * cell-encode stays inside whole-stage codegen.
 *
 * Skew: dense urban cells concentrate points on few cell keys. `salted` spreads
 * each polygon-cell key over `salts` buckets and routes each point to ONE
 * deterministic bucket — row-set-preserving (property-tested) while dividing
 * the max reducer load by `salts`. AQE skew-split remains on as backstop.
 */
object PipJoin {

  val DefaultRes = 11 // hex edge ≈ 25 m — sized to the building-footprint scale

  /** [[auto]]'s default routing thresholds, in total polygon vertices. */
  val DefaultExprVertexLimit = 1000000
  val DefaultBroadcastVertexLimit = 5000000

  /** Small-side build: one row per (cell, polygon) at `res`. */
  def polygonCells(polys: Dataset[Footprint], res: Int): DataFrame =
    polys
      .withColumn("cell", explode(hex_cover(col("ring"), lit(res))))
      .select(col("cell"), col("feature_id"), col("ring"), col("holes"))

  /**
   * Broadcast path: polygon side small enough to ship to every executor.
   * Points DataFrame must carry (x, y) columns; all its columns are kept.
   */
  def broadcastJoin(points: DataFrame, polys: Dataset[Footprint], res: Int = DefaultRes): DataFrame = {
    val cands = polygonCells(polys, res)
    val pts = points.withColumn("cell", hex_encode(col("x"), col("y"), lit(res)))
    pts.join(broadcast(cands), Seq("cell"))
      .where(refinePredicate)
      .drop("cell", "ring", "holes")
  }

  /**
   * Shuffle (sort-merge/shuffled-hash) path with deterministic salting for the
   * huge-polygon-side case: points pick bucket = hash(point key) % salts; each
   * (cell, polygon) pair is replicated across all `salts` buckets, so every
   * point still meets every candidate polygon exactly once.
   */
  def saltedJoin(points: DataFrame, polys: Dataset[Footprint],
                 res: Int = DefaultRes, salts: Int = 8): DataFrame = {
    val cands = polygonCells(polys, res)
      .withColumn("salt", explode(lit((0 until salts).toArray)))
    val pts = points
      .withColumn("cell", hex_encode(col("x"), col("y"), lit(res)))
      .withColumn("salt", pmod(hash(col("x"), col("y")), lit(salts)))
    pts.hint("merge")
      .join(cands, Seq("cell", "salt"))
      .where(refinePredicate)
      .drop("cell", "salt", "ring", "holes")
  }

  private def refinePredicate: Column =
    st_covers(col("ring"), col("holes"), col("x"), col("y"))

  /**
   * Fully-codegen expression path: no join operator at all — the polygon
   * index ships once per executor as a broadcast ([[PlanIndex]]) and the
   * scan-side generated code calls it per row (see PipMatchesExpr). Fastest
   * variant up to ~1M polygon vertices; output rows identical to
   * broadcastJoin.
   */
  def exprJoin(points: DataFrame, polys: Seq[Footprint], res: Int = DefaultRes): DataFrame = {
    val index = PlanIndex.broadcast(points, new PipIndex(polys, res))
    points.withColumn("feature_id",
      explode(org.apache.spark.sql.graft.GeoFunctionsImpl.pip_matches(col("x"), col("y"), index)))
  }

  /**
   * Physical-path auto-selection by total polygon vertices: the broadcast
   * index with the codegen expr path (fastest, join-free) up to `exprLimit`
   * (default 1M — it beat broadcastJoin 2–5× on 1000-probe queries and
   * 2M-point scans at 112k, 560k and 1.12M vertices); the broadcast
   * cell-join up to `broadcastLimit` (default 5M);
   * the salted shuffle join otherwise (huge or heavily-skewed polygon side).
   * Mirrors what a planner strategy would choose from statistics.
   */
  def auto(points: DataFrame, polys: Seq[Footprint], res: Int = DefaultRes,
           exprLimit: Int = DefaultExprVertexLimit,
           broadcastLimit: Int = DefaultBroadcastVertexLimit): DataFrame = {
    val vertices = polys.iterator.map(f => f.ring.size + f.holes.map(_.size).sum).sum
    if (vertices <= exprLimit) exprJoin(points, polys, res)
    else {
      val spark = points.sparkSession
      import spark.implicits._
      val ds = spark.createDataset(polys)
      if (vertices <= broadcastLimit) broadcastJoin(points, ds, res)
      else saltedJoin(points, ds, res)
    }
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
