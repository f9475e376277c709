package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.GeoFunctionsImpl.tile_matches
import graft.functions.GeoFunctions._
import graft.model.Footprint

/**
 * Raster-tile ↔ vector-feature assignment for WMTS pyramid levels
 * (BASELINE.json north_star). The reference has no raster side; its analog is
 * the R-tree spatial partitioning of features (`CityKGDB.java:42-53`) — here
 * the tile id is a data column, so the "pyramid" is a family of cluster keys.
 *
 *  - feature → all tiles its envelope touches, per zoom (tile_cover expression,
 *    touching-inclusive like the reference bbox test, Neo4jDB.java:378-380);
 *  - point/image → its containing tile (tile_of, codegen'd);
 *  - tile contents = the features whose cover holds the point's tile: a
 *    map-only probe of the broadcast [[TileIndex]] while the exploded
 *    feature-tile side fits the broadcast budget, else an equi-join on
 *    (zoom, tile_id) with both sides shuffled.
 */
object TileAssign {

  /** (feature_id, zoom, tile_id) for every pyramid level in `zooms`. */
  def featureTiles(fps: Dataset[Footprint], zooms: Seq[Int]): DataFrame =
    fps.toDF()
      .withColumn("zoom", explode(lit(zooms.toArray)))
      .withColumn("tile_id", explode(tile_cover(col("env"), col("zoom"))))
      .select("feature_id", "partition_id", "zoom", "tile_id")

  /** points (.. x, y ..) → containing tile at each zoom. */
  def pointTiles(points: DataFrame, zooms: Seq[Int]): DataFrame =
    points
      .withColumn("zoom", explode(lit(zooms.toArray)))
      .withColumn("tile_id", tile_of(col("x"), col("y"), col("zoom")))

  /** images ⋈ features per tile (the raster↔vector assignment), routed by
    * [[auto]]. Rows: `zoom, tile_id, <point columns>, feature_id,
    * partition_id`, one per (point, zoom, feature-tile) match. */
  def assign(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int]): DataFrame =
    auto(points, fps, zooms)

  /** Shuffle (sort-merge) path for an unbounded feature-tile side: plain
    * equi-join on (zoom, tile_id) — both sides shuffle on the tile key, no
    * executor holds the whole feature pyramid. */
  def assignShuffle(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int]): DataFrame =
    pointTiles(points, zooms)
      .hint("merge")
      .join(featureTiles(fps, zooms), Seq("zoom", "tile_id"))

  /**
   * Physical-path auto-selection (same treatment as [[Setback.auto]]): ONE
   * bounded collect of the features is both the size probe and the index
   * input. A feature with a valid envelope covers at least one tile per
   * zoom, so more than `broadcastLimit / zooms.size` features cannot fit
   * (the few with an empty cover only lean toward the exact shuffle path);
   * the exploded size is then Σ [[graft.core.Tiles.coverCount]] on the
   * driver. Within the limit the [[TileIndex]] ships once per executor and
   * one codegen `tile_matches` probe per point tile replaces the join — no
   * join, no exchange, the same rows, columns and duplicates as
   * [[assignShuffle]], which runs otherwise. A local footprint Dataset
   * collects without a job; empty `zooms` runs none and gives no rows.
   *
   * The decision — the broadcast index, or "above the limit" — is memoized
   * per `fps` object, `zooms` and `broadcastLimit` when `fps` is a
   * deterministic plan over local rows ([[PlanIndex.sharedRows]]): repeated
   * calls then neither collect nor build. A file- or range-backed `fps` is
   * probed on every call.
   */
  def auto(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int],
           broadcastLimit: Long = 2000000L): DataFrame = {
    PlanIndex.sharedRows(points, fps, "tile", zooms, broadcastLimit) {
      val features = if (zooms.isEmpty) Some(Array.empty[TileIndex.Feature])
        else graft.core.Regime.collectUpTo(fps.select("feature_id", "partition_id", "env")
          .as(TileIndex.featureEncoder), broadcastLimit / zooms.size)
      features.map(new TileIndex(_, zooms)).filter(_.size <= broadcastLimit)
        .map(PlanIndex.broadcast(points, _))
    } match {
      case Some(index) =>
        val pts = pointTiles(points, zooms)
        val keys = Seq("zoom", "tile_id")
        val cols = (keys ++ pts.columns.filterNot(keys.contains)).map(c => col(s"`${c.replace("`", "``")}`"))
        pts.select(cols :+ inline(tile_matches(col("tile_id"), index)): _*)
      case None => assignShuffle(points, fps, zooms)
    }
  }

  /** Driver-side oracle for featureTiles. */
  def bruteForceFeatureTiles(fps: Seq[Footprint], zooms: Seq[Int]): Set[(String, Int, Long)] =
    (for {
      f <- fps
      z <- zooms
      t <- graft.core.Tiles.coverRect(f.env.minx, f.env.miny, f.env.maxx, f.env.maxy, z)
    } yield (f.feature_id, z, graft.core.Tiles.pack(t))).toSet
}
