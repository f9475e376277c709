package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
 *  - tile contents join = equi-join on tile_id — broadcastable per zoom;
 *  - top-k images per tile = row_number window (deterministic tie-break).
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

  /** images ⋈ features per tile (the raster↔vector assignment). Routes
    * through [[auto]]: broadcast only when the exploded feature-tile side is
    * provably bounded — features × zooms × cover-tiles can exceed any
    * broadcast budget even when the feature TABLE looks small. */
  def assign(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int]): DataFrame =
    auto(points, fps, zooms)

  /** Broadcast path: feature-tile side ships to every executor; the point
    * side never shuffles. */
  def assignBroadcast(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int]): DataFrame =
    pointTiles(points, zooms)
      .join(broadcast(featureTiles(fps, zooms)), Seq("zoom", "tile_id"))

  /** Shuffle (sort-merge) path for an unbounded feature-tile side: plain
    * equi-join on (zoom, tile_id) — both sides shuffle on the tile key, no
    * executor holds the whole feature pyramid. */
  def assignShuffle(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int]): DataFrame =
    pointTiles(points, zooms)
      .hint("merge")
      .join(featureTiles(fps, zooms), Seq("zoom", "tile_id"))

  /**
   * Physical-path auto-selection (same treatment as [[PipJoin.auto]]): count
   * the exploded feature-tile rows with one small-side pass (the point side
   * is untouched) and broadcast only under `broadcastLimit`; otherwise take
   * the shuffle join.
   */
  def auto(points: DataFrame, fps: Dataset[Footprint], zooms: Seq[Int],
           broadcastLimit: Long = 2000000L): DataFrame = {
    // size the exploded side WITHOUT materializing it: the exploded row
    // count is exactly Σ per-feature cover sizes, computable as one narrow
    // aggregation over array lengths. No cache — the previous form cached
    // the full explode for the sizing count, which pinned a multi-million-
    // row relation for the session precisely when the side was too big to
    // broadcast; each branch's join now computes the explode exactly once.
    val cnt = if (zooms.isEmpty) 0L
      else {
        val row = fps.toDF().select(
          // coalesce: sum over ZERO rows (empty footprint set) is null, and
          // head().getLong would NPE — degenerate inputs must size to 0 and
          // fall through to an empty join, like the pre-sizing form did
          coalesce(zooms.map(z => sum(size(graft.functions.GeoFunctions.tile_cover(
            col("env"), lit(z)))).cast("long")).reduce(_ + _), lit(0L)).as("n"))
          .head()
        row.getLong(0)
      }
    if (cnt <= broadcastLimit) assignBroadcast(points, fps, zooms)
    else assignShuffle(points, fps, zooms)
  }

  /** Deterministic top-k rows per (zoom, tile). */
  def topKPerTile(pointTiles: DataFrame, k: Int, orderCol: String): DataFrame = {
    val w = Window.partitionBy("zoom", "tile_id").orderBy(col(orderCol))
    pointTiles.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Driver-side oracle for featureTiles. */
  def bruteForceFeatureTiles(fps: Seq[Footprint], zooms: Seq[Int]): Set[(String, Int, Long)] =
    (for {
      f <- fps
      z <- zooms
      t <- graft.core.Tiles.coverRect(f.env.minx, f.env.miny, f.env.maxx, f.env.maxy, z)
    } yield (f.feature_id, z, graft.core.Tiles.pack(t))).toSet
}
