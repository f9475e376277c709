package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellBuckets, Tiles}
import graft.model.Env6

/**
 * Feature-tile index for the map-only tile assignment ([[TileAssign.auto]]),
 * shipped like [[PipIndex]]: once per executor as a Spark broadcast
 * ([[PlanIndex]]); the `tile_matches` expression holds only the handle and
 * every task on an executor probes the one shared instance.
 *
 * Holds the features as flat arrays (`feature_id`, `partition_id`, envelope
 * corners) and, built lazily once per executor, a [[CellBuckets]] table from
 * each packed tile id ([[Tiles.pack]]) to the features whose envelope touches
 * that tile at one of `zooms` — [[Tiles.coverRect]], exactly the cover
 * `tile_cover` explodes. The zoom is part of the packed id, so one table
 * serves every zoom. A zoom listed twice lists each feature twice, as the
 * twice-exploded feature-tile relation does.
 *
 * `matches(tile)` returns that tile's `array<struct<feature_id,
 * partition_id>>` in feature-row order (duplicate rows and ids kept): one
 * array per bucket, built with the table and shared read-only, over one
 * struct per feature; a miss returns a shared empty array. The probe path
 * allocates nothing.
 */
final class TileIndex(features: Seq[TileIndex.Feature], zooms: Seq[Int]) extends Serializable {

  private val fids: Array[UTF8String] = features.map(f => UTF8String.fromString(f._1)).toArray
  private val pids: Array[Int] = features.map(_._2).toArray
  private val minx = TileIndex.corner(features, _.minx)
  private val miny = TileIndex.corner(features, _.miny)
  private val maxx = TileIndex.corner(features, _.maxx)
  private val maxy = TileIndex.corner(features, _.maxy)
  private val zs: Array[Int] = zooms.toArray

  /** Feature-tile pairs held: the exploded `featureTiles` row count. */
  val size: Long = fids.indices.iterator.map(i =>
    zs.iterator.map(z => Tiles.coverCount(minx(i), miny(i), maxx(i), maxy(i), z)).sum).sum

  @transient private[operators] lazy val buckets: CellBuckets =
    CellBuckets.build(Array.tabulate(fids.length)(i =>
      zs.flatMap(z => Tiles.coverRect(minx(i), miny(i), maxx(i), maxy(i), z).map(Tiles.pack))))

  @transient private lazy val matched: Array[ArrayData] = {
    val rows = Array.tabulate[Any](fids.length)(i =>
      new GenericInternalRow(Array[Any](fids(i), pids(i))))
    buckets.mapBuckets[ArrayData](b => new GenericArrayData(b.map(rows)))
  }

  private val EmptyArray = new GenericArrayData(new Array[Any](0))

  /** Features whose cover holds the packed `tile` (shared empty array on miss). */
  def matches(tile: Long): ArrayData = {
    val s = buckets.slot(tile)
    if (s < 0) EmptyArray else matched(s)
  }
}

object TileIndex {
  /** One input feature: (feature_id, partition_id, envelope). */
  type Feature = (String, Int, Env6)
  val featureEncoder: Encoder[Feature] =
    Encoders.tuple(Encoders.STRING, Encoders.scalaInt, Encoders.product[Env6])

  /** One envelope corner per feature; NaN for a null envelope, which then
    * covers no tile (as `tile_cover` of a null envelope returns null). */
  private def corner(features: Seq[Feature], c: Env6 => Double): Array[Double] =
    features.map(f => if (f._3 == null) Double.NaN else c(f._3)).toArray
}
