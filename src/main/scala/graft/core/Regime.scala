package graft.core

import org.apache.spark.sql.Dataset

/** Bounded size probes for the `auto` routers: one place for the
  * "collect it if it is small" pattern the driver-side fast paths share. */
object Regime {

  /** `ds`'s rows when it has at most `limit` of them, else `None`. ONE
    * `limit(limit + 1)` collect serves as both the size probe and the small
    * path's input — O(limit) even on a huge input, where a `count()` then
    * `collect()` would run the lineage twice. `limit ≤ 0` runs no job and
    * returns `None` (the "0 disables" contract of the threshold confs); the
    * `+ 1` is clamped to the Int range `Dataset.limit` takes. */
  def collectUpTo[T](ds: Dataset[T], limit: Long): Option[Array[T]] =
    if (limit <= 0) None
    else {
      val rows = ds.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length <= limit) Some(rows) else None
    }
}
