package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Backward as-of join: each left row is matched to the right row with the
 * greatest timestamp ≤ the left timestamp within the same key (inclusive,
 * like DuckDB/kdb ASOF). Spark has no native operator for this; the naive
 * range-join + per-row top-1 is a candidate explosion. This is the standard
 * scalable formulation instead:
 *
 *   union both sides tagged (right=0, left=1)
 *   → ONE shuffle on the key
 *   → per-key sorted sweep: `last(right_payload, ignoreNulls) OVER
 *     (PARTITION BY key ORDER BY ts, side ROWS UNBOUNDED PRECEDING..CURRENT)`
 *     carries the latest right row forward
 *   → keep left rows.
 *
 * Cost = one shuffle + one sort per side — the same shape as a sort-merge
 * join, scale-invariant in the number of matches. Right rows must be unique
 * per (key, ts) for deterministic results (pre-aggregate otherwise).
 * Equal timestamps match (right sorts before left at the same ts).
 */
object AsOfJoin {

  def backward(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
               rightPrefix: String = "r_", inner: Boolean = true): DataFrame =
    sweep(left, right, keys, tsCol, rightPrefix, inner, descending = false)

  /** Forward as-of join ("next-event" join): each left row matches the right
    * row with the SMALLEST timestamp ≥ the left timestamp within the same
    * key (inclusive). Same single-shuffle sorted-sweep shape as [[backward]],
    * with the sweep direction reversed. */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
              rightPrefix: String = "r_", inner: Boolean = true): DataFrame =
    sweep(left, right, keys, tsCol, rightPrefix, inner, descending = true)

  private def sweep(left0: DataFrame, right0: DataFrame, keys: Seq[String], tsCol: String,
                    rightPrefix: String, inner: Boolean, descending: Boolean): DataFrame = {
    // a null timestamp can match nothing (ASOF comparisons with NULL are
    // unknown) — and it would corrupt the sweep if admitted: under `ts asc`
    // Spark sorts NULLS FIRST, so a null-ts RIGHT row would become the
    // carry-forward "match" for every left row with no true predecessor
    // (the __rv struct is non-null even when its fields are null). Filter
    // both sides; null-ts LEFT rows re-enter unmatched in outer mode.
    val left = left0.where(col(tsCol).isNotNull)
    val right = right0.where(col(tsCol).isNotNull)
    val lPayload = left.columns.filterNot(keys.contains).toSeq
    val rPayload = right.columns.filterNot(keys.contains).toSeq
    val lvType = new StructType(lPayload.map(c => left.schema(c)).toArray)
    val rvType = new StructType(rPayload.map(c => right.schema(c)).toArray)

    val lSide = left.select(keys.map(col) ++ Seq(
      col(tsCol).as("__ts"), lit(1).as("__side"),
      struct(lPayload.map(col): _*).as("__lv"),
      lit(null).cast(rvType).as("__rv")): _*)
    val rSide = right.select(keys.map(col) ++ Seq(
      col(tsCol).as("__ts"), lit(0).as("__side"),
      lit(null).cast(lvType).as("__lv"),
      struct(rPayload.map(col): _*).as("__rv")): _*)

    // right sorts before left at equal __ts in BOTH directions (side asc),
    // so equal timestamps match inclusively
    val tsOrder = if (descending) col("__ts").desc else col("__ts").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrder, col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val swept = lSide.unionByName(rSide)
      .withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
    val kept = if (inner) swept.where(col("__m").isNotNull) else swept
    val matched = kept.select(keys.map(col) ++
      lPayload.map(c => col(s"__lv.$c").as(c)) ++
      rPayload.map(c => col(s"__m.$c").as(rightPrefix + c)): _*)
    if (inner) matched
    else matched.unionByName(left0.where(col(tsCol).isNull)
      .select(keys.map(col) ++ lPayload.map(col) ++
        rPayload.map(c => lit(null).cast(right0.schema(c).dataType).as(rightPrefix + c)): _*))
  }
}
