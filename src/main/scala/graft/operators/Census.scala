package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Footprint

/**
 * Label census report — the reference's `Neo4jDB.summarize`
 * (`Neo4jDB.java:471-518`) + `DBStats` table formatting
 * (`DBStats.java:49-103`): counts per feature type with percentages, sorted
 * desc by count then asc by type.
 */
object Census {

  def byType(fps: Dataset[Footprint]): DataFrame = {
    val counts = fps.toDF().groupBy("feature_type").agg(count(lit(1)).as("cnt"))
    val total = sum(col("cnt")).over()
    counts
      .withColumn("pct", round(col("cnt") * 100.0 / total, 2))
      .orderBy(desc("cnt"), asc("feature_type"))
  }
}
