package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Cell-clustered table layout — the data-skipping lever for the 100 TB
 * table: materialize the spatial cell key as a stored column, then
 * range-partition + sort by it before writing, so every parquet
 * file/row-group covers a narrow, disjoint cell range and the parquet
 * reader's min/max statistics skip everything outside a query's cell window
 * (the same reason Iceberg tables cluster on a sort key). Without
 * clustering, every row group spans the whole key space and a selective
 * cell filter still reads the entire table.
 *
 * Query side needs nothing special: a plain `cell BETWEEN lo AND hi`
 * predicate on the stored column pushes to the scan and the row-group skip
 * happens inside the parquet reader (asserted via scan metrics in
 * PlanQualitySpec).
 */
object CellLayout {

  /** Write `df` + a stored `cellName` column (from `cellCol`), clustered by
    * it into `files` range partitions. */
  def writeClustered(df: DataFrame, cellCol: Column, cellName: String,
                     dir: String, files: Int = 16): Unit =
    df.withColumn(cellName, cellCol)
      .repartitionByRange(files, col(cellName))
      .sortWithinPartitions(cellName)
      .write.mode("overwrite").options(LocalFs.writeOptions).parquet(dir)
}
