package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model._

/**
 * Distributed ingest: CityGML/CityJSON files parse INSIDE Spark tasks, one
 * file per element of a task RDD — the Spark restatement of the reference's
 * per-file thread fan-out (`CityKGDB.java:169-177`) plus its chunked
 * in-file parse (`CityGMLV2DB.java:57-110`, which [[CityGmlReader.parse]]
 * keeps via StAX). The driver only LISTS paths; file contents are never
 * read driver-side, so a directory of 10k tiles parses with full cluster
 * parallelism.
 *
 * One narrow stage: the tasks are `parallelize`d in their given order (no
 * exchange), each projection is a `flatMap` over the parsed files, and only
 * the projected case class goes through an encoder. The library persists
 * nothing. Each projection's action parses its files again, so a caller
 * that reads several projections owns the cache: persist [[parse]]'s RDD,
 * build the projections with [[project]], and unpersist it when done (as
 * `graft.app.Main.runMap` does).
 */
object DistributedIngest {

  /** One file to parse: `partition_id` = config-entry index (a directory
    * entry keeps ONE partition index across all its files — reference
    * `__PARTITION_INDEX__` semantics, `Neo4jDB.java:254`). */
  final case class IngestTask(partition_id: Int, path: String, format: String)

  final case class ParsedFile(
      footprints: Seq[Footprint],
      hrefs: Seq[HrefRef],
      ids: Seq[IdRec],
      surfaces: Seq[SurfacePoly])

  /** Expand a config entry (single file or directory) into per-file tasks;
    * directory walk order = sorted path (reference W3 merge order,
    * `CityKGDB.java:231-255`). */
  def tasksFor(partition: Int, path: String, format: String): Seq[IngestTask] = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      val exts = if (format == "citygml") Seq(".gml", ".xml") else Seq(".json")
      try s.iterator().asScala.filter { f =>
        val n = f.toString.toLowerCase
        Files.isRegularFile(f) && exts.exists(n.endsWith)
      }.map(f => IngestTask(partition, f.toString, format))
        .toSeq.sortBy(_.path)
      finally s.close()
    } else Seq(IngestTask(partition, path, format))
  }

  private def parseTask(t: IngestTask): ParsedFile = t.format match {
    case "citygml" =>
      val doc = CityGmlReader.parseFile(t.path)
      ParsedFile(
        CityGmlReader.toFootprints(doc, t.partition_id),
        CityGmlReader.toHrefs(doc, t.partition_id),
        CityGmlReader.toIds(doc, t.partition_id),
        CityGmlReader.toSurfaces(doc, t.partition_id))
    case "cityjson" =>
      val doc = CityJsonReader.parseFile(t.path)
      ParsedFile(CityJsonReader.toFootprints(doc, t.partition_id), Nil, Nil,
        CityJsonReader.toSurfaces(doc, t.partition_id))
    case other => sys.error(s"unknown ingest format: $other")
  }

  /** One Spark task per file, in the given task order; nothing persisted. */
  def parse(spark: SparkSession, tasks: Seq[IngestTask]): RDD[ParsedFile] = {
    require(tasks.nonEmpty, "no input files to ingest")
    val slices = math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(tasks, slices).map(parseTask)
  }

  /** The (footprints, hrefs, ids, surfaces) projections of `files`. */
  def project(spark: SparkSession, files: RDD[ParsedFile])
      : (Dataset[Footprint], Dataset[HrefRef], Dataset[IdRec], Dataset[SurfacePoly]) = {
    import spark.implicits._
    (spark.createDataset(files.flatMap(_.footprints)),
      spark.createDataset(files.flatMap(_.hrefs)),
      spark.createDataset(files.flatMap(_.ids)),
      spark.createDataset(files.flatMap(_.surfaces)))
  }

  /** Parse every task distributed; returns (footprints, hrefs, ids, surfaces).
    * Each projection parses its files when it runs. */
  def ingest(spark: SparkSession, tasks: Seq[IngestTask])
      : (Dataset[Footprint], Dataset[HrefRef], Dataset[IdRec], Dataset[SurfacePoly]) =
    project(spark, parse(spark, tasks))
}
