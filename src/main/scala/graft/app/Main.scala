package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.model._
import graft.operators.{Census, XLinkResolve}
import graft.sources._

/**
 * Config-driven batch application — the Spark restatement of the reference's
 * `go()` use-case dispatch (`CityKGDB.java:56-84`, driven by
 * `config/run.conf`): map / export / map+export / query.
 *
 * Config is a java-properties file (the offline stand-in for HOCON, S5):
 *
 *   usecase = map | export | map_export | query
 *   input.citygml  = /path/a.gml,/path/dir      # file or directory per entry
 *   input.cityjson = /path/b.json
 *   output.dir     = /tmp/out
 *   bbox           =                            # "" -> infinite box (P6 default)
 *   mapper.exclude.attrs =                      # P1/P2 projection at ingest
 *   query.sql      = SELECT ...                 # usecase=query, views: footprints
 *
 * map: ingest every input as its own partition index (reference
 * `__PARTITION_INDEX__` semantics), apply attribute exclusion, write the
 * footprint table resumable via IceLite (per-partition lineage), resolve
 * XLinks with audit, write census + R-tree-style PNG diagnostics.
 */
object Main {

  final case class RunConfig(
      usecase: String,
      citygml: Seq[String],
      cityjson: Seq[String],
      outputDir: String,
      bbox: Option[Env6],
      excludeAttrs: Set[String],
      querySql: Option[String])

  def loadConfig(path: String): RunConfig = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    def list(k: String) = Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    val bbox = Option(p.getProperty("bbox")).map(_.trim).filter(_.nonEmpty).map { s =>
      val a = s.split(",").map(_.trim.toDouble)
      Env6(a(0), a(1), a(2), a(3), a(4), a(5))
    }
    RunConfig(
      usecase = Option(p.getProperty("usecase")).getOrElse("map").trim,
      citygml = list("input.citygml"),
      cityjson = list("input.cityjson"),
      outputDir = Option(p.getProperty("output.dir")).getOrElse("out").trim,
      bbox = bbox, // None = infinite box (CityKGDBConfig.java:16-25 semantics)
      excludeAttrs = list("mapper.exclude.attrs").toSet,
      querySql = Option(p.getProperty("query.sql")).map(_.trim).filter(_.nonEmpty))
  }

  /** Per-file ingest tasks from the config: each config entry keeps one
    * partition index; a directory entry expands to many files under it. */
  def ingestTasks(cfg: RunConfig): Seq[DistributedIngest.IngestTask] = {
    val gml = cfg.citygml.zipWithIndex.flatMap { case (p, i) =>
      DistributedIngest.tasksFor(i, p, "citygml")
    }
    val json = cfg.cityjson.zipWithIndex.flatMap { case (p, i) =>
      DistributedIngest.tasksFor(cfg.citygml.size + i, p, "cityjson")
    }
    gml ++ json
  }

  /** Distributed ingest: files parse inside Spark tasks (the driver only
    * lists paths); P1/P2 attribute exclusion applied as a narrow map. The
    * four outputs below all read the parse, so it is persisted once at the
    * RDD level and released when the map ends: each file parses once and
    * nothing outlives the run. */
  def runMap(spark: SparkSession, cfg: RunConfig): Unit = {
    import spark.implicits._
    val files = DistributedIngest.parse(spark, ingestTasks(cfg))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (fps0, hrefDs, idDs, surfDs) = DistributedIngest.project(spark, files)
      val excl = cfg.excludeAttrs
      val fpDs = if (excl.isEmpty) fps0 else fps0.map(f => f.copy(attrs = f.attrs -- excl))
      val out = cfg.outputDir
      Files.createDirectories(Paths.get(out))
      // resumable footprint + full-surface tables with per-partition lineage
      IceLite.writeResumable(fpDs.toDF(), s"$out/footprints", "partition_id")
      if (surfDs.head(1).nonEmpty)
        IceLite.writeResumable(surfDs.toDF(), s"$out/surfaces", "partition_id")
      // J1 XLink resolution + audit
      if (hrefDs.head(1).nonEmpty) {
        val resolved = XLinkResolve.resolve(hrefDs.toDF(), idDs.toDF())
        resolved.write.mode("overwrite").options(LocalFs.writeOptions).parquet(s"$out/xlinks")
        XLinkResolve.audit(resolved).write.mode("overwrite").options(LocalFs.writeOptions)
          .parquet(s"$out/xlink_audit")
      }
      // A2 census + S9 diagnostics (PNG render is a bounded driver-side
      // diagnostic over building rows only)
      Census.byType(fpDs).write.mode("overwrite").options(LocalFs.writeOptions)
        .parquet(s"$out/census")
      fpDs.filter(_.feature_type == "Building").collect()
        .groupBy(_.partition_id).foreach { case (pid, pfps) =>
          PngSink.render(pfps.toSeq, s"$out/footprints_p$pid.png")
        }
    } finally files.unpersist(blocking = false)
  }

  def runExport(spark: SparkSession, cfg: RunConfig): Unit = {
    import spark.implicits._
    val fpDs = IceLite.read(spark, s"${cfg.outputDir}/footprints").as[Footprint]
    val haveSurfaces =
      Files.exists(Paths.get(s"${cfg.outputDir}/surfaces/_icelite/VERSION"))
    val surfDs: org.apache.spark.sql.Dataset[SurfacePoly] =
      if (haveSurfaces) IceLite.read(spark, s"${cfg.outputDir}/surfaces").as[SurfacePoly]
      else spark.emptyDataset[SurfacePoly]
    // cache across the two distributed export jobs below — without it each
    // job re-scans both IceLite tables in full
    fpDs.persist(); surfDs.persist()
    try {
      // one file per partition_id in each format, written by the task
      // holding that partition's rows (never the whole model on the driver)
      Exporters.exportCityGmlDistributed(fpDs, surfDs, cfg.outputDir, cfg.bbox,
        filePrefix = "export_p")
      Exporters.exportCityJsonDistributed(fpDs, surfDs, cfg.outputDir, cfg.bbox,
        filePrefix = "export_p")
    } finally { fpDs.unpersist(blocking = false); surfDs.unpersist(blocking = false) }
  }

  def runQuery(spark: SparkSession, cfg: RunConfig): Unit = {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    IceLite.read(spark, s"${cfg.outputDir}/footprints").as[Footprint].toDF()
      .createOrReplaceTempView("footprints")
    if (Files.exists(Paths.get(s"${cfg.outputDir}/surfaces/_icelite/VERSION")))
      IceLite.read(spark, s"${cfg.outputDir}/surfaces").as[SurfacePoly].toDF()
        .createOrReplaceTempView("surfaces")
    val sql = cfg.querySql.getOrElse("SELECT feature_type, count(*) AS cnt FROM footprints GROUP BY 1")
    spark.sql(sql).write.mode("overwrite").options(LocalFs.writeOptions)
      .parquet(s"${cfg.outputDir}/query_result")
  }

  def main(args: Array[String]): Unit = {
    val cfg = loadConfig(args.headOption.getOrElse("config/run.properties"))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .appName("graft-citykg")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg.usecase match {
      case "map" => runMap(spark, cfg)
      case "export" => runExport(spark, cfg)
      case "map_export" => runMap(spark, cfg); runExport(spark, cfg)
      case "query" => runQuery(spark, cfg)
      case other => sys.error(s"unknown usecase: $other")
    }
    spark.stop()
  }
}
