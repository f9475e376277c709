package graft.app

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.CityGmlReader

class AppSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Minimal synthesized CityGML 3.0 document (the committed v3 fixture was
    * stripped from the reference snapshot — FIXTURES.md §3 note). */
  val v3Doc: String =
    """<?xml version="1.0" encoding="utf-8"?>
      |<core:CityModel xmlns:core="http://www.opengis.net/citygml/3.0"
      |  xmlns:bldg="http://www.opengis.net/citygml/building/3.0"
      |  xmlns:gml="http://www.opengis.net/gml/3.2">
      |  <core:cityObjectMember>
      |    <bldg:Building gml:id="V3_B1">
      |      <bldg:boundedBy>
      |        <bldg:GroundSurface gml:id="V3_G1">
      |          <bldg:lod2MultiSurface><gml:MultiSurface><gml:surfaceMember>
      |            <gml:Polygon gml:id="V3_P1"><gml:exterior><gml:LinearRing>
      |              <gml:posList>0 0 5 10 0 5 10 8 5 0 8 5 0 0 5</gml:posList>
      |            </gml:LinearRing></gml:exterior></gml:Polygon>
      |          </gml:surfaceMember></gml:MultiSurface></bldg:lod2MultiSurface>
      |        </bldg:GroundSurface>
      |      </bldg:boundedBy>
      |    </bldg:Building>
      |  </core:cityObjectMember>
      |</core:CityModel>""".stripMargin

  test("CityGML 3.0 minimal document parses (S2 capability)") {
    val doc = CityGmlReader.parse(new java.io.ByteArrayInputStream(v3Doc.getBytes("UTF-8")))
    assert(doc.buildings.size === 1)
    val fps = CityGmlReader.toFootprints(doc, 0)
    val b = fps.find(_.feature_type == "Building").get
    assert(b.feature_id === "V3_B1")
    assert(b.env === graft.model.Env6(0, 0, 5, 10, 8, 5))
  }

  test("directory scan merges multiple files into one partition (S4/W3)") {
    val dir = java.nio.file.Files.createTempDirectory("gmldir")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(graft.Fixtures.fzkV2),
      dir.resolve("a_fzk.gml"))
    java.nio.file.Files.write(dir.resolve("b_v3.gml"), v3Doc.getBytes("UTF-8"))
    val doc = CityGmlReader.parseDirectory(dir.toString)
    assert(doc.buildings.size === 2)
    assert(doc.buildings.map(_.id).toSet ===
      Set("UUID_d281adfc-4901-0f52-540b-4cc1a9325f82", "V3_B1"))
    // file order = sorted walk order (a_ before b_)
    assert(doc.buildings.head.id === "UUID_d281adfc-4901-0f52-540b-4cc1a9325f82")
  }

  test("distributed ingest: many-file directory parses across >1 Spark task") {
    val dir = java.nio.file.Files.createTempDirectory("gmlmany")
    (0 until 8).foreach { i =>
      java.nio.file.Files.write(dir.resolve(f"tile_$i%02d.gml"),
        v3Doc.replace("V3_B1", f"V3_B$i%02d").replace("V3_G1", f"V3_G$i%02d")
          .replace("V3_P1", f"V3_P$i%02d").getBytes("UTF-8"))
    }
    val tasks = graft.sources.DistributedIngest.tasksFor(0, dir.toString, "citygml")
    assert(tasks.size === 8 && tasks.forall(_.partition_id == 0))
    val (fps, _, ids, _) = graft.sources.DistributedIngest.ingest(spark, tasks)
    // the parse stage fans out over the cluster, not the driver
    assert(fps.rdd.getNumPartitions >= 2,
      s"parse stage must have >1 task, got ${fps.rdd.getNumPartitions}")
    val got = fps.filter(_.feature_type == "Building").collect()
    assert(got.map(_.feature_id).toSet === (0 until 8).map(i => f"V3_B$i%02d").toSet)
    assert(got.forall(_.partition_id == 0))
    assert(ids.collect().map(_.id).toSet.size === 24) // 8 x (building+surface+poly)
  }

  test("map use case releases its parse cache: no cache entry, no persistent RDD remain") {
    val out = java.nio.file.Files.createTempDirectory("app_map_cache").toString
    spark.catalog.clearCache()
    val before = graft.TestSpark.persistentRddIds
    val cfg = Main.RunConfig(usecase = "map", citygml = Seq(graft.Fixtures.fzkV2),
      cityjson = Nil, outputDir = out, bbox = None, excludeAttrs = Set.empty, querySql = None)
    Main.runMap(spark, cfg)
    assert(graft.sources.IceLite.currentSnapshot(s"$out/footprints").partitions
      .map(_.partition) === Seq("0"))
    assert(graft.TestSpark.persistentRddIds === before, "runMap left a persistent RDD")
    assert(graft.TestSpark.datasetCacheEmpty, "runMap left a Dataset cache entry")
  }

  test("config app: map -> export -> query use cases end to end (go() dispatch)") {
    val out = java.nio.file.Files.createTempDirectory("app_out").toString
    val cfgFile = java.nio.file.Files.createTempFile("run", ".properties")
    java.nio.file.Files.write(cfgFile,
      s"""usecase=map_export
         |input.citygml=${graft.Fixtures.fzkV2}
         |input.cityjson=${graft.Fixtures.cityJson}
         |output.dir=$out
         |bbox=
         |mapper.exclude.attrs=ConstructionMethod
         |""".stripMargin.getBytes("UTF-8"))
    val cfg = Main.loadConfig(cfgFile.toString)
    assert(cfg.bbox.isEmpty, "empty bbox -> infinite box")
    Main.runMap(spark, cfg)
    Main.runExport(spark, cfg)

    // footprint table committed with lineage for both partitions
    val snap = graft.sources.IceLite.currentSnapshot(s"$out/footprints")
    assert(snap.partitions.map(_.partition).toSet === Set("0", "1"))
    // P1/P2 exclusion applied
    val fps = graft.sources.IceLite.read(spark, s"$out/footprints")
    assert(fps.where(org.apache.spark.sql.functions.map_contains_key(
      org.apache.spark.sql.functions.col("attrs"), "ConstructionMethod")).count() === 0)
    // xlink audit present and fully resolved (v2 file has 7 hrefs)
    val audit = spark.read.parquet(s"$out/xlink_audit").collect()
    assert(audit.exists(r => r.getString(0) == "resolved" && r.getLong(1) == 7L))
    // census + png diagnostics exist
    assert(spark.read.parquet(s"$out/census").count() >= 3)
    assert(new java.io.File(s"$out/footprints_p1.png").exists())
    // export round trip: both partitions re-ingestable
    val re0 = CityGmlReader.parseFile(s"$out/export_p0.gml")
    assert(re0.buildings.size === 1)
    val re1 = graft.sources.CityJsonReader.parseFile(s"$out/export_p1.city.json")
    assert(re1.buildings.size === 100)

    // a finite bbox cuts both formats alike: per partition, the Building ids
    // re-ingested from the GML and the CityJSON file equal the P6 filter over
    // the mapped footprints. The box touches the FZK house's west edge and
    // the CityJSON grid's column-4 / row-4 far edges (touching is kept).
    val cut = graft.model.Env6(46, 48, 0, 457842, 5439083, 0)
    val outCut = java.nio.file.Files.createTempDirectory("app_out_bbox").toString
    val cutCfg = cfg.copy(outputDir = outCut, bbox = Some(cut))
    Main.runMap(spark, cutCfg)
    Main.runExport(spark, cutCfg)
    val mapped = graft.sources.IceLite.read(spark, s"$outCut/footprints")
      .as[graft.model.Footprint].collect().toSeq
    val wantCut = graft.sources.Exporters.bboxFilter(mapped, Some(cut))
      .filter(_.feature_type == "Building").groupBy(_.partition_id)
      .map { case (pid, fs) => pid -> fs.map(_.feature_id).toSet }
    assert(wantCut.keySet === Set(0, 1))
    assert(wantCut(0).size === 1, "the FZK house touches the box")
    assert(wantCut(1).size === 36, "CityJSON grid columns and rows 4-9 are kept")
    Seq(0, 1).foreach { pid =>
      val gml = CityGmlReader.parseFile(s"$outCut/export_p$pid.gml").buildings.map(_.id).toSet
      val json = graft.sources.CityJsonReader.parseFile(s"$outCut/export_p$pid.city.json")
        .buildings.map(_.id).toSet
      assert(gml === json, s"partition $pid: GML and CityJSON exports disagree")
      assert(json === wantCut(pid), s"partition $pid: export != bboxFilter")
    }

    // query use case over the mapped table
    val qcfg = cfg.copy(usecase = "query",
      querySql = Some("SELECT feature_type, count(*) AS cnt FROM footprints GROUP BY 1"))
    Main.runQuery(spark, qcfg)
    val q = spark.read.parquet(s"$out/query_result").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q("Building") === 101)
  }
}
