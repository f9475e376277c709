package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

class IngestSpec extends AnyFunSuite {

  def gmlV2 = graft.Fixtures.fzkV2
  def gmlV1 = graft.Fixtures.fzkV1
  def cjson = graft.Fixtures.cityJson

  // FIXTURES.md §2 goldens (transcribed from fzk_haus_lod2_v2.gml)
  val FzkId = "UUID_d281adfc-4901-0f52-540b-4cc1a9325f82"
  val GroundRing = Seq(XY(457854, 5439083), XY(457842, 5439083),
    XY(457842, 5439093), XY(457854, 5439093), XY(457854, 5439083))

  test("CityGML v2: FZK building + 7 surfaces, golden ground ring, env, attrs") {
    val doc = CityGmlReader.parseFile(gmlV2)
    assert(doc.buildings.size === 1)
    val b = doc.buildings.head
    assert(b.id === FzkId)
    assert(b.polygons.size === 7)
    assert(b.polygons.map(_.surfaceType).groupBy(identity).view.mapValues(_.size).toMap ===
      Map("WallSurface" -> 4, "RoofSurface" -> 2, "GroundSurface" -> 1))
    assert(b.attrs("GrossPlannedArea") === "120.00")
    assert(b.attrs("ConstructionMethod") === "New Building")
    assert(b.attrs.get("yearOfConstruction").contains("2020"))

    val fps = CityGmlReader.toFootprints(doc, partitionId = 0)
    assert(fps.size === 8) // 1 building + 7 surfaces
    val bld = fps.find(_.feature_type == "Building").get
    assert(bld.feature_id === FzkId)
    assert(bld.ring === GroundRing)
    // calcTLBbox semantics: envelope over ALL polygons (CityGMLV2DB.java:172-209)
    assert(bld.env.minx === 457842.0 && bld.env.maxx === 457854.0)
    assert(bld.env.miny === 5439083.0 && bld.env.maxy === 5439093.0)
    assert(bld.env.minz === 111.8)
    assert(math.abs(bld.env.maxz - 118.317691453624) < 1e-9)
    assert(bld.centroid === XY(457848.0, 5439088.0))
  }

  test("CityGML v1 and v2 yield identical building footprints (FIXTURES.md §2)") {
    val f1 = CityGmlReader.toFootprints(CityGmlReader.parseFile(gmlV1), 0)
      .filter(_.feature_type == "Building")
    val f2 = CityGmlReader.toFootprints(CityGmlReader.parseFile(gmlV2), 0)
      .filter(_.feature_type == "Building")
    assert(f1.size === 1 && f2.size === 1)
    assert(f1.head.feature_id === f2.head.feature_id)
    assert(f1.head.ring.toSet === f2.head.ring.toSet)
    assert(f1.head.env === f2.head.env)
  }

  test("CityGML v3 golden: faithful v3 restructuring of FZK parses identically to v2") {
    // Build the representative v3 fixture from the REAL v2 geometry (the
    // reference's v3 input was stripped from the snapshot): core:boundary
    // wrappers, construction-namespace surface types, core:lod2MultiSurface,
    // GML 3.2, v3 child-element generic attributes (CityGMLV3DB.java:56-126).
    val v2doc = CityGmlReader.parseFile(gmlV2)
    val fps = CityGmlReader.toFootprints(v2doc, 0)
    val surfaces = CityGmlReader.toSurfaces(v2doc, 0)
    val out = java.nio.file.Files.createTempDirectory("gmlv3").resolve("fzk_v3.gml").toString
    Exporters.exportCityGmlFull(fps.filter(_.feature_type == "Building"), surfaces, out,
      dialect = Exporters.GmlV3)
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
    assert(txt.contains("citygml/3.0") && txt.contains("construction/3.0")
      && txt.contains("gml/3.2") && txt.contains("boundary"), "fixture must be v3-shaped")

    val v3doc = CityGmlReader.parseFile(out)
    assert(v3doc.buildings.size === 1)
    val b3 = v3doc.buildings.head
    assert(b3.id === FzkId)
    assert(b3.polygons.size === 7)
    // footprint equality v3 == v2 (ring, envelope over ALL surfaces, centroid)
    val f3 = CityGmlReader.toFootprints(v3doc, 0).filter(_.feature_type == "Building").head
    val f2 = fps.filter(_.feature_type == "Building").head
    assert(f3.ring === f2.ring)
    assert(f3.env === f2.env)
    assert(f3.centroid === f2.centroid)
    // v3 child-element generic attributes parse
    assert(b3.attrs("GrossPlannedArea") === "120.00")
    assert(b3.attrs("ConstructionMethod") === "New Building")
    // full surface set identical
    val s3 = CityGmlReader.toSurfaces(v3doc, 0)
    def key(s: SurfacePoly) = (s.feature_id, s.surface_id, s.surface_type, s.poly_id,
      s.exterior, s.interiors)
    assert(s3.map(key).toSet === surfaces.map(key).toSet)
  }

  test("CityGML v1: XLink hrefs extracted (J1 join input, 7 solid members)") {
    val doc = CityGmlReader.parseFile(gmlV1)
    val hrefs = CityGmlReader.toHrefs(doc, 0)
    assert(hrefs.size === 7)
    assert(hrefs.forall(_.href.startsWith("#PolyID")))
    val ids = CityGmlReader.toIds(doc, 0)
    // every href target resolves against the id table exactly once
    val idSet = ids.map(_.id).toSet
    assert(hrefs.forall(h => idSet.contains(h.href.stripPrefix("#"))))
  }

  test("CityJSON: 100 buildings, dequantized vertices, grid extent") {
    val doc = CityJsonReader.parseFile(cjson)
    assert(doc.buildings.size === 100)
    val fps = CityJsonReader.toFootprints(doc, partitionId = 1)
    val blds = fps.filter(_.feature_type == "Building")
    assert(blds.size === 100)
    // metadata.geographicalExtent = [0,0,0, 96,98,12]
    val minx = blds.map(_.env.minx).min
    val maxx = blds.map(_.env.maxx).max
    val miny = blds.map(_.env.miny).min
    val maxy = blds.map(_.env.maxy).max
    val maxz = blds.map(_.env.maxz).max
    assert(minx >= 0.0 && maxx <= 96.0 + 1e-9)
    assert(miny >= 0.0 && maxy <= 98.0 + 1e-9)
    assert(maxz <= 12.0 + 1e-9)
    assert(maxx > 90 && maxy > 90, "grid should span most of the extent")
    // every building has a ground ring with nonzero area
    blds.foreach { b =>
      assert(b.ring.size >= 4, s"${b.feature_id} ground ring too small")
      val area = math.abs(graft.core.Geom.Polygon.signedArea(
        b.ring.map(p => graft.core.Geom.Pt(p.x, p.y)).toArray))
      assert(area > 1.0, s"${b.feature_id} ground area $area")
    }
    // attributes survive: first fixture building has measuredHeight 11
    val b0 = blds.find(_.feature_id == "FZK_GUID_1F3E679D-E226-4535-926C-7390977FB25A").get
    assert(b0.attrs("measuredHeight") === "11")
    assert(b0.attrs("storeysAboveGround") === "5")
  }

  /** The v2 fixture as partition 0 and the CityJSON grid as partition 1. */
  def fixtureTasks: Seq[DistributedIngest.IngestTask] =
    DistributedIngest.tasksFor(0, gmlV2, "citygml") ++ DistributedIngest.tasksFor(1, cjson, "cityjson")

  test("distributed ingest: one narrow stage, rows in task order, equal to the driver-side parse") {
    val spark = graft.TestSpark.spark
    val (fps, hrefs, ids, surfaces) = DistributedIngest.ingest(spark, fixtureTasks)
    Seq(fps.toDF(), hrefs.toDF(), ids.toDF(), surfaces.toDF()).foreach { ds =>
      val plan = ds.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"ingest must plan no exchange:\n$plan")
    }
    val v2 = CityGmlReader.parseFile(gmlV2)
    val cj = CityJsonReader.parseFile(cjson)
    assert(fps.collect().toSeq ===
      CityGmlReader.toFootprints(v2, 0) ++ CityJsonReader.toFootprints(cj, 1))
    assert(hrefs.collect().toSeq === CityGmlReader.toHrefs(v2, 0))
    assert(ids.collect().toSeq === CityGmlReader.toIds(v2, 0))
    assert(surfaces.collect().toSeq ===
      CityGmlReader.toSurfaces(v2, 0) ++ CityJsonReader.toSurfaces(cj, 1))
  }

  test("distributed ingest persists nothing: no cache entry, no persistent RDD") {
    val spark = graft.TestSpark.spark
    spark.catalog.clearCache()
    val before = graft.TestSpark.persistentRddIds
    val fps = DistributedIngest.ingest(spark, fixtureTasks)._1.collect()
    assert(fps.count(_.feature_type == "Building") === 101)
    assert(graft.TestSpark.persistentRddIds === before, "ingest left a persistent RDD")
    assert(graft.TestSpark.datasetCacheEmpty, "ingest left a Dataset cache entry")
  }

  test("ImageGen: determinism, payload invariants (PSNR/caption/phash)") {
    val r1 = ImageGen.row(123)
    val r2 = ImageGen.row(123)
    assert(r1.image_id === "img_0000000123")
    assert(java.util.Arrays.equals(r1.bytes, r2.bytes), "bytes must be deterministic")
    assert(r1.caption === r2.caption && r1.phash === r2.phash)
    // payload invariant (input_hint): png lossless, jpeg PSNR >= 40dB vs raw
    var pngs = 0; var jpegs = 0
    for (i <- 0L until 40L) {
      val r = ImageGen.row(i)
      val raw = ImageGen.renderRaw(i, r.w, r.h)
      val dec = ImageGen.decode(r.bytes)
      val p = ImageGen.psnr(raw, dec)
      if (r.fmt == "png") { assert(p === 99.0, s"png $i not lossless: $p"); pngs += 1 }
      else { assert(p >= 40.0, s"jpeg $i PSNR $p < 40"); jpegs += 1 }
      assert(ImageGen.phashOf(dec) === r.phash)
      assert(r.caption === s"caption for img_$i at (${r.x},${r.y})")
    }
    assert(pngs > 5 && jpegs > 5, s"fmt mix pngs=$pngs jpegs=$jpegs")
  }

  test("ImageGen: geotag skew shape (60/30/10)") {
    val n = 20000
    var inside = 0; var far = 0
    for (i <- 0 until n) {
      val (x, y) = ImageGen.geotag(i.toLong)
      val in = x >= ImageGen.FzkMinX && x <= ImageGen.FzkMinX + ImageGen.FzkW &&
               y >= ImageGen.FzkMinY && y <= ImageGen.FzkMinY + ImageGen.FzkH
      if (in) inside += 1
      val d = math.hypot(x - ImageGen.Cx, y - ImageGen.Cy)
      if (d > 45) far += 1
    }
    assert(math.abs(inside.toDouble / n - 0.6) < 0.02, s"inside=$inside")
    assert(far.toDouble / n < 0.12 && far.toDouble / n > 0.05, s"far=$far")
  }
}
