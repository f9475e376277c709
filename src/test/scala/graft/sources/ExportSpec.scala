package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

class ExportSpec extends AnyFunSuite {
  import ExportSpec.{GroundCityJsonUntyped, GroundGml, GroundGmlV3}

  lazy val fzk = CityGmlReader.toFootprints(
    CityGmlReader.parseFile(graft.Fixtures.fzkV2), 0)
  lazy val cj = CityJsonReader.toFootprints(
    CityJsonReader.parseFile(graft.Fixtures.cityJson), 1)

  test("CityGML round trip: export -> re-ingest preserves ring/env2d/attrs") {
    val out = java.nio.file.Files.createTempDirectory("gml").resolve("fzk.gml").toString
    Exporters.exportCityGml(fzk, out)
    val back = CityGmlReader.toFootprints(CityGmlReader.parseFile(out), 0)
      .filter(_.feature_type == "Building")
    val orig = fzk.filter(_.feature_type == "Building")
    assert(back.size === orig.size)
    val b = back.head; val o = orig.head
    assert(b.feature_id === o.feature_id)
    assert(closedSet(b.ring) === closedSet(o.ring))
    assert(b.env.minx === o.env.minx && b.env.maxy === o.env.maxy)
    // generic attributes survive (stringified)
    assert(b.attrs("GrossPlannedArea") === o.attrs("GrossPlannedArea"))
  }

  test("CityGML export honors touching-inclusive bbox filter (Neo4jDB.java:378-380)") {
    val out = java.nio.file.Files.createTempDirectory("gml").resolve("f.gml").toString
    // query box that only TOUCHES the FZK envelope at x=457842
    val touching = Env6(457830, 5439083, 0, 457842, 5439093, 0)
    Exporters.exportCityGml(fzk, out, Some(touching))
    val back = CityGmlReader.toFootprints(CityGmlReader.parseFile(out), 0)
      .filter(_.feature_type == "Building")
    assert(back.size === 1, "touching feature must be kept")
    // disjoint box excludes
    val out2 = java.nio.file.Files.createTempDirectory("gml").resolve("g.gml").toString
    Exporters.exportCityGml(fzk, out2, Some(Env6(0, 0, 0, 1, 1, 0)))
    val back2 = CityGmlReader.toFootprints(CityGmlReader.parseFile(out2), 0)
    assert(back2.isEmpty)
  }

  test("full-surface CityGML round trip: ALL polygons (walls/roofs) survive exactly") {
    val doc = CityGmlReader.parseFile(graft.Fixtures.fzkV2)
    val surfaces = CityGmlReader.toSurfaces(doc, 0)
    assert(surfaces.size >= 7, s"FZK LoD2 must have >= 7 boundary polygons, got ${surfaces.size}")
    assert(surfaces.map(_.surface_type).toSet ===
      Set("GroundSurface", "WallSurface", "RoofSurface"))
    val out = java.nio.file.Files.createTempDirectory("gmlfull").resolve("fzk_full.gml").toString
    Exporters.exportCityGmlFull(fzk, surfaces, out)
    val backDoc = CityGmlReader.parseFile(out)
    val back = CityGmlReader.toSurfaces(backDoc, 0)
    // polygon count + ids + types + exact 3D coordinates all survive
    assert(back.size === surfaces.size)
    def key(s: SurfacePoly) = (s.feature_id, s.surface_id, s.surface_type, s.poly_id,
      s.exterior, s.interiors)
    assert(back.map(key).toSet === surfaces.map(key).toSet)
    // the re-ingested FOOTPRINT also still matches (ground ring + full env)
    val bFp = CityGmlReader.toFootprints(backDoc, 0).filter(_.feature_type == "Building").head
    val oFp = fzk.filter(_.feature_type == "Building").head
    assert(bFp.env === oFp.env, "building envelope must aggregate over ALL surfaces")
    assert(closedSet(bFp.ring) === closedSet(oFp.ring))
  }

  test("distributed CityGML export: one file per partition, written in tasks, round-trips") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val doc = CityGmlReader.parseFile(graft.Fixtures.fzkV2)
    val surfaces = CityGmlReader.toSurfaces(doc, 0)
    // two partitions: the FZK building as partition 0 AND (ids suffixed)
    // as partition 7 — forces two cogroups, two task-side files
    def retag(fp: Footprint, pid: Int, sfx: String) =
      fp.copy(feature_id = fp.feature_id + sfx, partition_id = pid)
    def retagS(s: SurfacePoly, pid: Int, sfx: String) =
      s.copy(feature_id = s.feature_id + sfx, surface_id = s.surface_id + sfx,
        poly_id = if (s.poly_id.nonEmpty) s.poly_id + sfx else s.poly_id, partition_id = pid)
    val fps = fzk.map(retag(_, 0, "")) ++ fzk.map(retag(_, 7, "_b"))
    val surfs = surfaces.map(retagS(_, 0, "")) ++ surfaces.map(retagS(_, 7, "_b"))
    val outDir = java.nio.file.Files.createTempDirectory("gmldist").toString
    val manifest = Exporters.exportCityGmlDistributed(
      fps.toDS().repartition(5), surfs.toDS().repartition(3), outDir)
    assert(manifest.map(_._1) === Seq(0, 7))
    manifest.foreach { case (_, p) => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p))) }
    // union of per-partition re-ingests == the input feature set, full
    // surface fidelity per partition
    val back = manifest.flatMap { case (pid, p) =>
      CityGmlReader.toFootprints(CityGmlReader.parseFile(p), pid) }
      .filter(_.feature_type == "Building")
    assert(back.map(_.feature_id).toSet ===
      fps.filter(_.feature_type == "Building").map(_.feature_id).toSet)
    val backS = manifest.flatMap { case (pid, p) =>
      CityGmlReader.toSurfaces(CityGmlReader.parseFile(p), pid) }
    def key(s: SurfacePoly) = (s.feature_id, s.surface_id, s.surface_type, s.poly_id,
      s.exterior, s.interiors)
    assert(backS.map(key).toSet === surfs.map(key).toSet)
    // byte-determinism: a second export under any partitioning is identical
    val outDir2 = java.nio.file.Files.createTempDirectory("gmldist2").toString
    Exporters.exportCityGmlDistributed(fps.toDS().repartition(2), surfs.toDS(), outDir2)
    Seq(0, 7).foreach { pid =>
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$outDir/part_$pid.gml"))
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$outDir2/part_$pid.gml"))
      assert(java.util.Arrays.equals(a, b), s"partition $pid file bytes not deterministic")
    }
    // CityGML 3.0 variant: the same distributed path, the v3 writer — the
    // version-agnostic reader must recover the identical surface set
    val outDir3 = java.nio.file.Files.createTempDirectory("gmldist3").toString
    Exporters.exportCityGmlDistributed(fps.toDS(), surfs.toDS(), outDir3, dialect = Exporters.GmlV3)
    val backS3 = Seq(0, 7).flatMap { pid =>
      CityGmlReader.toSurfaces(CityGmlReader.parseFile(s"$outDir3/part_$pid.gml"), pid) }
    assert(backS3.map(key).toSet === surfs.map(key).toSet)
    // buildings-only dataset (no surface rows): v3 must still carry geometry
    // (synthesized LOD0 ground polygons), never attribute-only Buildings
    val outDir4 = java.nio.file.Files.createTempDirectory("gmldist4").toString
    Exporters.exportCityGmlDistributed(fps.toDS(),
      spark.emptyDataset[SurfacePoly], outDir4, dialect = Exporters.GmlV3)
    val back4 = CityGmlReader.toFootprints(
      CityGmlReader.parseFile(s"$outDir4/part_0.gml"), 0)
      .filter(_.feature_type == "Building")
    val orig0 = fzk.filter(_.feature_type == "Building").head
    assert(back4.nonEmpty)
    assert(closedSet(back4.head.ring) === closedSet(orig0.ring),
      "v3 buildings-only export must synthesize the ground ring")
  }

  test("CityJSON round trip: quantization-exact for 3-decimal source coords") {
    val out = java.nio.file.Files.createTempDirectory("cj").resolve("b.json").toString
    Exporters.exportCityJson(cj, out, srs = "EPSG:3068")
    val back = CityJsonReader.toFootprints(CityJsonReader.parseFile(out), 1)
      .filter(_.feature_type == "Building")
    val orig = cj.filter(_.feature_type == "Building")
    assert(back.size === orig.size)
    val bm = back.map(f => f.feature_id -> f).toMap
    orig.foreach { o =>
      val b = bm(o.feature_id)
      // source verts are already 3-decimal quantized -> exact ring equality
      assert(closedSet(b.ring) === closedSet(o.ring), s"${o.feature_id} ring")
      assert(b.attrs("measuredHeight") === o.attrs("measuredHeight"))
    }
  }

  test("full-surface CityJSON round trip: every polygon + semantic type survives") {
    val doc = CityJsonReader.parseFile(graft.Fixtures.cityJson)
    val surfaces = CityJsonReader.toSurfaces(doc, 1)
    assert(surfaces.size > 500, s"100 solids should yield >500 faces, got ${surfaces.size}")
    val out = java.nio.file.Files.createTempDirectory("cjfull").resolve("full.json").toString
    Exporters.exportCityJsonFull(cj, surfaces, out, srs = "EPSG:3068")
    val back = CityJsonReader.parseFile(out)
    val backS = CityJsonReader.toSurfaces(back, 1)
    assert(backS.size === surfaces.size)
    // geometry + semantic type multiset identical (face ids are synthetic in
    // CityJSON, so compare by building, type and exact 3D rings; the fixture
    // verts are 3-decimal quantized -> round trip is coordinate-exact)
    def key(s: SurfacePoly) = (s.feature_id, s.surface_type, s.exterior, s.interiors)
    def multiset(xs: Seq[SurfacePoly]) = xs.groupBy(key).view.mapValues(_.size).toMap
    assert(multiset(backS) === multiset(surfaces))
    // semantics came from the document, not the z-heuristic: all three types
    assert(backS.map(_.surface_type).toSet ===
      Set("GroundSurface", "WallSurface", "RoofSurface"))
    // footprints unchanged too
    val bm = CityJsonReader.toFootprints(back, 1).filter(_.feature_type == "Building")
      .map(f => f.feature_id -> f).toMap
    cj.filter(_.feature_type == "Building").foreach { o =>
      assert(closedSet(bm(o.feature_id).ring) === closedSet(o.ring))
      assert(bm(o.feature_id).env === o.env)
    }
  }

  test("distributed CityJSON export: per-partition files byte-equal to the driver path, round-trips") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val doc = CityJsonReader.parseFile(graft.Fixtures.cityJson)
    val surfaces = CityJsonReader.toSurfaces(doc, 1)
    // two partitions (1 = the fixture, 9 = ids suffixed) forces two cogroups
    def retag(fp: Footprint, pid: Int, sfx: String) =
      fp.copy(feature_id = fp.feature_id + sfx, partition_id = pid)
    def retagS(s: SurfacePoly, pid: Int, sfx: String) =
      s.copy(feature_id = s.feature_id + sfx, surface_id = s.surface_id + sfx,
        poly_id = if (s.poly_id.nonEmpty) s.poly_id + sfx else s.poly_id, partition_id = pid)
    val fps = cj.map(retag(_, 1, "")) ++ cj.map(retag(_, 9, "_b"))
    val surfs = surfaces.map(retagS(_, 1, "")) ++ surfaces.map(retagS(_, 9, "_b"))
    val outDir = java.nio.file.Files.createTempDirectory("cjdist").toString
    val manifest = Exporters.exportCityJsonDistributed(
      fps.toDS().repartition(5), surfs.toDS().repartition(3), outDir, srs = "EPSG:3068")
    assert(manifest.map(_._1) === Seq(1, 9))
    // byte-equality vs the DRIVER path on the identical sorted slices —
    // the distributed writer is the same serializer behind a task commit
    manifest.foreach { case (pid, p) =>
      val bSlice = fps.filter(_.partition_id == pid).sortBy(_.feature_id)
      val sSlice = surfs.filter(_.partition_id == pid)
        .sortBy(s => (s.feature_id, s.surface_id, s.poly_id))
      val drv = java.nio.file.Files.createTempDirectory("cjdrv").resolve(s"d_$pid.json")
      Exporters.exportCityJsonFull(bSlice, sSlice, drv.toString, srs = "EPSG:3068")
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.file.Files.readAllBytes(drv)),
        s"partition $pid distributed file != driver-path file")
    }
    // union of per-partition re-ingests == the input surface multiset
    def key(s: SurfacePoly) = (s.feature_id, s.surface_type, s.exterior, s.interiors)
    def multiset(xs: Seq[SurfacePoly]) = xs.groupBy(key).view.mapValues(_.size).toMap
    val backS = manifest.flatMap { case (pid, p) =>
      CityJsonReader.toSurfaces(CityJsonReader.parseFile(p), pid) }
    assert(multiset(backS) === multiset(surfs))
    // buildings-only dataset: falls back to ground-ring geometry (S8 shape)
    val outDir2 = java.nio.file.Files.createTempDirectory("cjdist2").toString
    Exporters.exportCityJsonDistributed(
      fps.toDS(), spark.emptyDataset[SurfacePoly], outDir2, srs = "EPSG:3068")
    val back2 = CityJsonReader.toFootprints(
      CityJsonReader.parseFile(s"$outDir2/part_1.city.json"), 1)
      .filter(_.feature_type == "Building")
    assert(back2.map(_.feature_id).toSet ===
      cj.filter(_.feature_type == "Building").map(_.feature_id).toSet)
  }

  test("CityJSON quantization semantics: round(x*1000)/1000 (CityJSONDB.java:118-121)") {
    val f = Footprint("q1", "Building", 0,
      Seq(XY(1.23456, 2.00049), XY(3.99999, 2.00049), XY(3.99999, 9.5), XY(1.23456, 9.5)),
      Seq.empty, Env6(1.23456, 2.00049, 0, 3.99999, 9.5, 0), XY(2, 5), Map.empty)
    val out = java.nio.file.Files.createTempDirectory("cj").resolve("q.json").toString
    Exporters.exportCityJson(Seq(f), out)
    val back = CityJsonReader.toFootprints(CityJsonReader.parseFile(out), 0).head
    assert(back.ring.map(p => (p.x, p.y)).toSet ===
      Set((1.235, 2.0), (4.0, 2.0), (4.0, 9.5), (1.235, 9.5)))
  }

  // hermetic ground-ring fixture: b1 has an OPEN exterior and an open hole,
  // b2 a CLOSED exterior, b3 lies outside the bbox below, x1 is no Building
  private val groundFps = Seq(
    Footprint("b1", "Building", 3,
      Seq(XY(457800.5, 5439000.25), XY(457804.0, 5439000.25), XY(457804.0, 5439003.0),
        XY(457800.5, 5439003.0)),
      Seq(Seq(XY(457801.0, 5439001.0), XY(457802.0, 5439001.0), XY(457802.0, 5439002.0))),
      Env6(457800.5, 5439000.25, 1.5, 457804.0, 5439003.0, 12.0), XY(457802.25, 5439001.625),
      Map("name" -> "A & <b>", "height" -> "10.5")),
    Footprint("b2", "Building", 3,
      Seq(XY(457810.0, 5439000.0), XY(457812.0, 5439000.0), XY(457812.0, 5439002.0),
        XY(457810.0, 5439000.0)),
      Seq.empty, Env6(457810.0, 5439000.0, 0.0, 457812.0, 5439002.0, 6.0),
      XY(457811.0, 5439001.0), Map.empty),
    Footprint("b3", "Building", 3,
      Seq(XY(457850.0, 5439000.0), XY(457851.0, 5439000.0), XY(457851.0, 5439001.0)),
      Seq.empty, Env6(457850.0, 5439000.0, 0.0, 457851.0, 5439001.0, 3.0),
      XY(457850.5, 5439000.5), Map("k" -> "v")),
    Footprint("x1", "Road", 3,
      Seq(XY(457801.0, 5439001.0), XY(457802.0, 5439001.0)),
      Seq.empty, Env6(457801.0, 5439001.0, 0.0, 457802.0, 5439001.0, 0.0),
      XY(457801.5, 5439001.0), Map.empty))
  // keeps b1 and b2 (b2's envelope only TOUCHES it at x = 457810), drops b3
  private val groundBox = Some(Env6(457790.0, 5438990.0, 0.0, 457810.0, 5439010.0, 0.0))

  test("exportCityGml writes the ground-ring document byte for byte (closed rings, hole, attrs, touching bbox)") {
    val out = java.nio.file.Files.createTempDirectory("gml").resolve("g.gml")
    Exporters.exportCityGml(groundFps, out.toString, groundBox)
    assert(new String(java.nio.file.Files.readAllBytes(out), "UTF-8") === GroundGml)
  }

  test("footprint-only distributed CityGML export writes closed LinearRings (v2 and v3)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    for (dialect <- Seq(Exporters.GmlV2, Exporters.GmlV3)) {
      val outDir = java.nio.file.Files.createTempDirectory("gmlground").toString
      Exporters.exportCityGmlDistributed(groundFps.toDS(),
        spark.emptyDataset[SurfacePoly], outDir, dialect = dialect)
      val doc = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$outDir/part_3.gml")), "UTF-8")
      val posLists = "<gml:posList>([^<]*)</gml:posList>".r.findAllMatchIn(doc)
        .map(_.group(1).split(' ').grouped(3).map(_.toSeq).toSeq).toSeq
      // b1 exterior + hole, b2, b3 (no bbox: all three Buildings)
      assert(posLists.size === 4, s"$dialect: $doc")
      posLists.foreach(ring => assert(ring.head === ring.last, s"$dialect: open ring $ring"))
    }
  }

  test("footprint-only distributed CityGML export writes the ground-ring documents byte for byte (v2 and v3)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    for ((dialect, golden) <- Seq(Exporters.GmlV2 -> GroundGml, Exporters.GmlV3 -> GroundGmlV3)) {
      val outDir = java.nio.file.Files.createTempDirectory("gmlgolden").toString
      Exporters.exportCityGmlDistributed(groundFps.toDS(),
        spark.emptyDataset[SurfacePoly], outDir, groundBox, dialect = dialect)
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$outDir/part_3.gml")), "UTF-8") === golden, dialect)
    }
  }

  test("ground-only CityJSON export re-ingests like the untyped ground document, faces typed GroundSurface") {
    val dir = java.nio.file.Files.createTempDirectory("cjground")
    val out = dir.resolve("g.city.json")
    Exporters.exportCityJson(groundFps, out.toString)
    val untyped = java.nio.file.Files.write(dir.resolve("untyped.city.json"),
      GroundCityJsonUntyped.getBytes("UTF-8"))
    val doc = CityJsonReader.parseFile(out.toString)
    val ref = CityJsonReader.parseFile(untyped.toString)
    assert(CityJsonReader.toFootprints(doc, 3) === CityJsonReader.toFootprints(ref, 3))
    val surfaces = CityJsonReader.toSurfaces(doc, 3)
    assert(surfaces === CityJsonReader.toSurfaces(ref, 3))
    // one ground face per Building, typed by the document's own semantics
    assert(surfaces.map(s => (s.feature_id, s.surface_type)) ===
      Seq("b1", "b2", "b3").map(_ -> "GroundSurface"))
    val sem = """"semantics":{"surfaces":[{"type":"GroundSurface"}],"values":[0]}"""
    val json = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(java.util.regex.Pattern.quote(sem).r.findAllMatchIn(json).size === 3,
      "one GroundSurface semantics object per Building")
  }

  private def closedSet(r: Seq[XY]): Set[(Double, Double)] =
    r.map(p => (p.x, p.y)).toSet
}

object ExportSpec {
  /** The exact document `exportCityGml(groundFps, _, groundBox)` writes —
    * a golden for the ground-ring CityGML 2.0 writer. */
  val GroundGml: String =
    """<?xml version='1.0' encoding='UTF-8'?>""" +
    """<core:CityModel xmlns:core="http://www.opengis.net/citygml/2.0" xmlns:bldg="http://www.opengis.net/citygml/building/2.0" xmlns:gml="http://www.opengis.net/gml" xmlns:gen="http://www.opengis.net/citygml/generics/2.0">""" +
    """<gml:boundedBy>""" +
    """<gml:Envelope srsName="urn:adv:crs:ETRS89_UTM32*DE_DHHN92_NH" srsDimension="3">""" +
    """<gml:lowerCorner>457800.5 5439000.0 0.0</gml:lowerCorner>""" +
    """<gml:upperCorner>457812.0 5439003.0 12.0</gml:upperCorner></gml:Envelope>""" +
    """</gml:boundedBy>""" +
    """<core:cityObjectMember><bldg:Building gml:id="b1"><gen:stringAttribute name="height">""" +
    """<gen:value>10.5</gen:value></gen:stringAttribute><gen:stringAttribute name="name">""" +
    """<gen:value>A &amp; &lt;b></gen:value></gen:stringAttribute><bldg:boundedBy>""" +
    """<bldg:GroundSurface gml:id="b1_ground"><bldg:lod2MultiSurface><gml:MultiSurface>""" +
    """<gml:surfaceMember><gml:Polygon gml:id="b1_ground_poly"><gml:exterior><gml:LinearRing>""" +
    """<gml:posList>457800.5 5439000.25 1.5 457804.0 5439000.25 1.5 457804.0 5439003.0 1.5 457800.5 5439003.0 1.5 457800.5 5439000.25 1.5</gml:posList>""" +
    """</gml:LinearRing></gml:exterior><gml:interior><gml:LinearRing>""" +
    """<gml:posList>457801.0 5439001.0 1.5 457802.0 5439001.0 1.5 457802.0 5439002.0 1.5 457801.0 5439001.0 1.5</gml:posList>""" +
    """</gml:LinearRing></gml:interior></gml:Polygon></gml:surfaceMember></gml:MultiSurface>""" +
    """</bldg:lod2MultiSurface></bldg:GroundSurface></bldg:boundedBy></bldg:Building>""" +
    """</core:cityObjectMember>""" +
    """<core:cityObjectMember><bldg:Building gml:id="b2"><bldg:boundedBy>""" +
    """<bldg:GroundSurface gml:id="b2_ground"><bldg:lod2MultiSurface><gml:MultiSurface>""" +
    """<gml:surfaceMember><gml:Polygon gml:id="b2_ground_poly"><gml:exterior><gml:LinearRing>""" +
    """<gml:posList>457810.0 5439000.0 0.0 457812.0 5439000.0 0.0 457812.0 5439002.0 0.0 457810.0 5439000.0 0.0</gml:posList>""" +
    """</gml:LinearRing></gml:exterior></gml:Polygon></gml:surfaceMember></gml:MultiSurface>""" +
    """</bldg:lod2MultiSurface></bldg:GroundSurface></bldg:boundedBy></bldg:Building>""" +
    """</core:cityObjectMember></core:CityModel>"""

  /** The CityGML 3.0 twin of [[GroundGml]]: the same buildings, envelope and
    * rings under the v3 namespaces, `core:boundary` > `con:GroundSurface`,
    * `core:lod2MultiSurface` and child-element generic attributes. */
  val GroundGmlV3: String =
    """<?xml version='1.0' encoding='UTF-8'?>""" +
    """<core:CityModel xmlns:core="http://www.opengis.net/citygml/3.0" xmlns:bldg="http://www.opengis.net/citygml/building/3.0" xmlns:con="http://www.opengis.net/citygml/construction/3.0" xmlns:gen="http://www.opengis.net/citygml/generics/3.0" xmlns:gml="http://www.opengis.net/gml/3.2">""" +
    """<gml:boundedBy>""" +
    """<gml:Envelope srsName="urn:adv:crs:ETRS89_UTM32*DE_DHHN92_NH" srsDimension="3">""" +
    """<gml:lowerCorner>457800.5 5439000.0 0.0</gml:lowerCorner>""" +
    """<gml:upperCorner>457812.0 5439003.0 12.0</gml:upperCorner></gml:Envelope>""" +
    """</gml:boundedBy>""" +
    """<core:cityObjectMember><bldg:Building gml:id="b1"><core:genericAttribute><gen:StringAttribute>""" +
    """<gen:name>height</gen:name><gen:value>10.5</gen:value></gen:StringAttribute></core:genericAttribute>""" +
    """<core:genericAttribute><gen:StringAttribute><gen:name>name</gen:name>""" +
    """<gen:value>A &amp; &lt;b></gen:value></gen:StringAttribute></core:genericAttribute><core:boundary>""" +
    """<con:GroundSurface gml:id="b1_ground"><core:lod2MultiSurface><gml:MultiSurface>""" +
    """<gml:surfaceMember><gml:Polygon gml:id="b1_ground_poly"><gml:exterior><gml:LinearRing>""" +
    """<gml:posList>457800.5 5439000.25 1.5 457804.0 5439000.25 1.5 457804.0 5439003.0 1.5 457800.5 5439003.0 1.5 457800.5 5439000.25 1.5</gml:posList>""" +
    """</gml:LinearRing></gml:exterior><gml:interior><gml:LinearRing>""" +
    """<gml:posList>457801.0 5439001.0 1.5 457802.0 5439001.0 1.5 457802.0 5439002.0 1.5 457801.0 5439001.0 1.5</gml:posList>""" +
    """</gml:LinearRing></gml:interior></gml:Polygon></gml:surfaceMember></gml:MultiSurface>""" +
    """</core:lod2MultiSurface></con:GroundSurface></core:boundary></bldg:Building>""" +
    """</core:cityObjectMember>""" +
    """<core:cityObjectMember><bldg:Building gml:id="b2"><core:boundary>""" +
    """<con:GroundSurface gml:id="b2_ground"><core:lod2MultiSurface><gml:MultiSurface>""" +
    """<gml:surfaceMember><gml:Polygon gml:id="b2_ground_poly"><gml:exterior><gml:LinearRing>""" +
    """<gml:posList>457810.0 5439000.0 0.0 457812.0 5439000.0 0.0 457812.0 5439002.0 0.0 457810.0 5439000.0 0.0</gml:posList>""" +
    """</gml:LinearRing></gml:exterior></gml:Polygon></gml:surfaceMember></gml:MultiSurface>""" +
    """</core:lod2MultiSurface></con:GroundSurface></core:boundary></bldg:Building>""" +
    """</core:cityObjectMember></core:CityModel>"""

  /** `groundFps` as a ground-only CityJSON document without a `semantics`
    * object — the reader types such faces by their z (all at the minimum z:
    * `GroundSurface`). The reference the typed ground export re-ingests
    * against. */
  val GroundCityJsonUntyped: String =
    """{"type":"CityJSON","version":"2.0",""" +
    """"transform":{"scale":[0.001,0.001,0.001],"translate":[0.0,0.0,0.0]},""" +
    """"CityObjects":{"b1":{"type":"Building","attributes":{"height":"10.5","name":"A & <b>"},""" +
    """"geometry":[{"type":"MultiSurface","lod":"2","boundaries":[[[0,1,2,3],[4,5,6]]]}]},""" +
    """"b2":{"type":"Building","attributes":{},""" +
    """"geometry":[{"type":"MultiSurface","lod":"2","boundaries":[[[7,8,9]]]}]},""" +
    """"b3":{"type":"Building","attributes":{"k":"v"},""" +
    """"geometry":[{"type":"MultiSurface","lod":"2","boundaries":[[[10,11,12]]]}]}},""" +
    """"vertices":[[457800500,5439000250,1500],[457804000,5439000250,1500],""" +
    """[457804000,5439003000,1500],[457800500,5439003000,1500],[457801000,5439001000,1500],""" +
    """[457802000,5439001000,1500],[457802000,5439002000,1500],[457810000,5439000000,0],""" +
    """[457812000,5439000000,0],[457812000,5439002000,0],[457850000,5439000000,0],""" +
    """[457851000,5439000000,0],[457851000,5439001000,0]]}"""
}
