package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/**
 * Deterministic generator of the committed CityJSON 2.0 fixture
 * `cityjson/lod2_buildings_v2.json` (FIXTURES.md §3): 100 gable-roof
 * Building solids on a 10×10 grid filling the extent [0,0,0, 96,98,12].
 *
 * Building (r, c) stands on the 6 m × 8 m rectangle at (10c, 10r), ridge
 * along y at height h = 8 + (3 + 3r + 7c) % 5 m, eaves at h − 3 m; 10
 * vertices, 7 faces with CityJSON semantics (1 Ground, 4 Wall, 2 Roof),
 * outward-oriented. Vertices are quantized at scale 0.001 (translate 0).
 * Building (0, 0) carries the id and attribute values FIXTURES.md §3 records
 * for the first reference building; every other id is minted as a
 * name-based UUID of "Testcase-r-c_LoD2".
 *
 * Re-run from the project base directory with
 * `sbt "Test/runMain graft.sources.CityJsonFixtureGen"`; FixturesSpec checks
 * that the committed file equals [[render]] byte for byte.
 */
object CityJsonFixtureGen {

  val FirstId = "FZK_GUID_1F3E679D-E226-4535-926C-7390977FB25A"

  def id(r: Int, c: Int): String =
    if (r == 0 && c == 0) FirstId
    else "FZK_GUID_" + java.util.UUID.nameUUIDFromBytes(
      s"Testcase-$r-${c}_LoD2".getBytes(StandardCharsets.UTF_8)).toString.toUpperCase

  /** Face rings over the building's 10 local vertex indices: ground, walls
    * west/east/south/north, roofs west/east. */
  private val Faces = Seq(Seq(0, 3, 2, 1), Seq(3, 0, 4, 7), Seq(1, 2, 6, 5),
    Seq(0, 1, 5, 8, 4), Seq(2, 3, 7, 9, 6), Seq(7, 4, 8, 9), Seq(5, 6, 9, 8))

  def render(): String = {
    val objs = Seq.newBuilder[String]
    val verts = Seq.newBuilder[String]
    for (r <- 0 until 10; c <- 0 until 10) {
      val i = r * 10 + c
      val h = 8 + (3 + 3 * r + 7 * c) % 5
      // millimetre integers: x0, x1, xm (ridge), y0, y1, eaves, ridge
      val (x0, y0) = (10000 * c, 10000 * r)
      val (x1, y1, xm) = (x0 + 6000, y0 + 8000, x0 + 3000)
      val (e, z) = ((h - 3) * 1000, h * 1000)
      Seq((x0, y0, 0), (x1, y0, 0), (x1, y1, 0), (x0, y1, 0),
        (x0, y0, e), (x1, y0, e), (x1, y1, e), (x0, y1, e),
        (xm, y0, z), (xm, y1, z)).foreach { case (a, b, d) => verts += s"[$a,$b,$d]" }
      val shell = Faces.map(_.map(_ + 10 * i).mkString("[[", ",", "]]")).mkString("[", ",", "]")
      val storeys = 2 + (3 + r + 2 * c) % 4
      val date = f"${1960 + (7 * i) % 60}-${1 + i % 12}%02d-${1 + i % 28}%02d"
      objs += s"""    "${id(r, c)}": {"type": "Building", """ +
        s""""attributes": {"measuredHeight": $h, "dateOfConstruction": "$date", """ +
        s""""roofType": "1030", "storeysAboveGround": $storeys}, """ +
        s""""geometry": [{"type": "Solid", "lod": "2", "boundaries": [$shell], """ +
        """"semantics": {"surfaces": [{"type": "GroundSurface"}, {"type": "WallSurface"}, """ +
        """{"type": "RoofSurface"}], "values": [[0, 1, 1, 1, 1, 2, 2]]}}]}"""
    }
    Seq(
      "{",
      """  "type": "CityJSON",""",
      """  "version": "2.0",""",
      """  "transform": {"scale": [0.001, 0.001, 0.001], "translate": [0.0, 0.0, 0.0]},""",
      """  "metadata": {"referenceSystem": "https://www.opengis.net/def/crs/EPSG/0/3068", """ +
        """"geographicalExtent": [0, 0, 0, 96, 98, 12]},""",
      """  "CityObjects": {""",
      objs.result().mkString(",\n"),
      "  },",
      """  "vertices": [""",
      verts.result().map("    " + _).mkString(",\n"),
      "  ]",
      "}",
      "").mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.map(java.nio.file.Paths.get(_))
      .getOrElse(graft.Fixtures.Dir.resolve("cityjson/lod2_buildings_v2.json"))
    Files.createDirectories(out.getParent)
    Files.write(out, render().getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out")
  }
}
