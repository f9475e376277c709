package graft

import java.nio.file.{Files, Path, Paths}

/**
 * The committed CityGML/CityJSON fixtures (FIXTURES.md §2-3) under
 * `src/test/resources/fixtures/`, resolved to absolute paths against the
 * project base directory — the working directory of the forked test and
 * `run` JVMs — so Spark tasks ([[graft.sources.DistributedIngest]]) read the
 * same files as the driver. The specs, [[SparkEntry]] and [[Bench]] read
 * them through here; a missing file fails with one message naming it.
 */
object Fixtures {

  val Dir: Path = Paths.get("src", "test", "resources", "fixtures").toAbsolutePath

  /** FZK-Haus LoD2, CityGML 2.0 (FIXTURES.md §2). */
  def fzkV2: String = file("citygml/fzk_haus_lod2_v2.gml")

  /** The same building in CityGML 1.0 namespaces, with XLinks (FIXTURES.md §2). */
  def fzkV1: String = file("citygml/fzk_haus_lod2_v1.gml")

  /** The 100-building CityJSON 2.0 grid (FIXTURES.md §3). */
  def cityJson: String = file("cityjson/lod2_buildings_v2.json")

  private[graft] def file(rel: String): String = {
    val p = Dir.resolve(rel)
    if (!Files.isRegularFile(p))
      throw new java.io.FileNotFoundException(
        s"fixture file $rel not found under the fixture directory $Dir " +
          "(run from the project base directory; FIXTURES.md lists the fixtures)")
    p.toString
  }
}
