package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CityJsonFixtureGen

class FixturesSpec extends AnyFunSuite {

  test("committed CityJSON fixture is the generator's output byte for byte") {
    val committed = Files.readAllBytes(java.nio.file.Paths.get(Fixtures.cityJson))
    assert(new String(committed, "UTF-8") === CityJsonFixtureGen.render())
  }

  test("fixture paths are absolute files under the committed fixture directory") {
    Seq(Fixtures.fzkV2, Fixtures.fzkV1, Fixtures.cityJson).foreach { p =>
      val path = java.nio.file.Paths.get(p)
      assert(path.isAbsolute && path.startsWith(Fixtures.Dir) && Files.isRegularFile(path), p)
    }
  }

  test("a missing fixture fails with one message naming the file and the directory") {
    val e = intercept[java.io.FileNotFoundException](Fixtures.file("citygml/absent.gml"))
    assert(e.getMessage.contains("citygml/absent.gml"))
    assert(e.getMessage.contains(Fixtures.Dir.toString))
  }
}
