package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/**
 * `IceLite.read` serves exactly the current snapshot, with the writer's
 * schema taken from a Parquet footer on the driver (no Spark job).
 */
class IceLiteReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A committed table of three partitions with map, array and struct columns. */
  private def table(): String = {
    val t = Files.createTempDirectory("icelite_read").resolve("t").toString
    val df = spark.range(0, 30).select((col("id") % 3).cast("string").as("part"), col("id").as("v"),
      map(col("id").cast("string"), col("id") * 2).as("m"), array(col("id"), lit(1L)).as("a"),
      struct(col("id").cast("double").as("x"), array(struct(col("id").as("k"))).as("ks")).as("s"))
    IceLite.writeResumable(df, t, "part")
    t
  }

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.forEach(f => Files.copy(f, to.resolve(f.getFileName))) finally s.close()
  }

  test("read runs no Spark job and gives spark.read.parquet's schema, nested columns included") {
    val t = table()
    val (df, jobs) = TestSpark.jobsRunBy(IceLite.read(spark, t))
    assert(jobs === 0, s"IceLite.read ran $jobs Spark jobs")
    val inferred = spark.read.parquet(Seq("0", "1", "2").map(p => s"$t/data/$p"): _*).schema
    assert(df.schema === inferred)
    assert(df.schema.fieldNames.toSeq === Seq("part", "v", "m", "a", "s"))
    assert(df.count() === 30)
    assert(df.where(col("v") === 7).select(col("m")("7"), col("a")(0), col("s.ks")(0)("k")).head().toSeq ===
      Seq(14L, 7L, 7L))
  }

  test("a partition moved into data/ but never committed is not read; the audit passes") {
    val t = table()
    // a writeResumable that crashed between moving its staged dir and
    // committing the snapshot leaves an uncommitted partition dir behind
    copyDir(Paths.get(t, "data", "0"), Paths.get(t, "data", "9"))
    val back = IceLite.read(spark, t)
    assert(back.count() === 30)
    assert(back.select("part").distinct().collect().map(_.getString(0)).toSet === Set("0", "1", "2"))
    val audit = IceLite.verifyLineage(spark, t, "part")
    assert(audit.map(_._1).toSet === Set("0", "1", "2") && audit.forall(_._2), s"audit: $audit")
  }

  test("reading a table with no commit fails naming the table") {
    val dir = Files.createTempDirectory("icelite_none")
    Seq(dir.resolve("never"), dir.resolve("empty")).foreach { t =>
      if (t.endsWith("empty")) IceLite.writeResumable(spark.range(0).select(col("id").as("part")), t.toString, "part")
      val e = intercept[Exception](IceLite.read(spark, t.toString))
      assert(e.getMessage.contains(t.toString), e.getMessage)
    }
  }
}
