package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.{CityJsonReader, IceLite, ImageGen}

class TileIceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val cjFps = CityJsonReader.toFootprints(
    CityJsonReader.parseFile(graft.Fixtures.cityJson), 1)
    .filter(_.feature_type == "Building")

  test("featureTiles == brute-force tile cover at zooms 18-21") {
    val zooms = Seq(18, 19, 20, 21)
    val got = TileAssign.featureTiles(spark.createDataset(cjFps), zooms)
      .select("feature_id", "zoom", "tile_id").as[(String, Int, Long)].collect().toSet
    val want = TileAssign.bruteForceFeatureTiles(cjFps, zooms)
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("point-tile assignment joins points to the features sharing their tile") {
    val pts = (0 until 500).map { i =>
      (s"p$i", graft.core.Hashing.uniform(3, i * 2) * 100.0,
        graft.core.Hashing.uniform(3, i * 2 + 1) * 100.0)
    }
    val df = pts.toDF("image_id", "x", "y")
    val zooms = Seq(20)
    val got = TileAssign.assign(df, spark.createDataset(cjFps), zooms)
      .select("image_id", "feature_id").as[(String, String)].collect().toSet
    // oracle: point tile ∈ feature cover tiles
    val cover = TileAssign.bruteForceFeatureTiles(cjFps, zooms)
      .groupBy(_._3).map { case (t, xs) => t -> xs.map(_._1) }
    val want = (for {
      (id, x, y) <- pts
      t = graft.core.Tiles.pack(graft.core.Tiles.tileOf(x, y, 20))
      fid <- cover.getOrElse(t, Set.empty)
    } yield (id, fid)).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // top-k per tile is deterministic and bounded
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("zoom", "tile_id").orderBy(col("image_id"))
    val topk = TileAssign.pointTiles(df, zooms)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    val counts = topk.groupBy("zoom", "tile_id").count().select(max("count")).head().getLong(0)
    assert(counts <= 3)
  }

  test("IceLite: resumable write skips committed partitions; lineage verifies; byte-stable") {
    val dir = java.nio.file.Files.createTempDirectory("icelite").toString
    val table = s"$dir/events_by_type"
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    // stage 1: "crash" after only two partitions committed
    val firstTwo = df.where(col("event_type").isin("click", "error"))
    val (w1, s1) = IceLite.writeResumable(firstTwo, table, "event_type")
    assert(w1.toSet === Set("click", "error") && s1.isEmpty)
    val snap1 = IceLite.currentSnapshot(table)
    assert(snap1.partitions.size === 2)

    // restart with the FULL input: committed partitions must be skipped
    val (w2, s2) = IceLite.writeResumable(df, table, "event_type")
    assert(s2.toSet === Set("click", "error"), "committed partitions not skipped")
    assert(w2.nonEmpty)

    // third run: everything skipped (idempotent no-op)
    val (w3, s3) = IceLite.writeResumable(df, table, "event_type")
    assert(w3.isEmpty && s3.size === s2.size + w2.size)

    // lineage audit: every committed partition's recomputed checksum matches
    val audit = IceLite.verifyLineage(spark, table, "event_type")
    assert(audit.nonEmpty && audit.forall(_._2), s"lineage mismatch: $audit")

    // round trip: table content equals input (row multiset)
    val back = IceLite.read(spark, table)
    assert(back.count() === df.count())
    val a = back.agg(sum(xxhash64(back.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head().get(0)
    val b = df.agg(sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head().get(0)
    assert(a.toString === b.toString, "content checksum differs after resume")
  }

  test("IceLite: one file per committed partition, on a fresh commit and on resume") {
    val dir = java.nio.file.Files.createTempDirectory("icelite_files").toString
    // every partition value spread over many input tasks: repartition high
    // before the write
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").repartition(24)
    def files(table: String, pv: String) = {
      val d = java.nio.file.Paths.get(table, "data", IceLite.escapePart(pv))
      val s = java.nio.file.Files.list(d)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    def oneFileEach(table: String): Unit = {
      val parts = IceLite.currentSnapshot(table).partitions.map(_.partition)
      assert(parts.map(pv => pv -> files(table, pv)).toMap === parts.map(_ -> 1L).toMap)
      assert(IceLite.verifyLineage(spark, table, "event_type").forall(_._2))
      assert(IceLite.read(spark, table).count() === df.count())
    }

    val fresh = s"$dir/fresh"
    val (all, _) = IceLite.writeResumable(df, fresh, "event_type")
    assert(all.size >= 4)
    oneFileEach(fresh)

    // half committed first, then the full input resumes the rest
    val resumed = s"$dir/resumed"
    val half = all.take(all.size / 2)
    IceLite.writeResumable(df.where(col("event_type").isin(half: _*)), resumed, "event_type")
    val (written, skipped) = IceLite.writeResumable(df, resumed, "event_type")
    assert(skipped === half && written === all.drop(half.size))
    oneFileEach(resumed)
  }

  test("IceLite: time travel reads exactly the partitions of a historical snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("icelite_tt").toString
    val table = s"$dir/events_by_type"
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // v1..v2: two partitions committed, then the rest in later versions
    IceLite.writeResumable(df.where(col("event_type").isin("click", "error")), table, "event_type")
    val vMid = IceLite.currentSnapshot(table).version
    IceLite.writeResumable(df, table, "event_type")
    val vHead = IceLite.currentSnapshot(table).version
    assert(vHead > vMid)

    val asOfMid = IceLite.readVersion(spark, table, vMid)
    assert(asOfMid.select("event_type").distinct().as[String].collect().toSet
      === Set("click", "error"))
    assert(asOfMid.count() === df.where(col("event_type").isin("click", "error")).count())
    // head version == full table == plain read
    assert(IceLite.readVersion(spark, table, vHead).count() === df.count())
    // the historical version still reads the same after the head read
    assert(IceLite.readVersion(spark, table, vMid).count()
      === df.where(col("event_type").isin("click", "error")).count())
  }

  test("IceLite: expireVersions drops old manifests, never data; retained versions intact") {
    val dir = java.nio.file.Files.createTempDirectory("icelite_exp").toString
    val table = s"$dir/events_by_type"
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // build a multi-version history: 2 partitions, then the rest (one
    // snapshot version per committed partition)
    IceLite.writeResumable(df.where(col("event_type").isin("click", "error")), table, "event_type")
    IceLite.writeResumable(df, table, "event_type")
    val head = IceLite.currentSnapshot(table).version
    assert(head >= 4)
    val keepN = 2
    val beforeRows = IceLite.readVersion(spark, table, head - 1).count() // oldest retained
    val beforeHash = IceLite.readVersion(spark, table, head - 1)
      .agg(sum(xxhash64(col("event_id")).cast("decimal(38,0)"))).head().get(0).toString

    val expired = IceLite.expireVersions(table, keepN)
    assert(expired === (1 to head - keepN))
    // expired version: loud, actionable failure
    val e = intercept[IllegalArgumentException](IceLite.readVersion(spark, table, 1))
    assert(e.getMessage.contains("expired") || e.getMessage.contains("does not exist"))
    // oldest retained version: byte-identical content (rows + content hash)
    assert(IceLite.readVersion(spark, table, head - 1).count() === beforeRows)
    assert(IceLite.readVersion(spark, table, head - 1)
      .agg(sum(xxhash64(col("event_id")).cast("decimal(38,0)"))).head().get(0).toString === beforeHash)
    // head + plain read + lineage audit all unaffected
    assert(IceLite.readVersion(spark, table, head).count() === df.count())
    assert(IceLite.read(spark, table).count() === df.count())
    assert(IceLite.verifyLineage(spark, table, "event_type").forall(_._2))
    // idempotent; expiring again with the same horizon is a no-op
    assert(IceLite.expireVersions(table, keepN).isEmpty)
  }

  test("IceLite: path-hostile partition values are escaped, round-trip, and audit") {
    val dir = java.nio.file.Files.createTempDirectory("icelite_esc").toString
    val table = s"$dir/hostile"
    val df = Seq(
      ("a/b", 1L), ("a/b", 2L), ("..", 3L), ("x:y z", 4L), ("plain", 5L)
    ).toDF("part", "v")
    val (w, _) = IceLite.writeResumable(df, table, "part")
    assert(w.toSet === Set("a/b", "..", "x:y z", "plain"))
    // nothing escaped the table directory
    val tableRoot = java.nio.file.Paths.get(table).toAbsolutePath.normalize
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
      assert(p.toAbsolutePath.normalize.startsWith(tableRoot.getParent),
        s"file written outside the temp dir: $p")
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "b")),
      "a/b must not create a nested raw directory")
    // manifest keeps RAW values; read + audit still work
    val snap = IceLite.currentSnapshot(table)
    assert(snap.partitions.map(_.partition).toSet === w.toSet)
    val audit = IceLite.verifyLineage(spark, table, "part")
    assert(audit.nonEmpty && audit.forall(_._2), s"lineage mismatch: $audit")
    val back = IceLite.read(spark, table)
    assert(back.count() === 5)
    // resume skips every hostile value
    val (w2, s2) = IceLite.writeResumable(df, table, "part")
    assert(w2.isEmpty && s2.toSet === w.toSet)
  }

  test("IceLite: empty-string partition value commits (Hive default-partition naming); null rejected") {
    // Spark's partitionBy names the empty value __HIVE_DEFAULT_PARTITION__,
    // not escapePathName("") — the staged-dir move must follow that naming
    val dir = java.nio.file.Files.createTempDirectory("icelite_empty").toString
    val table = s"$dir/t"
    val df = Seq(("", 1L), ("", 2L), ("p", 3L)).toDF("part", "v")
    val (w, _) = IceLite.writeResumable(df, table, "part")
    assert(w.toSet === Set("", "p"))
    assert(IceLite.read(spark, table).count() === 3)
    val audit = IceLite.verifyLineage(spark, table, "part")
    assert(audit.toMap === Map("" -> true, "p" -> true), s"audit: $audit")
    val (w2, s2) = IceLite.writeResumable(df, table, "part")
    assert(w2.isEmpty && s2.toSet === Set("", "p"))
    // null partition values fail loudly up front, not mid-commit
    val withNull = Seq((Option.empty[String], 1L), (Some("x"), 2L)).toDF("part", "v")
    val ex = intercept[IllegalArgumentException] {
      IceLite.writeResumable(withNull, s"$dir/t2", "part")
    }
    assert(ex.getMessage.contains("null"))
  }

  test("IceLite: a fresh writeResumable runs 6 Spark jobs and its lineage equals the input's") {
    // discovery (2 jobs under AQE), the staging write (2: the map stage of
    // its hash exchange on the partition key, then the write) and the
    // lineage aggregation (2); the staged files are read back with the
    // writer's schema, so no schema-inference job runs between them
    val dir = java.nio.file.Files.createTempDirectory("icelite_jobs").toString
    val df = spark.range(0, 30)
      .select((col("id") % 3).cast("string").as("part"), col("id").as("v"))
    val ((w, s), jobs) = graft.TestSpark.jobsRunBy(IceLite.writeResumable(df, s"$dir/t", "part"))
    assert(w === Seq("0", "1", "2") && s.isEmpty)
    assert(jobs === 6, s"one fresh commit ran $jobs Spark jobs")
    IceLite.currentSnapshot(s"$dir/t").partitions.foreach { p =>
      assert((p.rows, p.checksum) === IceLite.lineageOf(df.where(col("part") === p.partition)),
        s"lineage of partition ${p.partition}")
    }
  }

  test("IceLite: resume writes only the pending partitions") {
    val dir = java.nio.file.Files.createTempDirectory("icelite_resume").toString
    val table = s"$dir/events_resume"
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val (w1, _) = IceLite.writeResumable(
      df.where(col("event_type") === "click"), table, "event_type")
    assert(w1 === Seq("click"))
    val (w2, s2) = IceLite.writeResumable(df, table, "event_type")
    assert(s2 === Seq("click") && w2.nonEmpty)
    val back = IceLite.read(spark, table)
    assert(back.count() === df.count())
    assert(IceLite.verifyLineage(spark, table, "event_type").forall(_._2))
  }

  test("IceLite: lineage checksum is order/parallelism independent") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val (r1, c1) = IceLite.lineageOf(df.repartition(16))
    val (r2, c2) = IceLite.lineageOf(df.coalesce(1))
    assert(r1 === r2 && c1 === c2)
  }

  test("IceLite: images table written resumable by partition bucket (binary payload)") {
    val dir = java.nio.file.Files.createTempDirectory("icelite_img").toString
    val table = s"$dir/images"
    val imgs = ImageGen.table(spark, 300, 4).toDF()
      .withColumn("bucket", pmod(xxhash64(col("image_id")), lit(4)))
    val (w1, _) = IceLite.writeResumable(imgs.where(col("bucket") < 2), table, "bucket")
    val (w2, s2) = IceLite.writeResumable(imgs, table, "bucket")
    assert(w1.size === 2 && w2.size === 2 && s2.size === 2)
    val back = IceLite.read(spark, table)
    assert(back.count() === 300)
    // payload invariant after resume: bytes identical to regeneration
    val m = back.select("image_id", "bytes").as[(String, Array[Byte])].collect().toMap
    for (i <- Seq(0L, 7L, 123L, 299L)) {
      assert(java.util.Arrays.equals(m(f"img_$i%010d"), ImageGen.row(i).bytes))
    }
  }
}
