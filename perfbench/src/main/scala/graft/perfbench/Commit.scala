package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.app.Pipeline
import graft.core.Tiles
import graft.model.Footprint
import graft.operators.{Dedup, KnnJoin, PipJoin, TileAssign}
import graft.sources.IceLite

/**
 * The two commit workloads: the north-star batch job (`enrich_commit`) and
 * the same job behind caption curation (`curate_commit`). Each iteration's
 * `commit` ingests the city files and runs `Pipeline.run` into a fresh
 * IceLite table; `enrich_commit` adds `enrich_scan` (`Pipeline.enrich` into
 * a noop sink) and `resume` (finish a table whose first half of buckets was
 * committed outside the timer).
 */
abstract class CommitWorkload(c: Ctx) extends Workload(c) {
  val buckets = 16
  val zoom = 20
  def inputRows: Long
  def cityBuildings: Int
  def curate: Boolean
  def writeInput(path: String, skew: Gen.Skew): Unit
  /** Reference-answer index (caption rows: cluster members share one). */
  def geoIndex(i: Long): Long = i

  var imagesDir = ""
  var cityDirs = ("", "")
  var city: Gen.City = _
  var skew: Gen.Skew = _
  var polys: Seq[Footprint] = Nil
  var oracle: Oracle = _
  /** Per input row: the number of footprints covering its geotag. */
  var pipCount: Array[Int] = _
  var sample: Seq[(String, Double, Double)] = Nil
  val stored = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (bytes, files, rows) per commit
  val partitions = mutable.ArrayBuffer.empty[(String, Int, Int)] // (op, written, skipped)
  private var tamperNext = false
  private var tableNo = 0

  def generate(round: Int): Unit = {
    val dir = ctx.fresh(s"setup-$round")
    city = rec.call("setup", "Gen.city")(Gen.city(seed, cityBuildings, 40.0))
    cityDirs = rec.call("setup", "Exporters.export")(Gen.exportCity(city, dir.resolve("city"), 2))
    skew = Gen.skewFor(seed, city)
    imagesDir = dir.resolve("input").toString
    rec.call("setup", "input.write")(writeInput(imagesDir, skew))
    polys = ingestCity("setup", cityDirs)
  }

  def prepareOracle(): Unit = {
    require(polys.size == city.buildings.size,
      s"ingest returned ${polys.size} buildings of ${city.buildings.size} exported")
    oracle = new Oracle(polys)
    pipCount = Array.tabulate(inputRows.toInt) { i =>
      val (x, y) = Gen.geotag(seed, geoIndex(i), skew)
      oracle.pip(x, y).size
    }
    sample = (0 until scale.sample).map { k =>
      val i = java.lang.Math.floorMod(graft.core.Hashing.mix64(seed ^ (k * 7919L + 1)), inputRows)
      val (x, y) = Gen.geotag(seed, geoIndex(i), skew)
      (Gen.imageId(i), x, y)
    }.distinct
  }

  private def table(): String = { tableNo += 1; ctx.fresh(s"tables/t$tableNo").toString }

  def images: DataFrame = spark.read.parquet(imagesDir)

  /** Rows the committed table must hold for the ids that survive the job. */
  def expectedRows(table: String): Long
  /** Sample ids that must appear in the last checked table. */
  def sampleSurvivors: Set[String] = sample.map(_._1).toSet

  /** Enriched rows for the sample against the oracles: PIP pairs, nearest
    * centroid and tile. */
  def checkEnriched(rows: Seq[Row], ids: Set[String]): Unit = {
    val pts = sample.filter(p => ids.contains(p._1))
    oracle.checkPip(pts, rows.map(r => (r.getAs[String]("image_id"), r.getAs[String]("feature_id"))).toSet)
    val nn = rows.groupBy(_.getAs[String]("image_id")).map { case (id, rs) =>
      id -> rs.map(r => (r.getAs[String]("nn_id"), r.getAs[Double]("nn_d2"))).distinct }
    oracle.checkKnn(pts.filter(p => nn.contains(p._1)), 1, nn)
    rows.foreach { r =>
      val t = Tiles.pack(Tiles.tileOf(r.getAs[Double]("x"), r.getAs[Double]("y"), zoom))
      require(r.getAs[Long]("tile_id") == t, s"tile: ${r.getAs[String]("image_id")} in wrong tile")
    }
  }

  /** Committed-table audit: `verifyLineage` (inside `Pipeline.run`) passed
    * for every partition, and the rows read back are the expected count and,
    * on the sample, what the oracles say. */
  def checkTable(table: String, written: Int, skipped: Int, auditOk: Int): Unit = {
    if (tamperNext) { dropOneRow(table); tamperNext = false }
    require(auditOk == written + skipped, s"audit: $auditOk of ${written + skipped} partitions ok")
    val t = IceLite.read(spark, table)
    val n = t.count()
    val want = expectedRows(table)
    require(n == want, s"committed $n rows, expected $want")
    val rows = t.where(col("image_id").isin(sample.map(_._1): _*)).collect().toSeq
    checkEnriched(rows, sampleSurvivors)
  }

  def recordStored(table: String): Unit = {
    val (b, f) = Ctx.du(Paths.get(table))
    stored += ((b, f, IceLite.currentSnapshot(table).partitions.map(_.rows).sum))
  }

  def commitOp(): Unit = {
    val t = table()
    rec.op("commit") {
      val fps = ingestCity("commit", cityDirs)
      (fps, rec.call("commit", "Pipeline.run")(Pipeline.run(spark, imagesDir, fps, t,
        zoom = zoom, nBuckets = buckets, curate = curate)))
    } { case (fps, (w, s, ok)) =>
      require(fps == polys, "ingest: footprints differ from the set-up ingest")
      require(s == 0 && w > 0, s"commit: wrote $w, skipped $s partitions")
      partitions += (("commit", w, s))
      checkTable(t, w, s, ok)
      recordStored(t)
    }
    Ctx.rm(Paths.get(t))
  }

  def rowsPerSecond(): Double = inputRows / Stats.median(rec.secondsOf("commit"))

  def storedBytesPerRow(): Double =
    Stats.median(stored.toSeq.map { case (b, _, r) => b.toDouble / math.max(r, 1L) })

  /** Self-test: drop one committed row before the benchmark's own audit. */
  override def tamper(): Unit = tamperNext = true

  private def dropOneRow(table: String): Unit = {
    val s = Files.walk(Paths.get(table, "data"))
    val f = try s.filter(_.toString.endsWith(".parquet")).sorted().findFirst().get() finally s.close()
    val tmp = ctx.fresh("tamper")
    val df = spark.read.parquet(f.toString)
    df.limit((df.count() - 1).toInt).coalesce(1).write.parquet(tmp.toString)
    val s2 = Files.list(tmp)
    val part = try s2.filter(_.toString.endsWith(".parquet")).findFirst().get() finally s2.close()
    Files.delete(f)
    // the rewrite is self-consistent: drop the stale checksum sidecar, so the
    // row count (not the local file system's CRC) has to catch the change
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    Files.move(part, f)
    Ctx.rm(tmp)
  }

  // ------------------------------------------------------- traced extras

  /** The near-duplicate stages called alone on a caption corpus: LSH pair
    * generation, connected components (with its round count) and the
    * keep-best top-k aggregate. */
  def dedupLayers(docs: DataFrame, out: mutable.LinkedHashMap[String, Double]): Unit = {
    val (pairs, lshS) = rec.layer("Dedup.lshPairs") {
      val p = Dedup.lshPairs(docs).select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
      p.count(); p
    }
    out("operators.dedup.lsh_s") = lshS
    out("operators.dedup.pairs") = pairs.count().toDouble
    val ((labels, rounds), ccS) = rec.layer("Dedup.connectedComponentsWithRounds") {
      val (l, r) = Dedup.connectedComponentsWithRounds(pairs)
      val lp = l.persist(); lp.count(); (lp, r)
    }
    out("operators.dedup.cc_s") = ccS
    out("operators.dedup.cc_rounds") = rounds.toDouble
    val quality = docs.select(col("doc_id"), coalesce(
      graft.functions.TextFunctions.qualityColumns(col("text")).last,
      lit(Double.NegativeInfinity)).as("quality"))
    out("operators.dedup.keep_s") = rec.layer("topk_by")(Layers.noop(
      quality.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
        .groupBy("root")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(col("quality"), col("doc_id"), 1))))._2
    pairs.unpersist(); labels.unpersist()
  }

  /** Operators called alone into a noop sink on the workload's own points,
    * plus the filter/refine counts and the regimes the routers chose. */
  def operatorLayers(points: DataFrame, fps: Seq[Footprint], k: Int, zooms: Seq[Int],
                     out: mutable.LinkedHashMap[String, Double]): Unit = {
    out("sources.ingest_footprints") = polys.size.toDouble
    val ps = partitions.filter(_._1 == "resume") match { case r if r.nonEmpty => r; case _ => partitions }
    out("sources.icelite.partitions_written") = Layers.mean(ps.map(_._2.toDouble).toSeq)
    out("sources.icelite.partitions_skipped") = Layers.mean(ps.map(_._3.toDouble).toSeq)
    out("sources.icelite.bytes_written") = Layers.mean(stored.map(_._1.toDouble).toSeq)
    out("sources.icelite.files_written") = Layers.mean(stored.map(_._2.toDouble).toSeq)
    val pip = PipJoin.auto(points, fps)
    out("operators.pip_s") = rec.layer("PipJoin.auto")(Layers.noop(pip))._2
    out("operators.pip_regime") = Layers.pipRegime(pip.queryExecution.executedPlan.toString)
    out("operators.knn_s") = rec.layer("KnnJoin.broadcastGrid")(Layers.noop(KnnJoin.broadcastGrid(
      points.withColumnRenamed("image_id", "probe_id"), oracle.centroids, k)))._2
    out("operators.knn_regime") = if (fps.size <= 512) 0 else 1
    val ds = spark.createDataset(fps)(org.apache.spark.sql.Encoders.product[Footprint])
    out("operators.tile_s") = rec.layer("TileAssign.assign")(Layers.noop(TileAssign.assign(points, ds, zooms)))._2
    out("operators.pip_candidates") = Layers.pipCandidates(points, ds).toDouble
    out("operators.pip_matched") = pip.count().toDouble
  }
}

final class EnrichCommit(c: Ctx) extends CommitWorkload(c) {
  val name = "enrich_commit"
  def inputRows: Long = scale.images
  def cityBuildings: Int = scale.imageCity
  def curate = false
  def writeInput(path: String, skew: Gen.Skew): Unit =
    Gen.images(spark, seed, inputRows, skew, 8).write.parquet(path)
  def expectedRows(table: String): Long = pipCount.map(_.toLong).sum

  /** A table holding the first half of the buckets, committed once; each
    * `resume` finishes a fresh copy of it. */
  private var halfTable = ""

  override def warmUp(): Unit = {
    halfTable = ctx.fresh("tables/half").toString
    IceLite.writeResumable(Pipeline.enrich(images, polys, zoom = zoom, nBuckets = buckets)
      .where(col("bucket") < buckets / 2), halfTable, "bucket")
    iteration()
  }

  def iteration(): Unit = {
    commitOp()
    rec.op("enrich_scan") {
      rec.call("enrich_scan", "Pipeline.enrich")(
        Pipeline.enrich(images, polys, zoom = zoom, nBuckets = buckets)
          .write.format("noop").mode("overwrite").save())
    } { _ =>
      val ids = sample.map(_._1)
      checkEnriched(Pipeline.enrich(images.where(col("image_id").isin(ids: _*)), polys,
        zoom = zoom, nBuckets = buckets).collect().toSeq, ids.toSet)
    }
    val t = ctx.fresh(s"tables/resume").toString
    Ctx.copy(Paths.get(halfTable), Paths.get(t))
    rec.op("resume") {
      rec.call("resume", "Pipeline.run")(Pipeline.run(spark, imagesDir, polys, t,
        zoom = zoom, nBuckets = buckets))
    } { case (w, s, ok) =>
      require(s == buckets / 2 && w == buckets / 2, s"resume: wrote $w, skipped $s partitions")
      partitions += (("resume", w, s))
      checkTable(t, w, s, ok)
    }
    Ctx.rm(Paths.get(t))
  }

  def figures(): Seq[(String, Double, String)] = Seq(
    ("enrich_rows_per_s", inputRows / Stats.median(rec.secondsOf("enrich_scan")), "rows/s"),
    ("resume_s", Stats.median(rec.secondsOf("resume")), "s"),
    ("committed_rows", Stats.median(stored.toSeq.map(_._3.toDouble)), "rows"))

  /** The dedup layer has no timed op here; its stages are measured on a
    * seeded caption corpus so the traced run covers every layer. */
  def layers(out: mutable.LinkedHashMap[String, Double]): Unit = {
    operatorLayers(images.select("image_id", "x", "y"), polys, 1, Seq(zoom), out)
    dedupLayers(Gen.captions(spark, seed, scale.captions, skew, 4)
      .select(col("image_id").as("doc_id"), col("caption").as("text")), out)
  }
}

final class CurateCommit(c: Ctx) extends CommitWorkload(c) {
  val name = "curate_commit"
  def inputRows: Long = scale.captions
  def cityBuildings: Int = scale.captionCity
  def curate = true
  override def geoIndex(i: Long): Long = Gen.geoIndex(seed, i)
  def writeInput(path: String, skew: Gen.Skew): Unit =
    Gen.captions(spark, seed, inputRows, skew, 8).write.parquet(path)

  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var kept = Set.empty[Long]

  override def sampleSurvivors: Set[String] =
    sample.map(_._1).filter(id => kept.contains(id.stripPrefix("img_").toLong)).toSet

  /** Survivors are read back from the table: every unplanted row that hits
    * a footprint must be there, each planted cluster that hits one keeps at
    * least one member, and the row count is the survivors' PIP matches. */
  def expectedRows(table: String): Long = {
    kept = IceLite.read(spark, table).select("image_id").distinct().collect()
      .map(r => r.getString(0).stripPrefix("img_").toLong).toSet
    var removed = 0L; var dups = 0L
    val clusters = mutable.Map.empty[Long, (Int, Int)] // block → (members, kept)
    (0L until inputRows).foreach { i =>
      Gen.plantedOf(seed, i) match {
        case None => require(pipCount(i.toInt) == 0 || kept.contains(i),
          s"curate: removed unplanted row ${Gen.imageId(i)}")
        case Some((b, _)) if pipCount(i.toInt) > 0 =>
          val (m, k) = clusters.getOrElse(b, (0, 0))
          clusters(b) = (m + 1, k + (if (kept.contains(i)) 1 else 0))
        case _ =>
      }
    }
    clusters.foreach { case (b, (m, k)) =>
      require(k >= 1, s"curate: planted cluster $b lost every member")
      removed += m - k; dups += m - 1
    }
    recalls += removed.toDouble / math.max(dups, 1L)
    kept.iterator.map(i => pipCount(i.toInt).toLong).sum
  }

  def iteration(): Unit = commitOp()

  def figures(): Seq[(String, Double, String)] = Seq(
    ("dedup_recall", Stats.median(recalls.toSeq), "ratio"))

  def layers(out: mutable.LinkedHashMap[String, Double]): Unit = {
    dedupLayers(images.select(col("image_id").as("doc_id"), col("caption").as("text")), out)
    operatorLayers(images.select("image_id", "x", "y"), polys, 1, Seq(zoom), out)
  }
}
