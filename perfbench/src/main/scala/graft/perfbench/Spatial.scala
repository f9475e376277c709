package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.core.{Hashing, Tiles}
import graft.model.Footprint
import graft.operators.{KnnJoin, PipJoin, Setback, TileAssign}
import graft.sources.IceLite

/**
 * `spatial_queries`: a closed loop of one client with no think time. Every
 * query takes a fresh seeded batch of probes against a city large enough to
 * sit on the far side of each router (broadcast cell join in
 * `PipJoin.auto`, ring search in `KnnIndex`, `ringSearch` in `Setback.auto`);
 * the six query types interleave in a seeded order.
 */
final class SpatialQueries(c: Ctx) extends Workload(c) {
  val name = "spatial_queries"
  val kinds = Seq("pip", "knn", "tile", "setback", "range", "sqljoin")
  val zooms = Seq(16, 18)
  val k = 5
  val rangeZoom = 18

  var city: Gen.City = _
  var polys: Seq[Footprint] = Nil
  var polyDs: Dataset[Footprint] = _
  var rings: DataFrame = _
  var rangeTable = ""
  var oracle: Oracle = _
  var tileIndex: Map[(Int, Long), Set[String]] = Map.empty
  var rangeXs, rangeYs: Array[Double] = Array.empty
  var storedBytesRow = 0.0
  private var query = 0
  private var round = 0
  private val lastPlans = mutable.Map.empty[String, String]

  def generate(r: Int): Unit = {
    val dir = ctx.fresh(s"setup-$r")
    city = rec.call("setup", "Gen.city")(Gen.city(seed, scale.queryCity, 30.0))
    polys = ingestCity("setup",
      rec.call("setup", "Exporters.export")(Gen.exportCity(city, dir.resolve("city"), 4)))
    polyDs = spark.createDataset(polys)(Encoders.product[Footprint])
    polyDs.select(col("feature_id").as("fid"), col("ring"), col("holes"))
      .createOrReplaceTempView("bldg")
    rings = polyDs.select(col("feature_id").as("fid"),
      col("ring.x").as("xs"), col("ring.y").as("ys"))
    rangeTable = dir.resolve("range").toString
    rec.call("setup", "IceLite.writeResumable") {
      IceLite.writeResumable(Gen.rangeTable(spark, seed, scale.rangeRows, city.box, 8)
        .withColumn("tile_id", graft.functions.GeoFunctions.tile_of(col("x"), col("y"), lit(rangeZoom)))
        .withColumn("bucket", pmod(xxhash64(col("point_id")), lit(8))), rangeTable, "bucket")
    }
    val (bytes, _) = Ctx.du(dir.resolve("range"))
    storedBytesRow = bytes.toDouble / scale.rangeRows
  }

  def prepareOracle(): Unit = {
    require(polys.size == city.buildings.size,
      s"ingest returned ${polys.size} buildings of ${city.buildings.size} exported")
    oracle = new Oracle(polys)
    tileIndex = oracle.tileIndex(zooms)
    val pts = (0L until scale.rangeRows).map(i => Gen.rangePoint(seed, i, city.box))
    rangeXs = pts.map(_._1).toArray
    rangeYs = pts.map(_._2).toArray
  }

  private def sampleOf(batch: Seq[(String, Double, Double)]): Seq[(String, Double, Double)] =
    batch.take(scale.sample)

  private def probesDf(batch: Seq[(String, Double, Double)]): DataFrame =
    spark.createDataFrame(batch).toDF("probe_id", "x", "y")

  /** One round: each query type once, in a seeded order. */
  def iteration(): Unit = {
    val order = kinds.sortBy(kd => Hashing.mix64(seed ^ (round * 131L + kd.hashCode)))
    round += 1
    order.foreach(runQuery)
  }

  def runQuery(kind: String): Unit = {
    val q = query
    query += 1
    val batch = Gen.probes(seed, q, scale.probes, city.box)
    val sample = sampleOf(batch)
    kind match {
      case "pip" =>
        rec.op(kind) {
          val df = PipJoin.auto(probesDf(batch), polys).select("probe_id", "feature_id")
          val rows = rec.call(kind, "PipJoin.auto")(df.collect())
          lastPlans(kind) = df.queryExecution.executedPlan.toString
          rows
        } { rows => oracle.checkPip(sample, rows.map(r => (r.getString(0), r.getString(1))).toSet) }
      case "knn" =>
        rec.op(kind) {
          rec.call(kind, "KnnJoin.broadcastGrid")(
            KnnJoin.broadcastGrid(probesDf(batch), oracle.centroids, k).collect())
        } { rows =>
          oracle.checkKnn(sample, k, rows.toSeq.groupBy(_.getString(0)).map { case (id, rs) =>
            id -> rs.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))) })
        }
      case "tile" =>
        rec.op(kind) {
          rec.call(kind, "TileAssign.assign")(TileAssign.assign(probesDf(batch), polyDs, zooms)
            .select("probe_id", "zoom", "tile_id", "feature_id").collect())
        } { rows =>
          oracle.checkTiles(sample, zooms, tileIndex,
            rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet)
        }
      case "setback" =>
        rec.op(kind) {
          rec.call(kind, "Setback.auto")(Setback.auto(probesDf(batch), rings, idCol = "probe_id")
            .select("probe_id", "nearest", "d2").collect())
        } { rows =>
          require(rows.length == batch.size, s"setback: ${rows.length} rows for ${batch.size} probes")
          oracle.checkSetback(sample, rows.map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap)
        }
      case "range" =>
        val (x0, y0) = (batch.head._2, batch.head._3)
        val w = 200.0 + 600.0 * Gen.u(seed, q, 51)
        val byTile = q % 2 == 1
        val tile = Tiles.pack(Tiles.tileOf(x0, y0, rangeZoom))
        rec.op(kind) {
          val t = rec.call(kind, "IceLite.read")(IceLite.read(spark, rangeTable))
          val f = if (byTile) t.where(col("tile_id") === tile)
            else t.where(col("x").between(x0, x0 + w) && col("y").between(y0, y0 + w))
          rec.call(kind, "count")(f.count())
        } { n =>
          val want = rangeXs.indices.count { i =>
            val (x, y) = (rangeXs(i), rangeYs(i))
            if (byTile) Tiles.pack(Tiles.tileOf(x, y, rangeZoom)) == tile
            else x >= x0 && x <= x0 + w && y >= y0 && y <= y0 + w
          }
          require(n == want, s"range: counted $n, expected $want")
        }
      case "sqljoin" =>
        rec.op(kind) {
          probesDf(batch).createOrReplaceTempView("probes")
          val df = spark.sql("SELECT p.probe_id, b.fid FROM probes p, bldg b " +
            "WHERE st_covers(b.ring, b.holes, p.x, p.y)")
          val rows = rec.call(kind, "spark.sql")(df.collect())
          lastPlans(kind) = df.queryExecution.executedPlan.toString
          rows
        } { rows => oracle.checkPip(sample, rows.map(r => (r.getString(0), r.getString(1))).toSet) }
    }
  }

  def rowsPerSecond(): Double = {
    val probeOps = rec.timedOps.filter(_.kind != "range")
    probeOps.size * scale.probes / probeOps.map(_.seconds).sum
  }

  def storedBytesPerRow(): Double = storedBytesRow

  def figures(): Seq[(String, Double, String)] =
    kinds.map(kd => (s"${kd}_ms_p50", Stats.median(rec.secondsOf(kd).map(_ * 1e3)), "ms"))

  def layers(out: mutable.LinkedHashMap[String, Double]): Unit = {
    val batch = Gen.probes(seed, -1, scale.probes, city.box)
    val pts = probesDf(batch)
    out("sources.ingest_footprints") = polys.size.toDouble
    val pip = PipJoin.auto(pts, polys)
    out("operators.pip_s") = rec.layer("PipJoin.auto")(Layers.noop(pip))._2
    out("operators.pip_regime") = Layers.pipRegime(lastPlans.getOrElse("pip", ""))
    out("operators.knn_s") =
      rec.layer("KnnJoin.broadcastGrid")(Layers.noop(KnnJoin.broadcastGrid(pts, oracle.centroids, k)))._2
    out("operators.knn_regime") = if (polys.size <= 512) 0 else 1
    out("operators.tile_s") = rec.layer("TileAssign.assign")(Layers.noop(TileAssign.assign(pts, polyDs, zooms)))._2
    out("operators.pip_candidates") = Layers.pipCandidates(pts, polyDs).toDouble
    out("operators.pip_matched") = pip.count().toDouble
    out("operators.setback_s") =
      rec.layer("Setback.auto")(Layers.noop(Setback.auto(pts, rings, idCol = "probe_id")))._2
    val ringLimit = spark.conf.getOption(Setback.BroadcastRingLimitConf).map(_.toInt).getOrElse(4096)
    out("operators.setback_regime") = if (polys.size <= ringLimit) 0 else 1
    out("sql.rewrite_fired") = lastPlans.get("sqljoin").map(p =>
      if (p.contains("CartesianProduct") || p.contains("NestedLoopJoin")) 0.0 else 1.0).getOrElse(-1.0)
  }
}
