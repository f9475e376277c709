package graft

import org.apache.spark.sql.SparkSession

/**
 * Per-round benchmark main (driver contract): prints ONE JSON line.
 * Headline metric = the north-star spatial-join throughput (H3-analog PIP
 * join of geotagged points against the CityGML-derived footprints), plus
 * per-query wall seconds for every SparkEntry query at the given SF dir.
 */
object Bench {

  def pointCountFor(sfDir: String): Long =
    if (sfDir.contains("sf0.1")) 5000000L
    else if (sfDir.contains("sf0.01")) 1000000L
    else 200000L

  /** FZK building + the 100 CityJSON buildings shifted into the FZK frame. */
  def benchPolygons: Seq[model.Footprint] = {
    val fzk = sources.CityGmlReader.toFootprints(
      sources.CityGmlReader.parseFile(Fixtures.fzkV2), 0)
      .filter(_.feature_type == "Building")
    val cj = sources.CityJsonReader.toFootprints(
      sources.CityJsonReader.parseFile(Fixtures.cityJson), 1)
      .filter(_.feature_type == "Building")
      .map { f =>
        def sx(p: model.XY) = model.XY(p.x + 457790.0, p.y + 5439030.0)
        f.copy(ring = f.ring.map(sx), holes = f.holes.map(_.map(sx)),
          env = model.Env6(f.env.minx + 457790.0, f.env.miny + 5439030.0, f.env.minz,
            f.env.maxx + 457790.0, f.env.maxy + 5439030.0, f.env.maxz),
          centroid = sx(f.centroid))
      }
    fzk ++ cj
  }

  /** Stage the geotag point table to parquet (outside any timer). */
  def stagePoints(spark: SparkSession, n: Long, dir: String): Unit = {
    import spark.implicits._
    sources.ImageGen.points(spark, n, 64).toDF("image_id", "x", "y")
      .write.mode("overwrite").parquet(dir)
  }

  /** One timed PIP-join pass; returns (inputRows, joinedRows, seconds).
    * mode: "expr" (codegen pip_matches via PipJoin.auto, the default and
    * only path; "broadcast" and "salted" name the removed cell joins). */
  def timedPipJoin(spark: SparkSession, pointsDir: String,
                   polys: Seq[model.Footprint],
                   mode: String = sys.env.getOrElse("SPARK_GRAFT_PIP_MODE", "expr")): (Long, Long, Double) = {
    val pts = spark.read.parquet(pointsDir)
    val inputRows = pts.count()
    val t0 = System.nanoTime()
    val joined = mode match {
      case "expr" =>
        operators.PipJoin.auto(pts, polys).count()
      case "broadcast" | "salted" =>
        throw new IllegalArgumentException(s"SPARK_GRAFT_PIP_MODE=$mode: the $mode PIP cell " +
          "join was removed; PipJoin.auto (pip_matches) is the only path, use expr")
      case other =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_PIP_MODE must be expr, got '$other'")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    (inputRows, joined, secs)
  }

  /** One timed kNN pass (codegen knn_matches path) on the staged points. */
  def timedKnnJoin(spark: SparkSession, pointsDir: String,
                   polys: Seq[model.Footprint], k: Int = 3): (Long, Long, Double) = {
    val pts = spark.read.parquet(pointsDir)
    val inputRows = pts.count()
    val centroids = polys.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    val t0 = System.nanoTime()
    val rows = operators.KnnJoin.broadcastGrid(
      pts.withColumnRenamed("image_id", "probe_id"), centroids, k).count()
    val secs = (System.nanoTime() - t0) / 1e9
    (inputRows, rows, secs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // size scan splits to the core count (the 128 MB default caps a
      // ~150 MB staged input at a handful of tasks)
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // headline: north-star PIP join throughput (staging excluded from timer;
    // best of 3 timed runs — this sandbox shares CPUs with bursty load)
    val nPoints = sys.env.get("SPARK_GRAFT_BENCH_POINTS").map(_.toLong)
      .getOrElse(pointCountFor(sfDir))
    val ptsDir = s"${sys.props("java.io.tmpdir")}/graft_bench_points_$nPoints"
    if (!new java.io.File(s"$ptsDir/_SUCCESS").exists())
      stagePoints(spark, nPoints, ptsDir)
    val polys = benchPolygons
    timedPipJoin(spark, ptsDir, polys) // warmup (JIT + code cache)
    val runs = (1 to 5).map(_ => timedPipJoin(spark, ptsDir, polys))
    val (inRows, joined, secs) = runs.minBy(_._3)
    val rowsPerSec = inRows / secs

    // companion north-star stages on the same staged points: kNN + tiling
    // (same protocol as pip: warmup pass, then best-of-3 — cold single shots
    // would time JIT + codegen compilation, not the operator)
    def bestOf3(body: => Long): (Long, Double) = {
      body
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val rows = body
        (rows, (System.nanoTime() - t0) / 1e9)
      }.minBy(_._2)
    }
    val pts = spark.read.parquet(ptsDir)
    val centroids = polys.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    val (knnRows, knnSecs) = bestOf3 {
      operators.KnnJoin.broadcastGrid(
        pts.withColumnRenamed("image_id", "probe_id"), centroids, k = 3, res = 12).count()
    }
    val (tileRows, tileSecs) = bestOf3 {
      pts.withColumn("tile_id", graft.functions.GeoFunctions.tile_of(
          org.apache.spark.sql.functions.col("x"),
          org.apache.spark.sql.functions.col("y"),
          org.apache.spark.sql.functions.lit(22)))
        .groupBy("tile_id").count().count()
    }

    // distributed kNN ring-expansion path (huge-target-side variant) —
    // regression canary for the round-loop job count and checkpoint behavior
    val (ringRows, ringSecs) = bestOf3 {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      // target grid spans the FULL geotag area (center ± ~450 m) so every
      // probe terminates via the ring stop bound; res 12 keeps the per-cell
      // target count small — candidate volume, not round count, dominates
      // (rings 0..R pull in O(R² · targets-per-cell) candidates per probe)
      val targets = spark.range(100000L).selectExpr(
        "concat('t', id) AS target_id",
        "457398.0 + (id % 400) * 2.25 AS cx",
        "5438638.0 + CAST(id / 400 AS BIGINT) * 3.6 AS cy")
      val probes = pts.where(pmod(xxhash64(col("image_id")), lit(1000L)) === 0L)
        .withColumnRenamed("image_id", "probe_id")
      operators.KnnJoin.ringJoin(probes, targets, k = 3, res = 12, maxR = 48,
        ringsPerRound = 2).count()
    }

    // input_hint fidelity: the same PIP join over the FULL image+caption
    // schema (image_id, bytes, w, h, fmt, caption, phash, x, y) — column
    // pruning must keep the scan at (image_id, x, y), so throughput should
    // track the points-only number, not the payload volume
    val nImg = math.max(nPoints / 5, 200000L)
    val imgDir = s"${sys.props("java.io.tmpdir")}/graft_bench_images_$nImg"
    if (!new java.io.File(s"$imgDir/_SUCCESS").exists())
      sources.ImageGen.table(spark, nImg, 64).write.mode("overwrite").parquet(imgDir)
    val (fullJoined, fullSecs) = bestOf3 {
      operators.PipJoin.auto(spark.read.parquet(imgDir), polys)
        .select("image_id", "feature_id").count()
    }

    // per-query seconds: INTERLEAVED repetitions (full passes over the whole
    // query set, not rep-loops per query), reporting the per-query MINIMUM.
    // Rationale: this host shares CPUs with a bursty neighbor — back-to-back
    // reps of one query all land inside the same contention burst, so even
    // their median misreports by 3-10x; interleaving spreads a query's reps
    // minutes apart so at least one usually lands in a quiet window, and the
    // minimum is the right estimator for "what the engine costs" (noise is
    // strictly additive). A query that throws gets -1 and an error count —
    // never a misleadingly fast time-to-failure sample.
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "3").toInt
    // SPARK_GRAFT_BENCH_SUBSET: comma-separated query names to time (e.g.
    // "q19_lsh_pairs,q36_dedup_clusters"), or "none" to skip the per-query
    // loop entirely. The full set (~110 queries × reps) is ~60 s at sf0.1;
    // at larger SFs the subset knob keeps the capture inside a driver
    // timeout without touching the headline north-star stages above.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_SUBSET")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // ("none" matches no query name, so it empties the loop naturally)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val errors = scala.collection.mutable.Map.empty[String, Int]
    for (_ <- 1 to reps; (name, fn) <- names) {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      if (ok) samples(name) = dt :: samples.getOrElse(name, Nil)
      else errors(name) = errors.getOrElse(name, 0) + 1
    }
    val results = names.map { case (name, _) =>
      name -> samples.get(name).map(_.min).getOrElse(-1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = names.flatMap { case (name, _) =>
      errors.get(name).map(n => "\"" + name + "\":" + n)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      s"""{"metric":"spatial-join rows/sec (PIP, 101 LoD2 footprints)","value":${f"$rowsPerSec%.0f"},"unit":"rows/sec","queries":$qs,"query_errors":$errJson,"query_reps":$reps,"sf":"$sfDir","pip":{"points":$inRows,"joined":$joined,"secs":${f"$secs%.3f"}},"knn":{"rows":$knnRows,"secs":${f"$knnSecs%.3f"},"rows_per_sec":${f"${inRows / knnSecs}%.0f"}},"tiles":{"tiles":$tileRows,"secs":${f"$tileSecs%.3f"},"rows_per_sec":${f"${inRows / tileSecs}%.0f"}},"knn_ring":{"rows":$ringRows,"secs":${f"$ringSecs%.3f"}},"pip_full_schema":{"points":$nImg,"joined":$fullJoined,"secs":${f"$fullSecs%.3f"},"rows_per_sec":${f"${nImg / fullSecs}%.0f"}},"total_query_sec":${f"$total%.3f"}}""")
    spark.stop()
  }
}
