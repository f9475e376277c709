package graft

import org.apache.spark.sql.SparkSession

/**
 * Two-parallelism scaling evidence (BASELINE.json north_rule, sandbox
 * protocol per BASELINE.md): the identical PIP join on the identical staged
 * input at local[N] and local[4N], N = `SPARK_GRAFT_SCALE_N` (default 4, so
 * local[4] → local[16]; 1:4 core ratio standing in for N vs 4N executors).
 * Throughput per level = points / MIN wall time over interleaved
 * repetitions — the minimum-time estimator because this sandbox shares CPUs
 * with other tenants (bursty external load was measured at up to 10 runnable
 * threads); the interleaving ensures neither level systematically benefits.
 * Prints one JSON line and writes BENCH.md.
 */
object ScaleBench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // size scan splits so BOTH parallelism levels get enough tasks — the
      // 128 MB default would cap this staged input at ~6 tasks (same setting
      // at both levels)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.get("SPARK_GRAFT_BENCH_POINTS").map(_.toLong).getOrElse(100000000L)
    // same staged input as PIP by default: the job must run seconds-long at
    // BOTH levels or per-job fixed overhead (~0.3 s) caps the measurable
    // efficiency (a 0.7 s high-level run can't show 0.8 no matter the engine)
    val nKnn = sys.env.get("SPARK_GRAFT_KNN_POINTS").map(_.toLong).getOrElse(n)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(6)
    val mode = sys.env.getOrElse("SPARK_GRAFT_PIP_MODE", "expr")
    val nLow = sys.env.get("SPARK_GRAFT_SCALE_N").map(_.toInt).getOrElse(4)
    val nHigh = nLow * 4
    val ptsDir = s"${sys.props("java.io.tmpdir")}/graft_bench_points_$n"
    val knnDir = s"${sys.props("java.io.tmpdir")}/graft_bench_points_$nKnn"
    val polys = Bench.benchPolygons

    val s0 = session(32)
    if (!new java.io.File(s"$ptsDir/_SUCCESS").exists()) Bench.stagePoints(s0, n, ptsDir)
    if (!new java.io.File(s"$knnDir/_SUCCESS").exists()) Bench.stagePoints(s0, nKnn, knnDir)
    s0.stop()

    // fused north-star pipeline stage: PIP + kNN-1 + tile assignment in ONE
    // map-only pass over the staged points (graft.app.Pipeline.enrich shape,
    // without the write) — the end-to-end operator the north rule describes
    def timedEnrich(s: SparkSession): (Long, Long, Double) = {
      val pts = s.read.parquet(ptsDir)
      val inRows = pts.count()
      val t0 = System.nanoTime()
      val rows = graft.app.Pipeline.enrich(pts, polys).count()
      (inRows, rows, (System.nanoTime() - t0) / 1e9)
    }

    var in = 0L; var joined = 0L
    var kIn = 0L; var kRows = 0L
    var eIn = 0L; var eRows = 0L
    val times = scala.collection.mutable.Map(nLow -> List.empty[Double], nHigh -> List.empty[Double])
    val ktimes = scala.collection.mutable.Map(nLow -> List.empty[Double], nHigh -> List.empty[Double])
    val etimes = scala.collection.mutable.Map(nLow -> List.empty[Double], nHigh -> List.empty[Double])
    for (rep <- 1 to reps; cpus <- Seq(nLow, nHigh)) { // interleaved
      val s = session(cpus)
      Bench.timedPipJoin(s, ptsDir, polys, mode) // per-session JIT warmup
      val (i, j, secs) = Bench.timedPipJoin(s, ptsDir, polys, mode)
      in = i; joined = j
      times(cpus) = secs :: times(cpus)
      Bench.timedKnnJoin(s, knnDir, polys) // warmup
      val (ki, kr, ksecs) = Bench.timedKnnJoin(s, knnDir, polys)
      kIn = ki; kRows = kr
      ktimes(cpus) = ksecs :: ktimes(cpus)
      val (ei, er, esecs) = timedEnrich(s) // warmed by the pip/knn passes
      eIn = ei; eRows = er
      etimes(cpus) = esecs :: etimes(cpus)
      System.err.println(f"[scale] rep=$rep cpus=$cpus pip=$secs%.3f knn=$ksecs%.3f enrich=$esecs%.3f")
      s.stop()
    }
    val t8 = times(nLow).min
    val t32 = times(nHigh).min
    val r8 = in / t8
    val r32 = in / t32
    val eff = r32 / (4.0 * r8)
    val kt8 = ktimes(nLow).min
    val kt32 = ktimes(nHigh).min
    val kr8 = kIn / kt8
    val kr32 = kIn / kt32
    val keff = kr32 / (4.0 * kr8)
    val et8 = etimes(nLow).min
    val et32 = etimes(nHigh).min
    val er8 = eIn / et8
    val er32 = eIn / et32
    val eeff = er32 / (4.0 * er8)
    val json =
      s"""{"metric":"pip-join scaling efficiency local[$nLow]->local[$nHigh]","value":${f"$eff%.3f"},"unit":"ratio","points":$in,"joined":$joined,"n_low":$nLow,"n_high":$nHigh,"rows_per_sec_low":${f"$r8%.0f"},"rows_per_sec_high":${f"$r32%.0f"},"sec_low":${f"$t8%.3f"},"sec_high":${f"$t32%.3f"},"reps":$reps,"mode":"$mode","knn":{"efficiency":${f"$keff%.3f"},"points":$kIn,"rows":$kRows,"rows_per_sec_low":${f"$kr8%.0f"},"rows_per_sec_high":${f"$kr32%.0f"},"sec_low":${f"$kt8%.3f"},"sec_high":${f"$kt32%.3f"},"all_sec_low":[${ktimes(nLow).reverse.map(t => f"$t%.3f").mkString(",")}],"all_sec_high":[${ktimes(nHigh).reverse.map(t => f"$t%.3f").mkString(",")}]},"enrich":{"efficiency":${f"$eeff%.3f"},"points":$eIn,"rows":$eRows,"rows_per_sec_low":${f"$er8%.0f"},"rows_per_sec_high":${f"$er32%.0f"},"sec_low":${f"$et8%.3f"},"sec_high":${f"$et32%.3f"},"all_sec_low":[${etimes(nLow).reverse.map(t => f"$t%.3f").mkString(",")}],"all_sec_high":[${etimes(nHigh).reverse.map(t => f"$t%.3f").mkString(",")}]},"all_sec_8":[${times(nLow).reverse.map(t => f"$t%.3f").mkString(",")}],"all_sec_32":[${times(nHigh).reverse.map(t => f"$t%.3f").mkString(",")}]}"""
    println(json)

    val md =
      s"""# BENCH — measured throughput & scaling (sandbox protocol per BASELINE.md)
         |
         |North-star operator: filter-refine PIP spatial join (hex cell-key
         |prefilter + exact boundary-inclusive refine), `$mode` physical path
         |(fully-codegen pip_matches expression, polygon index broadcast
         |once per executor), of geotagged points against 101 CityGML-LoD2
         |building footprints (FZK-Haus + 100-building CityJSON grid), skewed
         |input (60% of points inside one footprint).
         |
         || quantity | value |
         ||---|---|
         || points (staged parquet) | $in |
         || joined rows | $joined |
         || best join wall time @ local[$nLow] | ${f"$t8%.3f"} s |
         || best join wall time @ local[$nHigh] | ${f"$t32%.3f"} s |
         || throughput @ local[$nLow] | ${f"$r8%.0f"} rows/s |
         || throughput @ local[$nHigh] | ${f"$r32%.0f"} rows/s |
         || **scaling efficiency** r$nHigh/(4·r$nLow) | **${f"$eff%.3f"}** (target ≥ 0.8) |
         |
         |Companion north-star stage: kNN join (codegen knn_matches expression,
         |k=3 against the 101 footprint centroids) on the same protocol:
         |
         || quantity | value |
         ||---|---|
         || probes (staged parquet) | $kIn |
         || result rows | $kRows |
         || best wall time @ local[$nLow] | ${f"$kt8%.3f"} s |
         || best wall time @ local[$nHigh] | ${f"$kt32%.3f"} s |
         || throughput @ local[$nLow] | ${f"$kr8%.0f"} rows/s |
         || throughput @ local[$nHigh] | ${f"$kr32%.0f"} rows/s |
         || **scaling efficiency** | **${f"$keff%.3f"}** (target ≥ 0.8) |
         |
         |Fused end-to-end north-star stage: PIP + kNN-1 + WMTS tile in ONE
         |map-only pass (graft.app.Pipeline.enrich, the shape the resumable
         |pipeline writes), same protocol:
         |
         || quantity | value |
         ||---|---|
         || points | $eIn |
         || enriched rows | $eRows |
         || best wall time @ local[$nLow] | ${f"$et8%.3f"} s |
         || best wall time @ local[$nHigh] | ${f"$et32%.3f"} s |
         || throughput @ local[$nLow] | ${f"$er8%.0f"} rows/s |
         || throughput @ local[$nHigh] | ${f"$er32%.0f"} rows/s |
         || **scaling efficiency** | **${f"$eeff%.3f"}** (target ≥ 0.8) |
         |
         |Protocol: identical job and staged input at both parallelism levels
         |($nLow vs $nHigh cores = the 1:4 executor ratio; BASELINE.md "Measurement
         |protocol"). $reps interleaved repetitions per level, JIT warmup per
         |session, throughput from the per-level MINIMUM wall time (this host
         |shares CPUs with bursty external load — minimum-time is the standard
         |interference-robust estimator; interleaving removes ordering bias).
         |All raw times are in the JSON below.
         |
         |Raw: `$json`
         |""".stripMargin
    // replace only the scaling section: everything from the marker down
    // (per-query appendix, measurement notes) is maintained by hand and
    // must survive a re-run
    val marker = "<!-- scalebench:end"
    val path = java.nio.file.Paths.get("BENCH.md")
    val tail =
      if (java.nio.file.Files.exists(path)) {
        val old = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        val i = old.indexOf(marker)
        // a hand-edited BENCH.md that lost the marker must not silently lose
        // its whole hand-maintained appendix — refuse and say how to fix it
        require(i >= 0, s"BENCH.md exists but lacks the '$marker' marker; " +
          "restore the marker line (everything below it is hand-maintained) " +
          "or delete BENCH.md to start fresh")
        "\n" + old.substring(i)
      } else s"\n$marker (hand-maintained per-query appendix goes below) -->\n"
    java.nio.file.Files.write(path, (md + tail).getBytes("UTF-8"))
  }
}
