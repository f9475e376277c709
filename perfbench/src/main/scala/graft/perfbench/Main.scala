package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftExtensions

/**
 * Benchmark entry point:
 *
 *   Main --workload <enrich_commit|spatial_queries|curate_commit> --seed <n>
 *        --seconds <s> --trace <0|1> [--scale full|smoke] [--work <dir>]
 *        [--tamper 1]
 *
 * One process, `local[4]`, one client thread, 4 shuffle partitions. Prints
 * report lines prefixed `[perfbench]`, then one JSON object as the last line
 * of stdout: the end-to-end metrics with `--trace 0`, the per-layer metrics
 * with `--trace 1`. `--tamper 1` drops one committed row before the
 * benchmark's own audit, so the run must report a failed op.
 */
object Main {

  /** Heap in use once collection has settled: each GC lets Spark's
    * ContextCleaner release blocks whose owners the previous one freed. */
  private def settledHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") +
      "}}"

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        SparkSession.getActiveSession.foreach(_.stop())
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val scale = opts.getOrElse("scale", "full") match {
      case "full" => Scale.Full
      case "smoke" => Scale.Smoke
      case other => System.err.println(s"unknown --scale $other"); sys.exit(2)
    }
    val work: Path = Paths.get(opts.getOrElse("work", "perfbench/work")).toAbsolutePath
      .resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    Ctx.rm(work)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep the status store's bookkeeping from growing with run length, so
      // heap_peak_mb measures the engine, not how many ops the window held
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark, trace, runId)
    val ctx = Ctx(spark, seed, scale, work, tracer)
    val wl: Workload = workload match {
      case "enrich_commit" => new EnrichCommit(ctx)
      case "spatial_queries" => new SpatialQueries(ctx)
      case "curate_commit" => new CurateCommit(ctx)
      case other => System.err.println(s"unknown workload $other"); spark.stop(); sys.exit(2)
    }

    // set-up is repeated and reported as its median; the inputs are the same
    // every round (same seed) and are regenerated from scratch each time
    val sessionUp = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setups = (0 until scale.setupRounds).map { r =>
      val t0 = System.nanoTime()
      wl.generate(r)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) Ctx.rm(work.resolve(s"setup-${r - 1}"))
      s
    }
    val o0 = System.nanoTime()
    wl.prepareOracle()
    val oracleS = (System.nanoTime() - o0) / 1e9
    val w0 = System.nanoTime()
    wl.warmUp() // JIT, codegen caches, first-call paths
    spark.catalog.clearCache()
    val warmup = (System.nanoTime() - w0) / 1e9
    val toFirstOp = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    wl.rec.timed = true
    if (opts.get("tamper").contains("1")) wl.tamper()
    var heapPeak = 0.0
    // the window's clock counts iterations only, not the heap sampling between them
    var measured = 0.0
    var iterations = 0
    while (iterations == 0 || measured < seconds) {
      val t0 = System.nanoTime()
      wl.iteration()
      // ingest persists its parse for the session; iterations stay independent
      spark.catalog.clearCache()
      measured += (System.nanoTime() - t0) / 1e9
      heapPeak = math.max(heapPeak, settledHeapMb())
      iterations += 1
    }

    val timedMs = wl.rec.timedOps.map(_.seconds * 1e3)
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("rows_per_s", wl.rowsPerSecond(), "rows/s"),
      ("op_ms_mean", timedMs.sum / timedMs.size, "ms"),
      ("heap_peak_mb", heapPeak, "MB"),
      ("stored_bytes_per_row", wl.storedBytesPerRow(), "B/row"))

    val layer = Layers.defaults
    val problems = mutable.ArrayBuffer.empty[String]
    if (trace) {
      try wl.layers(layer)
      catch { case e: Exception => problems += s"layer extras: $e" }
      problems ++= Layers.fromTrace(tracer, wl.rec, layer)
      val traces = Files.createDirectories(work.getParent.resolve("traces"))
      tracer.write(traces.resolve(s"$runId.jsonl"))
    }
    problems.foreach(p => System.err.println(s"[perfbench] trace check failed: $p"))

    val ops = wl.rec.ops
    val failed = ops.count(!_.ok) + problems.size
    val attempted = ops.size + (if (trace) 1 else 0)
    val say = (s: String) => println(s"[perfbench] $s")
    say(s"workload=$workload seed=$seed scale=${opts.getOrElse("scale", "full")} trace=${if (trace) 1 else 0} " +
      s"iterations=$iterations timed_ops=${timedMs.size} setup_rounds=${setups.size}")
    say(f"session up at $sessionUp%.3f s; setup rounds s: ${setups.map(s => f"$s%.3f").mkString(" ")}; " +
      f"oracle: $oracleS%.3f s; warm-up: $warmup%.3f s " +
      s"(${wl.rec.ops.filterNot(_.timed).map(o => f"${o.kind}=${o.seconds}%.2f").mkString(" ")}); " +
      f"process start to first timed op: $toFirstOp%.3f s")
    val pooled = Seq(("op_ms_p50", Stats.median(timedMs), "ms")) ++
      Stats.tail(timedMs).map { case (p, v) => (s"op_ms_tail_p$p", v, "ms") }
    (e2e ++ pooled ++ wl.figures() :+ (("ops_failed_frac", failed.toDouble / attempted, "ratio"))).foreach {
      case (n, v, u) => say(f"e2e $n = $v%.4f $u")
    }
    wl.rec.timedOps.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      say(f"op $k n=${os.size} p50_ms=${Stats.median(os.map(_.seconds * 1e3))}%.1f " +
        s"all_ms=${os.map(o => f"${o.seconds * 1e3}%.0f").mkString(",")}")
    }
    if (trace) Layers.Units.foreach { case (n, u) => say(f"layer $n = ${layer(n)}%.4f $u") }

    val metrics =
      if (trace) Layers.Units.map { case (n, u) => (n, layer(n), u) }
      else e2e
    println(json(failed == 0, attempted, failed, metrics))
    spark.stop()
    Ctx.rm(work)
    sys.exit(0)
  }
}
