package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions.{hex_cover, hex_encode}
import graft.model.Footprint
import graft.operators.PipJoin

/**
 * Per-layer metrics of a traced run. Spark-runtime figures are summed over
 * each timed op's span tree and reported per op (mean over the run's timed
 * ops); IceLite's split comes from classifying the SQL executions inside each
 * `commit` by what their executed plans read and write.
 */
object Layers {

  /** Every per-layer metric with its unit, in report order. A layer that a
    * workload never runs reports 0 (times, counts) or -1 (regimes, flags). */
  val Units: Seq[(String, String)] = Seq(
    "sources.ingest_s" -> "s", "sources.ingest_footprints" -> "count",
    "sources.icelite.discover_s" -> "s", "sources.icelite.stage_s" -> "s",
    "sources.icelite.lineage_s" -> "s", "sources.icelite.audit_s" -> "s",
    "sources.icelite.commit_s" -> "s",
    "sources.icelite.partitions_written" -> "count", "sources.icelite.partitions_skipped" -> "count",
    "sources.icelite.bytes_written" -> "B", "sources.icelite.files_written" -> "count",
    "sources.icelite.read_s" -> "s",
    "app.enrich_passes" -> "count",
    "operators.pip_s" -> "s", "operators.knn_s" -> "s", "operators.tile_s" -> "s",
    "operators.pip_candidates" -> "count", "operators.pip_matched" -> "count",
    "operators.pip_regime" -> "code", "operators.knn_regime" -> "code",
    "operators.setback_regime" -> "code", "operators.setback_s" -> "s",
    "operators.dedup.lsh_s" -> "s", "operators.dedup.pairs" -> "count",
    "operators.dedup.cc_s" -> "s", "operators.dedup.cc_rounds" -> "count",
    "operators.dedup.keep_s" -> "s",
    "sql.rewrite_fired" -> "flag",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.task_deser_s" -> "s", "spark.input_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.broadcast_bytes" -> "B", "spark.codegen_s" -> "s",
    "driver.plan_s" -> "s", "driver.unattributed_s" -> "s")

  private val NotRun: Set[String] = Set("operators.pip_regime", "operators.knn_regime",
    "operators.setback_regime", "sql.rewrite_fired")

  def defaults: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(Units.map { case (n, _) => n -> (if (NotRun(n)) -1.0 else 0.0) }: _*)

  /** 0 = plan-reference `exprJoin`, 1 = broadcast cell join, 2 = salted
    * shuffle join; -1 when no plan was seen. */
  def pipRegime(executedPlan: String): Double =
    if (executedPlan.isEmpty) -1
    else if (executedPlan.contains("pip_matches")) 0
    else if (executedPlan.contains("BroadcastHashJoin")) 1
    else 2

  /** Point–polygon pairs that share a cover cell at the PIP resolution: the
    * refine load of the filter–refine join. */
  def pipCandidates(points: DataFrame, polys: Dataset[Footprint]): Long =
    points.select(hex_encode(col("x"), col("y"), lit(PipJoin.DefaultRes)).as("cell"))
      .join(polys.select(explode(hex_cover(col("ring"), lit(PipJoin.DefaultRes))).as("cell")), "cell")
      .count()

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /**
   * Fill the span-derived metrics. Returns the IceLite split violations:
   * inside each `commit`, the discovery, staging and lineage executions must
   * lie in order within the `writeResumable` interval (discovery start to
   * audit start), so that they plus `sources.icelite.commit_s` add up to it.
   */
  def fromTrace(tr: Tracer, rec: Recorder, out: mutable.LinkedHashMap[String, Double]): Seq[String] = {
    tr.drain()
    val ops = rec.timedOps.filter(_.span >= 0)
    val per = ops.map { op =>
      val a = tr.accUnder(op.span)
      val js = tr.jobsUnder(op.span)
      val es = tr.execsUnder(op.span)
      val plan = es.map(_.planMs).sum / 1e3
      val span = tr.spanById(op.span).map(_.seconds).getOrElse(0.0)
      Map(
        "spark.jobs" -> js.size.toDouble, "spark.stages" -> a.stages.toDouble,
        "spark.tasks" -> a.tasks.toDouble, "spark.exec_run_s" -> a.runMs / 1e3,
        "spark.exec_cpu_s" -> a.cpuNs / 1e9, "spark.gc_s" -> a.gcMs / 1e3,
        "spark.task_deser_s" -> a.deserMs / 1e3, "spark.input_bytes" -> a.inBytes.toDouble,
        "spark.shuffle_write_bytes" -> a.shWrite.toDouble,
        "spark.shuffle_read_bytes" -> a.shRead.toDouble,
        "spark.broadcast_bytes" -> es.map(_.broadcastBytes).sum.toDouble,
        "spark.codegen_s" -> es.map(_.codegenMs).sum / 1e3,
        "driver.plan_s" -> plan,
        "driver.unattributed_s" -> (span - tr.unionSeconds(js.map(j => (j.startMs, j.endMs))) - plan))
    }
    per.headOption.foreach(_.keys.foreach(k => out(k) = mean(per.map(_(k)))))

    val problems = mutable.ArrayBuffer.empty[String]
    val commits = ops.filter(_.kind == "commit")
    val split = commits.flatMap { op =>
      val es = tr.execsUnder(op.span)
      val stage = es.find(e => e.write && e.writePath.contains("_icelite_stage"))
      val lineage = es.find(e => !e.write && e.scanPaths.exists(_.contains("_icelite_stage")))
      (stage, lineage) match {
        case (Some(st), Some(li)) =>
          val discover = es.filter(e => e.enrichKernels && !e.write && e.startMs <= st.startMs).lastOption
          val audit = es.find(e => e.startMs >= li.endMs && !e.write && e.scanPaths.nonEmpty)
          (discover, audit) match {
            case (Some(d), Some(au)) =>
              val wr = (au.startMs - d.startMs) / 1e3
              val commit = wr - d.seconds - st.seconds - li.seconds
              if (!(d.endMs <= st.startMs && st.endMs <= li.startMs && li.endMs <= au.startMs))
                problems += s"commit span ${op.span}: IceLite executions overlap or are out of order"
              Some(Map("sources.icelite.discover_s" -> d.seconds, "sources.icelite.stage_s" -> st.seconds,
                "sources.icelite.lineage_s" -> li.seconds, "sources.icelite.audit_s" -> au.seconds,
                "sources.icelite.commit_s" -> commit,
                "app.enrich_passes" -> es.count(e => e.enrichKernels).toDouble))
            case _ => problems += s"commit span ${op.span}: no discovery or audit execution"; None
          }
        case _ => problems += s"commit span ${op.span}: no staging write or lineage job"; None
      }
    }
    split.headOption.foreach(_.keys.foreach(k => out(k) = mean(split.map(_(k)))))

    val ingest = tr.spans.filter(_.name.endsWith(".DistributedIngest.ingest")).map(_.seconds).toSeq
    if (ingest.nonEmpty) out("sources.ingest_s") = Stats.median(ingest)
    val reads = tr.spans.filter(_.name.endsWith(".IceLite.read")).map(_.seconds).toSeq
    if (reads.nonEmpty) out("sources.icelite.read_s") = Stats.median(reads)
    problems.toSeq
  }
}
