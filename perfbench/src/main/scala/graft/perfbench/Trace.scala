package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.{KnnMatchesExpr, PipMatchesExpr}

/** One traced interval: `<workload>.<op>.<public call>`; times are epoch ms
  * (comparable with listener event times) plus a nanosecond duration. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Task-level counters summed per span. */
final class TaskAcc {
  var stages, tasks, runMs, cpuNs, gcMs, deserMs, inBytes, shWrite, shRead = 0L
}

/** One SQL execution: its span (through the execution's description, which
  * is the job description the span set), its interval and what its executed
  * plan did. */
final class ExecRec(val id: Long) {
  var span = -1
  var startMs, endMs = -1L
  var planMs, codegenMs, broadcastBytes = 0L
  var enrichKernels, write = false
  var writePath = ""
  var scanPaths: Seq[String] = Nil
  def seconds: Double = if (startMs < 0 || endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

final case class JobRec(span: Int, startMs: Long, var endMs: Long)

/**
 * In-memory tracer. With tracing off `span` is a plain call. With it on, a
 * span sets the Spark job description to `name#id`, so every SQL execution
 * and job started inside is attributed to the innermost open span — call
 * sites cannot be used, because jobs submitted by adaptive execution report
 * a thread-pool frame as their call site.
 */
final class Tracer(spark: SparkSession, val on: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val JobDescription = "spark.job.description"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  val execs = mutable.Map.empty[Long, ExecRec]
  val jobs = mutable.Map.empty[Int, JobRec]
  val acc = mutable.Map.empty[Int, TaskAcc]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(desc: String): Int =
    Option(desc).flatMap(d => d.lastIndexOf('#') match {
      case -1 => None
      case k => d.substring(k + 1).toIntOption
    }).getOrElse(-1)

  private def exec(id: Long): ExecRec = execs.getOrElseUpdate(id, new ExecRec(id))

  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val s = spanOf(e.properties.getProperty(JobDescription))
      jobs(e.jobId) = JobRec(s, e.time, -1L)
      e.stageIds.foreach(stageSpan(_) = s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => acc.getOrElseUpdate(s, new TaskAcc).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).foreach { s =>
        val a = acc.getOrElseUpdate(s, new TaskAcc)
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime; a.deserMs += m.executorDeserializeTime
          a.inBytes += m.inputMetrics.bytesRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val r = exec(s.executionId); r.span = spanOf(s.description); r.startMs = s.time
        case s: SparkListenerSQLExecutionEnd =>
          val r = exec(s.executionId)
          r.endMs = s.time
          org.apache.spark.sql.PerfbenchHooks.queryExecution(s).foreach(record(r, _))
        case _ =>
      }
    }
  }

  /** Every physical node, through adaptive and query-stage wrappers. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => Iterator(o) ++ (o.children ++ o.subqueries).iterator.flatMap(nodes)
  }

  private def record(r: ExecRec, qe: QueryExecution): Unit = {
    val ns = nodes(qe.executedPlan).toSeq
    r.planMs = qe.tracker.phases.values.map(_.durationMs).sum
    r.codegenMs = ns.collect { case w: WholeStageCodegenExec =>
      w.metrics.get("pipelineTime").map(_.value).getOrElse(0L) }.sum
    r.broadcastBytes = ns.collect { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum
    r.enrichKernels = ns.exists(_.expressions.exists(_.exists {
      case _: PipMatchesExpr | _: KnnMatchesExpr => true
      case _ => false
    }))
    ns.collect { case w: DataWritingCommandExec => w.cmd }.foreach {
      case i: InsertIntoHadoopFsRelationCommand => r.write = true; r.writePath = i.outputPath.toString
      case _ => r.write = true
    }
    r.scanPaths = ns.collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toString) }.flatten
  }

  if (on) sc.addSparkListener(listener)

  /** Id the next opened span will get. */
  def nextId: Int = next

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"$name#$id")
    stack ::= id
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body finally {
      spans += Span(id, parent, name, runId, t0, System.currentTimeMillis(), System.nanoTime() - n0)
      stack = stack.tail
      sc.setJobDescription(prev)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.sql.PerfbenchHooks.drain(sc)

  def write(path: Path): Unit = if (on) {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"run":${q(s.run)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"ns":${s.nanos}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------ queries

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** True when span `s` is `root` or nested inside it. */
  def within(s: Int, root: Int): Boolean =
    if (s < 0) false else if (s == root) true
    else byId.get(s).exists(sp => within(sp.parent, root))

  def spanById(id: Int): Option[Span] = byId.get(id)

  def execsUnder(root: Int): Seq[ExecRec] =
    execs.values.filter(e => within(e.span, root)).toSeq.sortBy(_.startMs)

  def jobsUnder(root: Int): Seq[JobRec] = jobs.values.filter(j => within(j.span, root)).toSeq

  def accUnder(root: Int): TaskAcc = {
    val t = new TaskAcc
    acc.foreach { case (s, a) =>
      if (within(s, root)) {
        t.stages += a.stages; t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
        t.gcMs += a.gcMs; t.deserMs += a.deserMs; t.inBytes += a.inBytes
        t.shWrite += a.shWrite; t.shRead += a.shRead
      }
    }
    t
  }

  /** Length of the union of the given [start, end] ms intervals, seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._1 >= 0 && i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1e3
  }
}
