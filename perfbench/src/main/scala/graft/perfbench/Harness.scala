package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.model.Footprint
import graft.sources.DistributedIngest

/** Input sizes. `Full` is what the benchmark measures; `Smoke` runs every
  * workload at tiny sizes with every check on, for the benchmark's own test. */
final case class Scale(images: Long, imageCity: Int, captions: Long, captionCity: Int,
                       queryCity: Int, probes: Int, rangeRows: Long,
                       setupRounds: Int, sample: Int)

object Scale {
  val Full = Scale(images = 500000L, imageCity = 400, captions = 10000L, captionCity = 200,
    queryCity = 7000, probes = 1000, rangeRows = 50000L, setupRounds = 3, sample = 100)
  val Smoke = Scale(images = 20000L, imageCity = 60, captions = 2000L, captionCity = 40,
    queryCity = 4400, probes = 200, rangeRows = 5000L, setupRounds = 2, sample = 40)
}

final case class Ctx(spark: SparkSession, seed: Long, scale: Scale, work: Path, tracer: Tracer) {
  /** A path under the run's work dir whose previous contents are removed. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Ctx.rm(p)
    Files.createDirectories(p.getParent)
    p
  }
}

object Ctx {
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Copy the tree under `from` to `to`, which must not exist yet. */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  /** (bytes, files) of every regular file under `p`. */
  def du(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var b = 0L; var n = 0L
      s.filter(Files.isRegularFile(_)).forEach { f => b += Files.size(f); n += 1 }
      (b, n)
    } finally s.close()
  }
}

/** One timed operation: wall time of its body only; the output check runs
  * after the timer stops. */
final case class Op(kind: String, seconds: Double, ok: Boolean, timed: Boolean, span: Int)

final class Recorder(val wl: String, tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** False during set-up and warm-up, true in the measured window. */
  var timed = false

  /** Run `body` as op `kind`, then `check` its result (measured ops only:
    * the warm-up is not checked, to keep set-up short). A throw in
    * either counts the op as failed; the run goes on. */
  def op[T](kind: String)(body: => T)(check: T => Unit): Unit = {
    val id = tracer.nextId
    val t0 = System.nanoTime()
    val res = Try(tracer.span(s"$wl.$kind")(body))
    val secs = (System.nanoTime() - t0) / 1e9
    val ok = res.flatMap(r => if (timed) Try(check(r)) else Success(())) match {
      case Success(_) => true
      case Failure(e) =>
        System.err.println(s"[perfbench] op $wl.$kind failed: $e")
        false
    }
    ops += Op(kind, secs, ok, timed, if (tracer.on) id else -1)
  }

  /** A public-entry-point call inside op `kind`: span `<wl>.<kind>.<name>`. */
  def call[T](kind: String, name: String)(body: => T): T = tracer.span(s"$wl.$kind.$name")(body)

  /** A traced-run layer call: its result and wall time in seconds. */
  def layer[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = call("layers", name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def timedOps: Seq[Op] = ops.filter(_.timed).toSeq
  def secondsOf(kind: String): Seq[Double] = timedOps.filter(_.kind == kind).map(_.seconds)
}

/** A benchmark workload: set-up (input generation and ingest, repeated;
  * `setup_s` is the median), a warm-up, then iterations of
  * timed ops until the window closes. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  lazy val rec = new Recorder(name, ctx.tracer)
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed
  def scale: Scale = ctx.scale

  /** The exported city read back through `DistributedIngest`: its buildings,
    * in id order. A span `<wl>.<kind>.DistributedIngest.ingest`. */
  def ingestCity(kind: String, dirs: (String, String)): Seq[Footprint] =
    rec.call(kind, "DistributedIngest.ingest") {
      val tasks = DistributedIngest.tasksFor(0, dirs._1, "citygml") ++
        DistributedIngest.tasksFor(1, dirs._2, "cityjson")
      DistributedIngest.ingest(spark, tasks)._1.filter(_.feature_type == "Building")
        .collect().toSeq.sortBy(_.feature_id)
    }

  /** Generate inputs into a fresh directory and load what the ops need:
    * what `setup_s` times. */
  def generate(round: Int): Unit
  /** Driver-side reference answers for the current inputs (not timed). */
  def prepareOracle(): Unit
  /** One iteration of the workload's timed ops, each checked. */
  def iteration(): Unit
  /** Workload-specific end-to-end figures: name → (value, unit). */
  def figures(): Seq[(String, Double, String)]
  /** Input rows per second of the workload's headline op. */
  def rowsPerSecond(): Double
  /** Table bytes on disk per committed row. */
  def storedBytesPerRow(): Double
  /** Traced run only: operators called alone, regimes and layer counts. */
  def layers(out: mutable.LinkedHashMap[String, Double]): Unit
  /** Warm-up before the measured window (not timed, not checked). */
  def warmUp(): Unit = iteration()
  /** Tamper with one committed result before its audit (self-test). */
  def tamper(): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Highest whole percentile with at least 10 samples above it, or None
    * when there are fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Some((p, quantile(xs, p / 100.0)))
    }
}
