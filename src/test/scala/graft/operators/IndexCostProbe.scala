package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{GraftExtensions, SpatialJoinRewrite}

import graft.TestSpark
import graft.core.Tiles
import graft.model.Footprint

/**
 * Layer-by-layer cost of the four plan indexes on PlanIndexSpec's
 * 7000-feature synthetic city (`PipKernelSpec.city(7000)`: sixteen-vertex
 * stars, 112,000 vertices), one line per kernel:
 *  - `fresh_p50_ms` / `hit_p50_ms`: median wall time of one 1000-probe
 *    query (build the DataFrame, `collect()`) on a new but equal input,
 *    which plans, builds and broadcasts its index as every call did before
 *    the memo, and on the same input, a memo hit ([[PlanIndex.shared]]);
 *  - `bc_fresh` / `bc_hit`: `SparkContext.broadcast` calls per query in
 *    each mode (read off the broadcast id counter);
 *  - `lazy_ms`: the index's first probe, i.e. its lazy build (median of 15
 *    new indexes);
 *  - `serial_mb`: the index's Java-serialized size (what the broadcast
 *    ships and its block store keeps);
 *  - `heap_mb` / `lazy_heap_mb`: settled heap the index retains with its
 *    lazies built, and the lazy part of it;
 *  - `cells` / `pairs` / `cap`: its [[graft.core.CellBuckets]] table's
 *    distinct cells, (cell, ordinal) pairs and capacity.
 *
 * Run from the project base directory with
 * `sbt "Test/runMain graft.operators.IndexCostProbe [reps]"` (default 15
 * timed reps after 3 warm-ups per mode). Heap figures are differences of
 * used heap after repeated `System.gc()` with five copies of the index
 * live, divided by five; the index inputs are collected before the first
 * reading. The broadcast
 * counts include one task-binary broadcast per Spark stage: a kernel under
 * `explode`/`inline` runs one job on a local probe side in this session,
 * which has no `LocalKernelFold`.
 *
 * A last line times the SQL `st_covers` join over a local polygon view in
 * an extension session (`SpatialJoinRewrite`'s kernel route), which builds
 * and broadcasts a new index on every query.
 */
object IndexCostProbe {

  private val Zooms = Seq(16, 18)

  private final case class Kernel(name: String, build: () => AnyRef, force: AnyRef => Any,
                                  table: AnyRef => graft.core.CellBuckets,
                                  fresh: () => (Double, Long), hit: () => (Double, Long))

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(15)
    val spark = TestSpark.spark
    import spark.implicits._
    val city = PipKernelSpec.city(7000)
    val centroids = city.map(f => (f.feature_id, f.centroid.x, f.centroid.y))
    val rings = PlanIndexSpec.ringsOf(spark, city)
    val fps = city.toDS()
    val rnd = new scala.util.Random(11)
    def probes(): DataFrame = Seq.fill(1000)((s"p${rnd.nextInt()}",
      rnd.nextDouble() * 4020 - 20, rnd.nextDouble() * 2820 - 20)).toDF("probe_id", "x", "y")

    // the broadcast id counter: ids are consecutive per SparkContext
    def nextBroadcastId(): Long = { val b = spark.sparkContext.broadcast(0); b.destroy(); b.id }

    /** (p50 ms, broadcasts per query) of `query` on `input()`'s value, each
      * input made outside the timer. */
    def p50[I](input: () => I)(query: (DataFrame, I) => DataFrame): (Double, Long) = {
      val runs = (0 until reps + 3).map { _ =>
        val (in, pts) = (input(), probes())
        val id0 = nextBroadcastId()
        val t0 = System.nanoTime()
        query(pts, in).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, nextBroadcastId() - id0 - 1)
      }.drop(3)
      (runs.map(_._1).sorted.apply(runs.size / 2), runs.map(_._2).max)
    }

    val center = (0.0, 0.0) // the first star's centre: a candidate cell, so the refine builds too
    val ringRows = rings.collect()
    val features = fps.select("feature_id", "partition_id", "env").as(TileIndex.featureEncoder).collect()
    val kernels = Seq(
      Kernel("pip_matches", () => new PipIndex(city, PipJoin.DefaultRes),
        i => i.asInstanceOf[PipIndex].matches(center._1, center._2), _.asInstanceOf[PipIndex].buckets,
        () => p50(() => city.map(identity))(PipJoin.auto(_, _)),
        () => p50(() => city)(PipJoin.auto(_, _))),
      Kernel("knn_matches", () => new KnnIndex(centroids, 5),
        i => i.asInstanceOf[KnnIndex].matches(center._1, center._2), _.asInstanceOf[KnnIndex].buckets,
        () => p50(() => centroids.map(identity))(KnnJoin.broadcastGrid(_, _, 5)),
        () => p50(() => centroids)(KnnJoin.broadcastGrid(_, _, 5))),
      Kernel("setback_nearest", () => SetbackIndex.fromRows(ringRows, 12, 16),
        i => i.asInstanceOf[SetbackIndex].nearest(center._1, center._2),
        _.asInstanceOf[SetbackIndex].buckets._1,
        () => p50(() => PlanIndexSpec.ringsOf(spark, city))(Setback.auto(_, _, idCol = "probe_id")),
        () => p50(() => rings)(Setback.auto(_, _, idCol = "probe_id"))),
      Kernel("tile_matches", () => new TileIndex(features, Zooms),
        i => i.asInstanceOf[TileIndex].matches(Tiles.pack(Tiles.tileOf(center._1, center._2, 18))),
        _.asInstanceOf[TileIndex].buckets,
        () => p50(() => city.toDS())(TileAssign.auto(_, _, Zooms)),
        () => p50(() => fps)(TileAssign.auto(_, _, Zooms))))

    // heap first, while no earlier query's broadcast is being cleaned
    val sizes = kernels.map { k =>
      val lazyMs = Seq.fill(15) {
        val index = k.build()
        val t0 = System.nanoTime()
        k.force(index)
        (System.nanoTime() - t0) / 1e6
      }.sorted.apply(7)
      // five live copies: the per-index share of the heap, with a fifth of the noise
      val before = usedMb()
      val held = Array.fill(5)(k.build())
      val built = usedMb()
      held.foreach(k.force)
      val after = usedMb()
      val index = held.head
      val (cells, pairs, cap) = k.table(index).stats
      f"lazy_ms=$lazyMs%.1f serial_mb=${serializedMb(index)}%.2f " +
        f"heap_mb=${(after - before) / 5}%.2f lazy_heap_mb=${(after - built) / 5}%.2f cells=$cells pairs=$pairs cap=$cap"
    }
    kernels.zip(sizes).foreach { case (k, size) =>
      val (fresh, hit) = (k.fresh(), k.hit())
      println(f"[index-cost] ${k.name}%-15s fresh_p50_ms=${fresh._1}%.1f hit_p50_ms=${hit._1}%.1f " +
        s"bc_fresh=${fresh._2} bc_hit=${hit._2} $size")
    }
    println(sqlRewrite(spark, city, () => probes().collect().map(r => (r.getString(0), r.getDouble(1),
      r.getDouble(2))).toSeq, reps))
    spark.stop()
  }

  /** The SQL `st_covers` join over a local polygon view: the rewrite builds
    * and broadcasts a new index on every query (no memo), which its
    * kernel then probes on the driver. Medians of `reps` of each step:
    * `build_ms` (`SpatialJoinRewrite.polygonIndex` from the view's rows),
    * `bc_ms` and `bc_mb` (`SparkContext.broadcast` of it and its
    * Java-serialized size), `lazy_ms` (its first probe), and `query_p50_ms`
    * with the Spark `jobs` of one whole 1000-probe query. */
  private def sqlRewrite(spark: SparkSession, city: Seq[Footprint],
                         probes: () => Seq[(String, Double, Double)], reps: Int): String = {
    val ext = spark.newSession()
    GraftExtensions.enable(ext)
    import ext.implicits._
    ext.createDataset(city).select(col("feature_id").as("fid"), col("ring"), col("holes"))
      .createOrReplaceTempView("cost_bldg")
    val lr = ext.table("cost_bldg").queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    val Seq(fid, ring, holes) = lr.output
    def build() = SpatialJoinRewrite.polygonIndex(ring, holes, lr, Seq(fid))
    def median(ms: Seq[Double]) = ms.sorted.apply(ms.size / 2)
    def timed[T](f: => T): (T, Double) = { val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e6) }
    val steps = (0 until reps + 3).map { _ =>
      val (index, buildMs) = timed(build())
      val (bc, bcMs) = timed(ext.sparkContext.broadcast(index))
      val (_, lazyMs) = timed(index.matches(0.0, 0.0))
      bc.destroy()
      (buildMs, bcMs, lazyMs)
    }.drop(3)
    val queries = (0 until reps + 3).map { _ =>
      probes().toDF("probe_id", "x", "y").createOrReplaceTempView("cost_probes")
      val q = ext.sql("SELECT p.probe_id, b.fid FROM cost_probes p, cost_bldg b " +
        "WHERE st_covers(b.ring, b.holes, p.x, p.y)")
      val ((_, jobs), ms) = timed(TestSpark.jobsRunBy(q.collect()))
      (ms, jobs)
    }.drop(3)
    f"[index-cost] ${"sql st_covers"}%-15s query_p50_ms=${median(queries.map(_._1))}%.1f " +
      f"jobs=${queries.map(_._2).max} build_ms=${median(steps.map(_._1))}%.1f " +
      f"bc_ms=${median(steps.map(_._2))}%.1f bc_mb=${serializedMb(build())}%.2f " +
      f"lazy_ms=${median(steps.map(_._3))}%.1f"
  }

  private def usedMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  private def serializedMb(o: AnyRef): Double = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size / 1048576.0
  }
}
