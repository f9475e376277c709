package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Baseline: brute-force cosine top-k — probes broadcast against the full
 * table. Dot/cosine are native codegen expressions ([[org.apache.spark.sql
 * .graft.VecKernels]]): the higher-order-function formulation
 * (`aggregate(zip_with(...))`) is CodegenFallback, interpreted per element
 * with boxing — it dominated the scoring scan. Summation order is identical
 * to the left-fold HOF, so results (and the DuckDB oracles) are unchanged
 * bit-for-bit.
 *
 * Scale path: IVF — k-means centroids partition the table into inverted
 * lists (optionally product-quantized); probes only score their `nprobe`
 * nearest lists. At 10^12 rows the list id is also the table's cluster key,
 * so a probe touches `nprobe` partition ranges.
 */
object AnnSearch {

  /** Σ aᵢ·bᵢ as double (element-wise widening BEFORE multiply). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecFunctionsImpl.vec_dot(a, b)

  def norm(a: Column): Column =
    sqrt(org.apache.spark.sql.graft.VecFunctionsImpl.vec_dot(a, a))

  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecFunctionsImpl.vec_cosine(a, b)

  /**
   * Per-probe (cos desc, id asc) top-k via the k-bounded `topk_by` aggregate
   * ([[org.apache.spark.sql.graft.TopKByAgg]]): only k-entry buffers cross
   * the shuffle (map-side combine), so the ranking stage's shuffle volume is
   * candidate-count-independent — the `row_number()` window form (kept as
   * the q21/q23 DuckDB oracle twin) must shuffle AND sort every scored
   * candidate row per probe, which at 10^12 rows × nprobe lists is the
   * query's largest intermediate. Output rows are exactly the window's:
   * (probe_id, idCol, cos, rnk) with 1-based rnk, ties by id ascending.
   */
  private def boundedTopK(scored: DataFrame, k: Int, idCol: String): DataFrame =
    scored.groupBy("probe_id")
      .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
        col("cos"), col(idCol), k).as("tk"))
      .select(col("probe_id"), explode(col("tk")).as("e"))
      .select(col("probe_id"), col("e.key").as(idCol),
        col("e.score").as("cos"), col("e.rnk").as("rnk"))

  /**
   * Bounded, deterministic fit sample (centroids, codebooks), ordered by id:
   * an id-range predicate pushes to the scan (an orderBy().limit() is a full
   * TakeOrdered pass) — but that assumes ids dense from 0; with sparse or
   * offset ids the range comes back with fewer than `minRows` rows and we
   * fall back to the `sampleN` smallest ids rather than fit too few points.
   */
  private[operators] def fitSample(table: DataFrame, idCol: String, vecCol: String,
                                   sampleN: Int, minRows: Int): Array[Array[Float]] = {
    val spark = table.sparkSession
    import spark.implicits._
    val rows = table.select(col(idCol), col(vecCol))
    val ranged = rows.where(col(idCol) < lit(sampleN.toLong)).as[(Long, Array[Float])].collect()
    (if (ranged.length >= minRows) ranged
      else rows.orderBy(col(idCol)).limit(sampleN).as[(Long, Array[Float])].collect())
      .sortBy(_._1).map(_._2)
  }

  /**
   * Brute-force cosine top-k: every probe scores every row.
   * probes: (probe_id, pvec); table: (idCol, vecCol). Output:
   * (probe_id, vec_id, cos, rnk) with deterministic (cos desc, vec_id asc).
   */
  def bruteTopK(table: DataFrame, probes: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = table.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(probes.select(col("probe_id"), col("pvec"))))
      .withColumn("cos", cosine(col(vecCol), col("pvec")))
    boundedTopK(scored, k, idCol)
  }

  /**
   * IVF (inverted-file) ANN — the cluster-prune scale path: deterministic
   * Lloyd's k-means over a bounded sample fits `nlist` centroids on the
   * driver; the table is assigned to its nearest centroid (mapPartitions,
   * broadcast centroids, primitive loops — at 10^12 rows the cluster id is
   * also the table's cluster/partition key so a probe reads `nprobe/nlist`
   * of the data); probes score only their `nprobe` nearest lists.
   */
  def ivfTopK(table: DataFrame, probes: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 5,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sample = fitSample(table, idCol, vecCol, math.max(1000, nlist * 100), nlist)
    require(sample.nonEmpty, s"ivfTopK: table has no rows to fit centroids from")
    val centroids = kmeans(sample, nlist, iters)
    ivfProbe(table, probes, k, centroids.indices.map(_.toLong).toArray, centroids,
      nprobe, idCol, vecCol)
  }

  /**
   * IVF with a deterministic sampled coarse quantizer (no Lloyd refinement):
   * the centroids are the embeddings of ids `< nlist` — the standard
   * IVF-FLAT probe shape (assign → nprobe nearest lists → exact re-rank)
   * with a quantizer simple enough to be ANSI-SQL-replicable, so the whole
   * operator is DuckDB-oracle-checked (q23). [[ivfTopK]] keeps the
   * k-means-refined quantizer (recall-tested in ScalaTest). Ties in the
   * quantizer break by centroid id; re-rank ties by `idCol`.
   */
  def ivfFixedTopK(table: DataFrame, probes: DataFrame, k: Int,
                   nlist: Int = 16, nprobe: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = table.sparkSession
    import spark.implicits._
    val centroids = table
      .where(col(idCol) < nlist).select(col(idCol), col(vecCol))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(centroids.nonEmpty, s"no centroid rows with $idCol < $nlist")
    ivfProbe(table, probes, k, centroids.map(_._1), centroids.map(_._2.map(_.toDouble)),
      nprobe, idCol, vecCol)
  }

  /** The IVF probe both quantizers share: the table is assigned to its
    * nearest centroid, each probe scores only its `nprobe` nearest lists
    * (ties by centroid id) through a broadcast join, and [[boundedTopK]]
    * ranks the cosines. */
  private def ivfProbe(table: DataFrame, probes: DataFrame, k: Int,
                       ids: Array[Long], centroids: Array[Array[Double]], nprobe: Int,
                       idCol: String, vecCol: String): DataFrame = {
    val spark = table.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ids.zip(centroids))
    val ivf = new org.apache.spark.sql.graft.IvfCentroids(ids, centroids)

    // table-side assignment is a single codegen projection — the centroid
    // set rides the plan as a reference object, so the 10^12-row pass keeps
    // whole-stage codegen and column pruning (no Encoder round-trip)
    val assigned = table.select(col(idCol), col(vecCol))
      .withColumn("list_id",
        org.apache.spark.sql.graft.VecFunctionsImpl.ivf_assign(col(vecCol), ivf))
    val probeLists = probes.select(col("probe_id"), col("pvec"))
      .as[(Long, Array[Float])]
      .flatMap { case (pid, pv) =>
        bc.value.map { case (cid, c) =>
          var d = 0.0; var i = 0
          while (i < pv.length) { val dx = pv(i) - c(i); d += dx * dx; i += 1 }
          (d, cid)
        }.sortBy(identity).take(nprobe).map { case (_, cid) => (pid, pv, cid) }
      }.toDF("probe_id", "pvec", "list_id")
    val scored = assigned.join(broadcast(probeLists), Seq("list_id"))
      .withColumn("cos", cosine(col(vecCol), col("pvec")))
      .select(col("probe_id"), col(idCol), col("cos"))
    boundedTopK(scored, k, idCol)
  }

  /**
   * Product-quantization ANN (Jégou et al., TPAMI 2011) — the memory-scale
   * path: vectors compress to `m` bytes (one sub-centroid id per subspace),
   * so the scored scan reads the m-byte `code` column instead of 4·dim-byte
   * vectors (32× for 64-float embeddings) — at 10^12 rows the code column IS
   * the stored index. Probes broadcast with a precomputed ADC lookup table
   * (m·ksub doubles, ~1 KB each); the approximate distance is `m` array
   * reads per candidate in one codegen projection (`pq_adc` — no reference
   * object, no join). With `rerank > 0` the standard two-stage pipeline
   * runs: top-`rerank` by ADC (k-bounded `topk_by`, map-side combined),
   * full vectors re-fetched by equi-join for only |probes|·rerank rows,
   * exact cosine re-rank — the family's output shape
   * (probe_id, idCol, cos, rnk). With `rerank = 0` output is
   * (probe_id, idCol, d2a, rnk) by (ADC asc, id asc).
   *
   * Codebooks: deterministic per-subspace Lloyd's k-means over the same
   * bounded id-range sample as [[ivfTopK]] — everything is content-derived,
   * so results are partitioning-invariant (the determinism-probe contract).
   */
  def pqTopK(table: DataFrame, probes: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 5, rerank: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sample = fitSample(table, idCol, vecCol, math.max(1000, ksub * 40), ksub)
    require(sample.nonEmpty, "pqTopK: table has no rows to fit codebooks from")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTopK: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val ks = math.min(ksub, sample.length)
    val books = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeans(sub, ks, iters)
    }
    val pq = new org.apache.spark.sql.graft.PqCodebooks(m, ks, dsub, books)

    // encode is a single codegen projection over the scan; scoring reads
    // ONLY (id, code) — the compressed representation
    val codes = table.select(col(idCol),
      org.apache.spark.sql.graft.VecFunctionsImpl.pq_encode(col(vecCol), pq).as("code"))
    val probesL = probes.select(col("probe_id"),
      org.apache.spark.sql.graft.VecFunctionsImpl.pq_lut(col("pvec"), pq).as("lut"))
    val scored = codes.crossJoin(broadcast(probesL))
      .select(col("probe_id"), col(idCol),
        org.apache.spark.sql.graft.VecFunctionsImpl.pq_adc(col("code"), col("lut")).as("d2a"))
    if (rerank <= 0) {
      scored.groupBy("probe_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
          -col("d2a"), col(idCol), k).as("tk"))
        .select(col("probe_id"), explode(col("tk")).as("e"))
        .select(col("probe_id"), col("e.key").as(idCol),
          (-col("e.score")).as("d2a"), col("e.rnk").as("rnk"))
    } else {
      val cand = scored.groupBy("probe_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
          -col("d2a"), col(idCol), math.max(rerank, k)).as("tk"))
        .select(col("probe_id"), explode(col("tk")).as("e"))
        .select(col("probe_id"), col("e.key").as(idCol))
      val exact = cand
        .join(table.select(col(idCol), col(vecCol)), Seq(idCol))
        .join(broadcast(probes.select(col("probe_id"), col("pvec"))), Seq("probe_id"))
        .withColumn("cos", cosine(col(vecCol), col("pvec")))
        .select(col("probe_id"), col(idCol), col("cos"))
      boundedTopK(exact, k, idCol)
    }
  }

  /**
   * IVF-PQ — the standard billion-scale ANN index (FAISS `IVFx,PQy` shape),
   * composed from the two parts this engine already owns: the IVF coarse
   * quantizer prunes the candidate set to `nprobe/nlist` of the table
   * (at 10^12 rows the list id is also the storage cluster key, so probes
   * read a partition range), and within the visited lists PQ-ADC scores
   * m-byte codes instead of 4·dim-byte vectors. RESIDUAL encoding (the
   * paper's refinement): each vector is PQ-encoded as `v − centroid(v)`,
   * and the probe builds one ADC table per visited list from `q − c_list`
   * — residuals are centered near zero, so the sub-codebooks spend their
   * 2^bits resolution on the informative part. Codebooks train on the
   * residuals of the bounded deterministic sample. Optional exact cosine
   * re-rank as in [[pqTopK]]. Output matches the family:
   * (probe_id, idCol, cos, rnk) with rerank, else (probe_id, idCol, d2a, rnk).
   */
  /** `multiprobe`: per probe, ALSO visit `nprobe` extra lists chosen by the
    * smallest distance from the query to the BISECTING HYPERPLANE of the
    * home cell and the candidate cell, (d²(q,cᵢ) − d²(q,c₀)) / (2·‖cᵢ−c₀‖) —
    * the IVF analogue of query-directed multiprobe LSH (and of
    * [[graft.operators.Dedup.lshPairsBanded]]'s leave-one-out probes): a
    * true neighbor displaced across a Voronoi boundary lands in the cell
    * whose BOUNDARY is nearest, which under anisotropic centroid layouts is
    * not the cell whose CENTROID is nearest — margin ranking recovers those
    * cells that raw-d² extension would skip. Zero table-side cost (no
    * re-encode, no multi-assignment); probe-side candidate volume ≈ 2×, the
    * standard multiprobe recall/volume trade. */
  def ivfPqTopK(table: DataFrame, probes: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, iters: Int = 5, rerank: Int = 0,
                multiprobe: Boolean = false,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = table.sparkSession
    import spark.implicits._
    val sample = fitSample(table, idCol, vecCol,
      math.max(1000, math.max(nlist, ksub) * 40), math.max(nlist, ksub))
    require(sample.nonEmpty, "ivfPqTopK: table has no rows to fit from")
    val dim = sample.head.length
    require(dim % m == 0, s"ivfPqTopK: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // coarse quantizer on the raw sample
    val centroids = kmeans(sample, nlist, iters)
    val ivf = new org.apache.spark.sql.graft.IvfCentroids(
      centroids.indices.map(_.toLong).toArray, centroids)
    // sub-codebooks on RESIDUALS v − centroid(v)
    def residual(v: Array[Float]): Array[Float] = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val dx = v(i) - centroids(c)(i); d += dx * dx; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val r = new Array[Float](dim)
      var i = 0
      while (i < dim) { r(i) = (v(i) - centroids(best)(i)).toFloat; i += 1 }
      r
    }
    val residuals = sample.map(residual)
    val ks = math.min(ksub, sample.length)
    val books = Array.tabulate(m) { s =>
      kmeans(residuals.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
        ks, iters)
    }
    val pq = new org.apache.spark.sql.graft.PqCodebooks(m, ks, dsub, books)
    val rq = new org.apache.spark.sql.graft.IvfPqResidual(ivf, pq)

    // one codegen projection over the table scan: (list_id, residual code)
    val codes = table.select(col(idCol),
      org.apache.spark.sql.graft.VecFunctionsImpl.ivf_assign(col(vecCol), ivf).as("list_id"),
      org.apache.spark.sql.graft.VecFunctionsImpl.ivfpq_encode(col(vecCol), rq).as("code"))
    // probe side: nprobe nearest lists, one residual ADC table per list
    val bc = spark.sparkContext.broadcast(centroids)
    val probeLists = probes.select(col("probe_id"), col("pvec"))
      .as[(Long, Array[Float])]
      .flatMap { case (pid, pv) =>
        val cs = bc.value
        val ds = cs.indices.map { c =>
          var d = 0.0; var i = 0
          while (i < pv.length) { val dx = pv(i) - cs(c)(i); d += dx * dx; i += 1 }
          (pid, pv, c.toLong, d)
        }
        val base = ds.sortBy(t => (t._4, t._3)).take(nprobe)
        if (!multiprobe || base.isEmpty) base
        else {
          // margin probing: extend with the lists whose Voronoi boundary
          // (vs the home cell) is nearest to the query — see scaladoc
          val sel = base.map(_._3).toSet
          val home = cs(base.head._3.toInt)
          val d0 = base.head._4
          val extra = ds.filterNot(t => sel(t._3)).map { case (p, v, cid, d) =>
            var n2 = 0.0; var i = 0
            val cc = cs(cid.toInt)
            while (i < cc.length) { val dx = cc(i) - home(i); n2 += dx * dx; i += 1 }
            // duplicate centroid (k-means can emit one when nlist exceeds
            // distinct vectors): boundary distance is 0, not 0/0 = NaN —
            // NaN would sort LAST and silently skip the list that should
            // rank first among the extras
            val margin = if (n2 == 0.0) 0.0 else (d - d0) / (2.0 * math.sqrt(n2))
            ((p, v, cid, d), margin, cid)
          }.sortBy(t => (t._2, t._3)).take(nprobe).map(_._1)
          base ++ extra
        }
      }.toDF("probe_id", "pvec", "list_id", "cdist")
      .select(col("probe_id"), col("list_id"),
        org.apache.spark.sql.graft.VecFunctionsImpl
          .ivfpq_lut(col("pvec"), col("list_id"), rq).as("lut"))
    val scored = codes.join(broadcast(probeLists), Seq("list_id"))
      .select(col("probe_id"), col(idCol),
        org.apache.spark.sql.graft.VecFunctionsImpl.pq_adc(col("code"), col("lut")).as("d2a"))
    if (rerank <= 0) {
      scored.groupBy("probe_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
          -col("d2a"), col(idCol), k).as("tk"))
        .select(col("probe_id"), explode(col("tk")).as("e"))
        .select(col("probe_id"), col("e.key").as(idCol),
          (-col("e.score")).as("d2a"), col("e.rnk").as("rnk"))
    } else {
      val cand = scored.groupBy("probe_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
          -col("d2a"), col(idCol), math.max(rerank, k)).as("tk"))
        .select(col("probe_id"), explode(col("tk")).as("e"))
        .select(col("probe_id"), col("e.key").as(idCol))
      val exact = cand
        .join(table.select(col(idCol), col(vecCol)), Seq(idCol))
        .join(broadcast(probes.select(col("probe_id"), col("pvec"))), Seq("probe_id"))
        .withColumn("cos", cosine(col(vecCol), col("pvec")))
        .select(col("probe_id"), col(idCol), col("cos"))
      boundedTopK(exact, k, idCol)
    }
  }

  /** Deterministic Lloyd's k-means (driver-side; centroids are tiny). */
  def kmeans(vecs: Array[Array[Float]], kIn: Int, iters: Int): Array[Array[Double]] = {
    val k = math.min(kIn, vecs.length)
    val dim = vecs.head.length
    var centroids = Array.tabulate(k)(i => vecs(i * vecs.length / k).map(_.toDouble))
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      vecs.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val dx = v(i) - centroids(c)(i); d += dx * dx; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids
  }
}
