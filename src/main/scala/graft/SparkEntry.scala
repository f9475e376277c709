package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.model._
import graft.operators.{KnnJoin, PipJoin, XLinkResolve}
import graft.sources.{CityGmlReader, CityJsonReader, ImageGen}

/**
 * Driver contract (SURVEY.md §2 operator inventory → named queries).
 *
 * Every SQL-expressible operator carries a DuckDB oracle over the same parquet
 * tables; geospatial queries that need deterministic coordinates derive them
 * arithmetically from integer keys (bit-identical doubles in Spark and DuckDB).
 * Engine-only queries (CityGML fixtures, synthetic images) have no oracle —
 * their exact row sets are asserted against brute-force oracles in ScalaTest.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- deterministic planar coordinates derived from integer columns ----
  // x = 457840 + ((id*7919) % 1600) * 0.01   (∈ [457840, 457856))
  // y = 5439081 + ((id*104729) % 1400) * 0.01 (∈ [5439081, 5439095))
  private def withXY(df: DataFrame, id: String): DataFrame = df
    .withColumn("x", lit(457840.0) + ((col(id) * 7919L) % 1600L).cast("double") * lit(0.01))
    .withColumn("y", lit(5439081.0) + ((col(id) * 104729L) % 1400L).cast("double") * lit(0.01))
  private val xySql =
    """457840.0 + CAST((%ID% * 7919) %% 1600 AS DOUBLE) * 0.01::DOUBLE AS x,
       5439081.0 + CAST((%ID% * 104729) %% 1400 AS DOUBLE) * 0.01::DOUBLE AS y"""

  /** The 100-square CityJSON-grid-shaped footprint fixture shared by
    * q40/q86/q87 (corner offsets 0.205/0.105 keep every derived point off
    * the ring boundary, so inclusive-vs-exclusive semantics cannot flake). */
  private def gridSquares(ids: Seq[Long]): Seq[Footprint] = ids.map { i =>
    val minx = 457840.0 + ((i % 10).toDouble * 1.6) + 0.205
    val miny = 5439081.0 + ((i / 10).toDouble * 1.4) + 0.105
    val maxx = minx + 1.19; val maxy = miny + 1.19
    Footprint(s"b$i", "Building", 0,
      Seq(XY(minx, miny), XY(maxx, miny), XY(maxx, maxy), XY(minx, maxy)),
      Seq.empty, Env6(minx, miny, 0, maxx, maxy, 0),
      XY((minx + maxx) / 2, (miny + maxy) / 2), Map.empty)
  }

  // fixture-derived footprints (engine-only queries)
  private lazy val fzkFootprints: Seq[Footprint] =
    CityGmlReader.toFootprints(
      CityGmlReader.parseFile(Fixtures.fzkV2), 0)
  private lazy val cjFootprints: Seq[Footprint] =
    CityJsonReader.toFootprints(
      CityJsonReader.parseFile(Fixtures.cityJson), 1)

  /** Flagship: synthetic geotagged images PIP-joined to the FZK footprint. */
  def entry(spark: SparkSession): DataFrame = {
    val pts = ImageGen.points(spark, 2000, 8).toDF("image_id", "x", "y")
    PipJoin.auto(pts, fzkFootprints.filter(_.feature_type == "Building"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- generic operator coverage (reference §2.2/2.3/2.4/2.5) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
          max("l_extendedprice").as("max_price"))
    }),
    "q2_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
          && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),
    "q3_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), max("o_totalprice").as("max_price"))
    }),
    "q4_join_agg" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    }),
    "q5_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "rnk")
    }),
    "q6_census" -> ((s, dir) => {
      // label census semantics (Neo4jDB.summarize, Neo4jDB.java:471-501)
      t(s, dir, "events").groupBy("event_type").agg(count(lit(1)).as("cnt"))
    }),
    "q7_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").select("c_custkey")
    }),
    "q8_env_agg" -> ((s, dir) => {
      // A1 bbox aggregation analog: per-group min/max envelope
      t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))
    }),
    "q9_xlink_audit" -> ((s, dir) => {
      // J1 XLink resolution with unresolved/ambiguous audit (CityKGDB.java:260-338)
      val hrefs = t(s, dir, "lineitem").where(col("l_linenumber") === 1)
        .select(col("l_orderkey").cast("string").as("owner_id"),
          // 1/97 unresolved (id pushed out of range); 1/50 missing '#' (P5 normalization)
          when(col("l_orderkey") % 50 === 0,
            (col("l_orderkey") + when(col("l_orderkey") % 97 === 0, 1000000000L).otherwise(0L)).cast("string"))
            .otherwise(concat(lit("#"),
              (col("l_orderkey") + when(col("l_orderkey") % 97 === 0, 1000000000L).otherwise(0L)).cast("string")))
            .as("href"),
          lit(0).as("partition_id"))
      val ids = t(s, dir, "orders").select(col("o_orderkey").cast("string").as("id"),
          lit("order").as("kind"), lit(0).as("partition_id"))
        .unionByName(t(s, dir, "orders").where(col("o_orderkey") % 1000 === 0)
          .select(col("o_orderkey").cast("string").as("id"),
            lit("order_dup").as("kind"), lit(0).as("partition_id")))
      XLinkResolve.audit(XLinkResolve.resolve(hrefs, ids))
    }),

    // ---- geospatial with arithmetic-derived coordinates (SQL-checkable) ----
    "q10_cell_grid" -> ((s, dir) => {
      // Z-order cell encode at level 16 → per-cell census
      val pts = withXY(t(s, dir, "events"), "event_id")
      pts.withColumn("cell", z_encode(col("x"), col("y"), lit(22)))
        .groupBy(z_cell_x(col("cell")).as("ix"), z_cell_y(col("cell")).as("iy"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "q11_pip_join" -> ((s, dir) => {
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"), col("x"), col("y"))
      val rect = Footprint("rect_fzk", "Query", 0,
        Seq(XY(457842, 5439083), XY(457854, 5439083), XY(457854, 5439093), XY(457842, 5439093)),
        Seq.empty, Env6(457842, 5439083, 0, 457854, 5439093, 0), XY(457848, 5439088), Map.empty)
      val tri = Footprint("tri_1", "Query", 0,
        Seq(XY(457845.335, 5439084.125), XY(457852.785, 5439086.295), XY(457848.115, 5439092.635)),
        Seq.empty, Env6(457845.335, 5439084.125, 0, 457852.785, 5439092.635, 0),
        XY(457848.745, 5439087.685), Map.empty)
      PipJoin.auto(pts, Seq(rect, tri), res = 12)
        .select(col("event_id"), col("feature_id"))
    }),
    "q12_knn" -> ((s, dir) => {
      val probes = withXY(t(s, dir, "events").where(col("event_id") % 97 === 0), "event_id")
        .select(col("event_id").cast("string").as("probe_id"), col("x"), col("y"))
      val targets = t(s, dir, "part").where(col("p_partkey") <= 200)
        .select(concat(lit("t"), col("p_partkey")).as("target_id"),
          (lit(457840.0) + ((col("p_partkey") * 7L) % 40L).cast("double") * lit(0.4)).as("cx"),
          (lit(5439081.0) + ((col("p_partkey") * 13L) % 35L).cast("double") * lit(0.4)).as("cy"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      KnnJoin.broadcastGrid(probes, targets, k = 3, res = 12)
    }),
    "q13_tile_topk" -> ((s, dir) => {
      // raster↔vector assignment: WMTS tile of each point at zoom 24, top-2
      // per tile — the north-star tiling stage. long_topk is a k-bounded
      // aggregate with map-side combine: only 2-entry buffers cross the
      // shuffle, candidate-count-independent at 10^12 points, where the
      // row_number() window (the oracle twin) must shuffle AND sort every
      // point row per tile. Plan gate: no Window/Sort (PlanQualitySpec).
      val pts = withXY(t(s, dir, "events"), "event_id")
        .withColumn("tile_id", tile_of(col("x"), col("y"), lit(24)))
        .withColumn("tx", expr("shiftright(tile_id, 29) & 536870911"))
        .withColumn("ty", expr("tile_id & 536870911"))
      pts.groupBy("tx", "ty")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.long_topk(col("event_id"), 2).as("top"))
        .select(col("tx"), col("ty"), explode(col("top")).as("m"))
        .select(col("tx"), col("ty"), col("m.v").as("event_id"), col("m.rn").as("rn"))
    }),
    "q14_range_join" -> ((s, dir) => {
      // P6/J4 AABB intersection join — touching boxes INCLUDED (Neo4jDB.java:378-380)
      val boxes = t(s, dir, "part").where(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          (((col("p_partkey") * 3L) % 20L).cast("double") * lit(2.0)).as("bminx"),
          (((col("p_partkey") * 7L) % 20L).cast("double") * lit(2.0)).as("bminy"))
        .withColumn("bmaxx", col("bminx") + 3.0).withColumn("bmaxy", col("bminy") + 3.0)
      val queries = t(s, dir, "nation")
        .select(col("n_nationkey"),
          ((col("n_nationkey") % 5L).cast("double") * lit(8.0)).as("qminx"),
          (((col("n_nationkey") * 3L) % 10L).cast("double") * lit(4.0)).as("qminy"))
        .withColumn("qmaxx", col("qminx") + 6.0).withColumn("qmaxy", col("qminy") + 6.0)
      boxes.join(broadcast(queries),
        !(col("bminx") > col("qmaxx") || col("bmaxx") < col("qminx") ||
          col("bminy") > col("qmaxy") || col("bmaxy") < col("qminy")))
        .select("p_partkey", "n_nationkey")
    }),

    // ---- training-data pipeline ops over documents ----
    "q17_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("content_hash", md5(col("text").cast("binary")))
        .groupBy("content_hash")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
    }),
    "q15_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        length(col("text")).as("len_chars"))
    }),
    "q16_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        substring(md5(lower(col("text")).cast("binary")), 1, 16).as("fp16"))
    }),

    "q28_bbox_match" -> ((s, dir) => {
      // J5 volume-overlap bbox match with degenerate-dim collapse
      // (CityGMLV2DB.matchBbox, :339-381): flat boxes -> z axis dropped,
      // overlap-area ratio must exceed 0.5 on BOTH sides
      val boxes = t(s, dir, "part").where(col("p_partkey") <= 300)
        .select(col("p_partkey"),
          (((col("p_partkey") * 3L) % 20L).cast("double") * lit(2.0)).as("aminx"),
          (((col("p_partkey") * 7L) % 20L).cast("double") * lit(2.0)).as("aminy"))
        .withColumn("amaxx", col("aminx") + 3.0).withColumn("amaxy", col("aminy") + 3.0)
      val queries = t(s, dir, "nation")
        .select(col("n_nationkey"),
          ((col("n_nationkey") % 5L).cast("double") * lit(8.0)).as("bminx"),
          (((col("n_nationkey") * 3L) % 10L).cast("double") * lit(4.0)).as("bminy"))
        .withColumn("bmaxx", col("bminx") + 6.0).withColumn("bmaxy", col("bminy") + 6.0)
      val ox = greatest(lit(0.0), least(col("amaxx"), col("bmaxx")) - greatest(col("aminx"), col("bminx")))
      val oy = greatest(lit(0.0), least(col("amaxy"), col("bmaxy")) - greatest(col("aminy"), col("bminy")))
      val volA = (col("amaxx") - col("aminx")) * (col("amaxy") - col("aminy"))
      val volB = (col("bmaxx") - col("bminx")) * (col("bmaxy") - col("bminy"))
      boxes.join(broadcast(queries),
        (ox * oy / volA > 0.5) && (ox * oy / volB > 0.05))
        .select("p_partkey", "n_nationkey")
    }),
    "q29_shared_refs" -> ((s, dir) => {
      // J6 dedup-on-write: a target referenced >1x is re-serialized as an
      // XLink instead of inline (handleOriginXLink, CityGMLV2DB.java:262-281)
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("target_id"))
        .agg(count(lit(1)).as("n_refs"))
        .withColumn("representation",
          when(col("n_refs") > 1, "xlink").otherwise("inline"))
    }),
    "q18_minhash_sig" -> ((s, dir) => {
      import graft.operators.Dedup
      val d = t(s, dir, "documents")
        .where(size(split(col("text"), " ")) >= 3)
      Dedup.minhash(d, perms = 4)
    }),
    "q19_lsh_pairs" -> ((s, dir) => {
      graft.operators.Dedup.lshPairs(t(s, dir, "documents"), perms = 4, minJaccard = 0.5)
    }),
    "q94_weighted_jaccard" -> ((s, dir) => {
      // IDF-weighted near-dup verify with PLANTED boilerplate: every 7th doc
      // grows the same site-template tail, so template-only token overlap
      // exists by construction; integer rarity weights (max(1, N div df))
      // keep the verify sums exact longs — the wjac division is then
      // bit-replicable in the DuckDB twin where log-IDF would hit the libm
      // rule. Content twins keep their score; template overlap weighs ~1/token
      val boiler = " copyright example corp all rights reserved terms of" +
        " service privacy policy contact us"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")).as("text"))
      graft.operators.Dedup.lshPairsWeighted(docs, minWeightedJaccard = 0.4)
    }),
    "q86_visit_sequences" -> ((s, dir) => {
      // footprint VISIT segmentation (trajectory × PIP composition): every
      // geotagged ping inside a building footprint, ordered per user by the
      // total order (ts, event_id); consecutive same-footprint runs
      // collapse to one visit. PIP is the scan-local codegen pip_matches
      // path; the ordered pass is ONE entity-key shuffle (per-user order is
      // the semantics — a window here is honest, bounded by user activity)
      import org.apache.spark.sql.expressions.Window
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"), col("user_id"), col("ts"), col("x"), col("y"))
      val polys = gridSquares(0L until 100L)
      val hits = PipJoin.auto(pts, polys, res = 12)
        .select(col("user_id"), col("ts"), col("event_id"), col("feature_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      hits.withColumn("prev", lag(col("feature_id"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("feature_id"))
        .withColumn("visit_idx", row_number().over(w))
        .select(col("user_id"), col("visit_idx"), col("feature_id"),
          col("event_id").as("start_event"))
    }),
    "q92_quantile_norm" -> ((s, dir) => {
      // cross-source quality calibration: a raw quality score is not
      // comparable across sources, its per-source percent-rank is. This is
      // the EXACT oracle twin (per-source sort); the production path is
      // quantileNormalizeSketch (broadcast KLL grid + scan-local binary
      // search), gap-tested in TextStatsSpec. Null-text rows filtered —
      // engines disagree on NULL ordering inside window frames
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val scored = docs.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityColumns(col("text")).last.as("score"))
      graft.functions.TextFunctions.quantileNormalize(scored)
    }),
    "q91_setback" -> ((s, dir) => {
      // distance to the NEAREST footprint boundary per event (setback
      // analysis — the planning metric behind "how far is this point from
      // the closest building"): the 100 square rings ship as a broadcast
      // SetbackIndex and the codegen setback_nearest kernel scores, per
      // event, only the rings its hex-ring walk meets — each with the exact
      // st_dist2_ring kernel — keeping the min(struct(d2, fid)) row (ties on
      // fid). Per-ring distances carry q75's op-order-exact contract, the
      // min is order-free, sqrt is one op → bit-exact end to end. Routed
      // through Setback.auto: 100 rings take the map-only index path here;
      // past the spark.graft.setback.broadcastRingLimit threshold the same
      // call takes the distributed ring search (bit-identical rows —
      // SetbackSpec)
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"), col("x"), col("y"))
      val polys = t(s, dir, "part").where(col("p_partkey") < 100)
        .select(concat(lit("b"), col("p_partkey")).as("fid"),
          (lit(457840.0) + (col("p_partkey") % 10).cast("double") * lit(1.6) +
            lit(0.205)).as("minx"),
          (lit(5439081.0) + expr("CAST(p_partkey AS BIGINT) div 10").cast("double") *
            lit(1.4) + lit(0.105)).as("miny"))
        .select(col("fid"), col("minx"), col("miny"),
          (col("minx") + lit(1.19)).as("maxx"), (col("miny") + lit(1.19)).as("maxy"))
        .select(col("fid"),
          array(col("minx"), col("maxx"), col("maxx"), col("minx")).as("xs"),
          array(col("miny"), col("miny"), col("maxy"), col("maxy")).as("ys"))
      graft.operators.Setback.auto(pts, polys, idCol = "event_id")
    }),
    "q90_idw" -> ((s, dir) => {
      // inverse-distance-weighted interpolation of the event `value` field
      // at the 100 footprint centers (spatial analytics: estimate a field
      // at arbitrary sites from scattered samples): candidates via the
      // DISTRIBUTED cell-ring kNN join (no driver-side target collect, the
      // 10^12-target shape), k=8, then the ordered idw_fold kernel — every
      // weight/product/sum is one IEEE op in the kNN total order (d2, id),
      // replayed term-for-term by the oracle's ordered list_sum folds.
      // Probe offsets (.805/.705) sit OFF the 0.01 sample lattice → d2 > 0
      val probes = t(s, dir, "part").where(col("p_partkey") < 100)
        .select(concat(lit("p"), col("p_partkey")).as("probe_id"),
          (lit(457840.0) + (col("p_partkey") % 10).cast("double") * lit(1.6) +
            lit(0.805)).as("x"),
          (lit(5439081.0) + expr("CAST(p_partkey AS BIGINT) div 10").cast("double") *
            lit(1.4) + lit(0.705)).as("y"))
      val targets = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id").cast("string").as("target_id"),
          col("x").as("cx"), col("y").as("cy"))
      // res 15 (≈0.5 m cells), not the default 12 (≈9 m): the derived sample
      // lattice is 0.01 m over a 16×14 m window, so at res 12 every probe's
      // rings 0-1 hold nearly the whole 1M-target table (~10^8 candidate
      // rows scored); at res 15 a ring-1 neighborhood holds ~10^4 targets
      // and the round-1 stop bound (0.5 m ≫ the ~0.03 m k-th distance)
      // still fires. Pure index sizing (guide §2.5): the kNN result is
      // res-independent — the ring stop bound proves completeness at any
      // res, and the q90 oracle hash pins the rows unchanged. The cost is
      // not: with ringJoin's default maxR 16, res 15 guarantees only
      // ringLowerBound(15, 17) ≈ 12 m of ring coverage (res 12: ≈ 220 m),
      // so a probe whose 8th neighbour lies farther out (sparser data)
      // drops into the exact crossJoin fallback against the full target
      // table.
      val knn = graft.operators.KnnJoin.ringJoin(probes, targets, k = 8, res = 15)
      val vals = t(s, dir, "events")
        .select(col("event_id").cast("string").as("target_id"), col("value").as("v"))
      knn.join(vals, "target_id")
        .groupBy("probe_id")
        .agg(sort_array(collect_list(struct(col("d2"), col("target_id"), col("v"))))
          .as("nn"))
        .select(col("probe_id"),
          org.apache.spark.sql.graft.GeoFunctionsImpl
            .idw_fold(col("nn.d2"), col("nn.v")).as("idw"),
          size(col("nn")).as("k"))
    }),
    "q89_tile_top_contrib" -> ((s, dir) => {
      // per-tile dominant contributors: q77's exact area weights aggregated
      // with the k-bounded topk_by — only 3-entry buffers cross the tile
      // shuffle (no Window, no per-tile sort), ties (frac desc, rid asc)
      // total-ordered so the oracle's row_number replay matches exactly
      val r = t(s, dir, "part").where(col("p_partkey") < 200)
        .select(col("p_partkey").cast("long").as("rid"),
          (((col("p_partkey") * 13L) % 500L).cast("double") * lit(37.0)).as("minx"),
          (((col("p_partkey") * 29L) % 500L).cast("double") * lit(41.0)).as("miny"))
        .withColumn("maxx", col("minx") + (col("rid") % 7L + 1L).cast("double") * lit(23.0))
        .withColumn("maxy", col("miny") + (col("rid") % 5L + 1L).cast("double") * lit(31.0))
      def env = struct(col("minx"), col("miny"), lit(0.0).as("minz"),
        col("maxx"), col("maxy"), lit(0.0).as("maxz"))
      val weights = r
        .select(col("rid"), col("minx"), col("miny"), col("maxx"), col("maxy"),
          explode(graft.functions.GeoFunctions.tile_cover(env, lit(20))).as("tile_id"))
        .select(col("rid"), col("tile_id"),
          graft.functions.GeoFunctions.tile_clip_frac(col("tile_id"), env, 20).as("frac"))
      weights.groupBy("tile_id")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl
          .topk_by(col("frac"), col("rid"), 3).as("top"))
        .select(col("tile_id"), posexplode(col("top")))
        .select(col("tile_id"), (col("pos") + 1).cast("int").as("rank"),
          col("col.key").as("rid"), col("col.score").as("frac"))
    }),
    "q88_containment" -> ((s, dir) => {
      // asymmetric CONTAINMENT pairs (quote/subset detection): every 9th
      // doc spawns a 12-token "quote" twin (id+100000) whose containment
      // vs its source is 1.0 while its Jaccard (~0.13) is far below any
      // lshPairs gate; candidate recall is minhash's jaccard-shaped
      // 1-(1-|A|/|B|)^4 — deterministic via md5, documented on the operator
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val quotes = t(s, dir, "documents").where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          array_join(slice(split(coalesce(col("text"), lit("")), " "), 1, 12), " ")
            .as("text"))
      graft.operators.Dedup.containmentPairs(docs.union(quotes), minContainment = 0.9)
    }),
    "q87_visit_dwell" -> ((s, dir) => {
      // visit DWELL aggregation (gaps-and-islands): q86's change-detection
      // assigns a running visit id over the per-user ordered hits, then one
      // aggregate per (user, visit) yields ping count + start/end stamps.
      // The groupBy keys are a superset of the window's partition key, so
      // Spark reuses the entity-key shuffle — ONE Exchange total
      import org.apache.spark.sql.expressions.Window
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"), col("user_id"), col("ts"), col("x"), col("y"))
      val polys = gridSquares(0L until 100L)
      val hits = PipJoin.auto(pts, polys, res = 12)
        .select(col("user_id"), col("ts"), col("event_id"), col("feature_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      hits
        .withColumn("is_start", coalesce(
          lag(col("feature_id"), 1).over(w) =!= col("feature_id"), lit(true)))
        .withColumn("visit_idx",
          sum(col("is_start").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
        .groupBy("user_id", "visit_idx")
        .agg(min(col("feature_id")).as("feature_id"),
          count(lit(1)).as("n_pings"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
    }),
    "q85_multimodal_pairs" -> ((s, dir) => {
      // multimodal dedup for image+caption rows: caption-LSH candidates
      // (q19 shape) verified by 64-bit signature Hamming <= 6. The corpus
      // carries no image bytes, so the q20 simhash stands in for the
      // production phash column — same width, same check, parity proven;
      // the filter provably bites (~23 of ~400 candidates survive)
      val docs = t(s, dir, "documents")
      val withSig = docs.join(graft.operators.Dedup.simhash(docs), "doc_id")
      graft.operators.Dedup.multimodalDupPairs(withSig, "doc_id", "text", "simhash")
    }),
    "q84_tile_hotspots" -> ((s, dir) => {
      // tile-density hotspots: per-tile counts at z=24, 3×3 neighborhood
      // sums via the packed-id ±2^29/±1 offset trick, z-score vs the global
      // count distribution — integers until the final division/sqrt tree,
      // spelled identically in the oracle → bit-exact
      val pts = withXY(t(s, dir, "events"), "event_id")
      graft.operators.Hotspots.tileHotspots(pts, col("x"), col("y"), zoom = 24)
    }),
    "q83_image_gates" -> ((s, dir) => {
      // metadata quality gates for an image+caption table (LAION/DataComp
      // recipe, pre-decode): resolution, aspect, bytes-per-pixel, format
      // allowlist, caption presence — over arithmetic-derived metadata so
      // every branch provably fires; single-division exactness → bit-exact
      val base = t(s, dir, "part").where(col("p_partkey") < 500)
        .withColumn("k", col("p_partkey").cast("long"))
        .withColumn("w", lit(32L) + (col("k") * 7L) % 1600L)
        .withColumn("h", lit(32L) + (col("k") * 13L) % 900L)
        .withColumn("fmt", when(col("k") % 4 === 0, "png")
          .when(col("k") % 4 === 1, "jpeg")
          .when(col("k") % 4 === 2, "bmp").otherwise("unknown"))
        .withColumn("n_bytes", expr("1 + ((w * h * 3) div (1 + k % 80))"))
        .withColumn("caption",
          when(col("k") % 11 === 0, lit("   ")).otherwise(col("p_name")))
      base.select(col("k").as("image_key") +:
        graft.functions.ImageFunctions.imageGateColumns(col("w"), col("h"),
          col("fmt"), col("n_bytes"), col("caption")): _*)
    }),
    "q82_dup_matrix" -> ((s, dir) =>
      // cross-source duplication matrix (corpus governance): q19's near-dup
      // pairs re-labelled with each side's source, counted per unordered
      // source pair — ids-only joins, text never re-shuffles
      graft.operators.Dedup.crossSourceDupMatrix(t(s, dir, "documents"))),
    "q20_simhash" -> ((s, dir) => {
      // per-word hash = top 64 bits of md5(word) → the bit-vote is expressible
      // in ANSI SQL (hex-digit extraction); exact semantics also asserted vs
      // brute force in DedupAnnSpec
      graft.operators.Dedup.simhash(t(s, dir, "documents"))
    }),
    "q21_ann_topk" -> ((s, dir) => {
      // exact brute-force cosine top-k (the ANN baseline path) — rank-only
      // output so the oracle compares ordering, not double bit patterns; the
      // approximate LSH/IVF paths are graded by recall against this in
      // DedupAnnSpec
      val e = t(s, dir, "embeddings")
      val probes = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      graft.operators.AnnSearch.bruteTopK(e, probes, k = 5)
        .select("probe_id", "vec_id", "rnk")
    }),
    "q23_ann_ivf" -> ((s, dir) => {
      // IVF-FLAT with the deterministic sampled quantizer (SQL-replicable →
      // full DuckDB oracle); the k-means-refined ivfTopK is recall-tested
      val e = t(s, dir, "embeddings")
      val probes = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      graft.operators.AnnSearch.ivfFixedTopK(e, probes, k = 5, nlist = 16, nprobe = 4)
        .select("probe_id", "vec_id", "rnk")
    }),
    "q22_embed_neardup" -> ((s, dir) => {
      // plant deterministic near-duplicates (vec + 0.001 on dim 0), find them;
      // pairs-only output — the DuckDB oracle recomputes the FULL n² pair set
      // at the threshold, so this also proves the banded LSH candidate
      // generation loses nothing at this margin
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(slice(transform(col("embedding"), v => v + lit(0.001f)), 1, 1),
            slice(col("embedding"), 2, 1000)).as("embedding"))
      graft.operators.Dedup.embeddingNearDup(e.unionByName(planted), minCosine = 0.999)
        .select("id_a", "id_b")
    }),
    "q26_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id") +: graft.functions.TextFunctions.qualityColumns(col("text")): _*)
    }),
    "q27_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), graft.functions.TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("cnt"))
    }),

    "q34_range_frame" -> ((s, dir) => {
      // rolling 1-hour sum per user via a RANGE frame (peer rows by value, so
      // deterministic under ties); cents-integer arithmetic for exactness
      val w = Window.partitionBy("user_id").orderBy(col("epoch"))
        .rangeBetween(-3600L, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("epoch"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("roll_cents", sum("cents").over(w))
        .select("event_id", "user_id", "roll_cents")
    }),

    "q33_asof" -> ((s, dir) => {
      // as-of enrichment: each click gets the user's most recent view at or
      // before it (single-shuffle sorted-sweep operator; Spark has no native
      // as-of join). Right side pre-aggregated per (user, ts) for determinism.
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      graft.operators.AsOfJoin.backward(clicks, views, Seq("user_id"), "ts",
          rightPrefix = "view_")
        .select("click_id", "user_id", "ts", "view_ts", "view_value")
    }),

    "q42_asof_forward" -> ((s, dir) => {
      // forward ("next-event") as-of: each click gets the user's EARLIEST
      // view at or after it — the q33 sweep with direction reversed
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      graft.operators.AsOfJoin.forward(clicks, views, Seq("user_id"), "ts",
          rightPrefix = "view_")
        .select("click_id", "user_id", "ts", "view_ts", "view_value")
    }),

    "q43_quality_gate" -> ((s, dir) => {
      // per-language median-quality curation gate: keep each language's
      // strictly-better-than-median documents — the filtering step a training
      // pipeline runs after q26 scoring. percentile() is Spark's EXACT
      // partial-aggregable percentile (per-group value-count maps merge
      // map-side; quality takes few distinct values, so the maps stay small
      // at any scale) and the per-language medians table is lang-cardinality
      // rows — broadcast back onto the scored scan, no second big shuffle.
      // Robust to last-ulp drift vs the oracle: the interpolated median lies
      // strictly between two adjacent sorted quality values (or exactly on a
      // data value when the fraction is 0), so strict > keeps the same row
      // set on both engines.
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityColumns(col("text")).last)
      val med = scored.groupBy("lang")
        .agg(expr("percentile(quality, 0.5D)").as("med"))
      scored.join(broadcast(med), "lang")
        .where(col("quality") > col("med"))
        .select("doc_id", "lang", "quality")
    }),

    "q44_ngram_topk" -> ((s, dir) => {
      // corpus-wide heavy hitters: exact top-50 3-gram frequencies — the
      // n-gram statistics pass a contamination / boilerplate scan runs over
      // a training corpus. One-pass codegen shingle kernel feeds a hash
      // aggregate (map-side partial combine shrinks the shuffle to distinct
      // ngrams per task, not ngram occurrences), then a global
      // TakeOrdered(50) — ties at the cut broken by ngram ascending so the
      // selected SET is deterministic on both engines.
      t(s, dir, "documents")
        .where(size(split(col("text"), " ")) >= 3)
        .select(explode(org.apache.spark.sql.graft.TextFunctionsImpl
          .shingle_make(col("text"), lit(3))).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ngram").asc)
        .limit(50)
    }),
    "q45_stratified_sample" -> ((s, dir) => {
      // deterministic stratified downsampling: rebalance the corpus by
      // keeping 25% of the dominant language and 75% of the rest, chosen by
      // a content-derived md5 bucket (the q38 mechanism) — stable across
      // runs, partitioning, and cluster size; a scan-local filter, no
      // shuffle at all
      val bucket = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 100
      t(s, dir, "documents")
        .where(bucket < when(col("lang") === "en", 25).otherwise(75))
        .select("doc_id", "lang")
    }),

    "q46_tile_cover" -> ((s, dir) => {
      // WMTS tile cover of arithmetic-derived rectangles — puts the
      // tile_cover generator expression (feature → touched tiles, the g3
      // raster↔vector build side) under the hard DuckDB gate: Span = 2^25
      // and tile counts are powers of two, so floor(x / Span * n) is exact
      // double scaling replayable bit-for-bit in SQL. Packed tile id =
      // (z<<58)|(x<<29)|(y) — same longs the engine stores and joins on.
      val r = t(s, dir, "part").where(col("p_partkey") < 200)
        .select(col("p_partkey").as("rid"),
          (((col("p_partkey") * 13L) % 500L).cast("double") * lit(37.0)).as("minx"),
          (((col("p_partkey") * 29L) % 500L).cast("double") * lit(41.0)).as("miny"))
        .withColumn("maxx", col("minx") + (col("rid") % 7L + 1L).cast("double") * lit(23.0))
        .withColumn("maxy", col("miny") + (col("rid") % 5L + 1L).cast("double") * lit(31.0))
      r.select(col("rid"),
        explode(graft.functions.GeoFunctions.tile_cover(
          struct(col("minx"), col("miny"), lit(0.0).as("minz"),
            col("maxx"), col("maxy"), lit(0.0).as("maxz")), lit(20))).as("tile_id"))
    }),

    "q77_tile_weights" -> ((s, dir) => {
      // area-weighted raster↔vector assignment (zonal weights): every tile
      // touched by a footprint envelope carries the EXACT fraction of the
      // envelope's area inside that tile — q46's boolean cover upgraded to
      // the weight zonal stats need. Dyadic tile bounds + integer envelope
      // corners keep every clip width exact; one final division → bit-exact
      val r = t(s, dir, "part").where(col("p_partkey") < 200)
        .select(col("p_partkey").as("rid"),
          (((col("p_partkey") * 13L) % 500L).cast("double") * lit(37.0)).as("minx"),
          (((col("p_partkey") * 29L) % 500L).cast("double") * lit(41.0)).as("miny"))
        .withColumn("maxx", col("minx") + (col("rid") % 7L + 1L).cast("double") * lit(23.0))
        .withColumn("maxy", col("miny") + (col("rid") % 5L + 1L).cast("double") * lit(31.0))
      def env = struct(col("minx"), col("miny"), lit(0.0).as("minz"),
        col("maxx"), col("maxy"), lit(0.0).as("maxz"))
      r.select(col("rid"), col("minx"), col("miny"), col("maxx"), col("maxy"),
          explode(graft.functions.GeoFunctions.tile_cover(env, lit(20))).as("tile_id"))
        .select(col("rid"), col("tile_id"),
          graft.functions.GeoFunctions.tile_clip_frac(col("tile_id"), env, 20).as("frac"))
    }),

    "q47_z_encode" -> ((s, dir) => {
      // Morton (Z-order) cell key — the engine's exact-nesting S2-analog —
      // under the hard gate: power-of-two span and cell counts make
      // floor((x-X0)/Span*n) exact double scaling,
      // and the bit interleave + (morton<<6)|level packing replays in SQL
      // with shift/mask comprehensions. Bit-for-bit id parity here is what
      // makes cross-engine cell-key joins and layout reuse possible at all.
      withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"),
          graft.functions.GeoFunctions.z_encode(col("x"), col("y"), lit(18)).as("cell"))
    }),

    "q48_pivot" -> ((s, dir) => {
      // relational pivot (long → wide): per-user event-type counts through
      // Spark's pivot API with an EXPLICIT value list — no extra
      // distinct-values job, and the plan is a single hash aggregate over
      // conditional counts (exactly what the oracle spells out with FILTER)
      val types = Seq("click", "view", "signup", "purchase", "error")
      t(s, dir, "events")
        .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
        .select(col("user_id") +: types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
    }),
    "q49_moment_stats" -> ((s, dir) => {
      // variance / correlation WITHOUT float-order nondeterminism: built-in
      // stddev/corr sum doubles in partition order, so their last ulps vary
      // run to run — unusable under a hash gate and a silent reproducibility
      // trap at 100 TB. Instead: exact integer moments (BIGINT sums commute)
      // in ONE partial-aggregable pass, then derive mean/std/corr in a final
      // projection whose double arithmetic is mirrored token-for-token by
      // the oracle. quantity and discount-percent are small ints — the
      // moment sums stay far from overflow at any realistic scale.
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qv"),
        round(col("l_discount") * 100).cast("long").as("dv"))
      val m = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum("qv").as("sq"), sum(col("qv") * col("qv")).as("sqq"),
        sum("dv").as("sd"), sum(col("dv") * col("dv")).as("sdd"),
        sum(col("qv") * col("dv")).as("sqd"))
      val nD = col("n").cast("double")
      val sqD = col("sq").cast("double"); val sqqD = col("sqq").cast("double")
      val sdD = col("sd").cast("double"); val sddD = col("sdd").cast("double")
      val sqdD = col("sqd").cast("double")
      m.select(col("l_returnflag"), col("n"),
        (sqD / nD).as("mean_q"),
        sqrt((sqqD - sqD * sqD / nD) / (nD - lit(1.0))).as("std_q"),
        ((nD * sqdD - sqD * sdD) /
          sqrt((nD * sqqD - sqD * sqD) * (nD * sddD - sdD * sdD))).as("corr_qd"))
    }),

    "q50_vec_norm" -> ((s, dir) => {
      // embedding hygiene via declarative higher-order functions: per-vector
      // L2 norm² as a sequential left fold (aggregate), flagging non-unit
      // vectors — the pre-flight check before any cosine-based dedup/ANN.
      // Both engines fold the float array left-to-right with a double
      // accumulator, so the sums are bit-identical (verified row-for-row
      // against an explicit sequential fold). The declarative HOF is the
      // API-surface twin of the codegen vec_cosine kernel (q21): HOFs
      // interpret per element, so hot paths use the kernel; this form is
      // for ad-hoc SQL users.
      t(s, dir, "embeddings").select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("norm2"))
        .withColumn("is_unit", abs(col("norm2") - lit(1.0)) < lit(1e-5))
    }),

    "q51_cube" -> ((s, dir) => {
      // full subtotal lattice (beyond q31's rollup): cube + grouping_id so
      // consumers can tell a real NULL group from an aggregated-away level —
      // the standard OLAP disambiguator (bit per column, first col = MSB,
      // identical in Spark and ANSI GROUPING())
      t(s, dir, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    }),
    "q52_rank_dist" -> ((s, dir) => {
      // rank-family windows (ntile / percent_rank / cume_dist) over a UNIQUE
      // ordering key — uniqueness makes every rank deterministic, and the
      // doubles are small-integer divisions both engines compute identically
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events").where(col("user_id") % 5 === 0)
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    }),
    "q53_semi_exists" -> ((s, dir) => {
      // EXISTS-style semi join: customers with >=1 1995 order. left_semi
      // keeps the probe side unduplicated without a distinct — the shape
      // Catalyst rewrites correlated EXISTS subqueries into
      val o95 = t(s, dir, "orders")
        .where(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      t(s, dir, "customer")
        .join(o95, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    "q54_unpivot" -> ((s, dir) => {
      // wide → long unpivot via the stack generator (the inverse of q48's
      // pivot): one generator in the projection, no join, no shuffle
      t(s, dir, "lineitem").where(col("l_orderkey") < 1000)
        .select(col("l_orderkey"),
          expr("stack(3, 'quantity', l_quantity, 'discount', l_discount, " +
            "'tax', l_tax) AS (metric, val)"))
    }),

    "q55_seq_pack" -> ((s, dir) =>
      // training-sequence packing: greedy whole-doc first-fit into
      // 200-token sequences, distributed per content-derived shard — ONE
      // shuffle + a per-shard linear scan; the DuckDB oracle replays the
      // greedy recurrence with a recursive CTE, so every (doc → sequence)
      // assignment is hash-gated, not just counts
      graft.operators.Pack.sequences(t(s, dir, "documents"), budget = 200L).toDF()),

    "q56_decontaminate" -> ((s, dir) => {
      // benchmark-leakage check: per training doc, the fraction of its
      // distinct 3-grams appearing anywhere in the eval corpus (here a
      // deterministic slice of the same table — self-contained oracle).
      // Eval shingles broadcast; the training side never shuffles text.
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contamination(docs, docs.where(col("doc_id") % 23 === 0))
    }),
    "q57_redact" -> ((s, dir) => {
      // PII scrub with injected deterministic PII on two slices, so the
      // hash gate proves cross-engine REGEX PARITY on actual hits (a
      // no-op-only corpus would prove nothing)
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" call +49 30 "), col("doc_id"), lit(" 1234")))
          .otherwise(col("text")).as("text"))
      val clean = graft.functions.TextFunctions.redactPii(col("text"))
      withPii.select(col("doc_id"), clean.as("clean"),
        (clean =!= col("text")).as("changed"))
    }),
    "q58_repetition" -> ((s, dir) =>
      // MassiveText/Gopher repeated-3-gram quality rule
      t(s, dir, "documents").select(col("doc_id") +:
        graft.functions.TextFunctions.repetitionColumns(col("text")): _*)),

    "q60_gopher_rules" -> ((s, dir) => {
      // the rest of the Gopher/MassiveText scan-local rule stack, gated on
      // deterministically injected line structure (the corpus itself has no
      // newlines/bullets — an injection-free run would prove nothing, the
      // q57 lesson): every 5th doc gets a duplicated line + bullet +
      // '#'/ellipsis tail, every 7th a bullet list + unicode ellipsis line
      val txt = coalesce(col("text"), lit(""))
      val injected = when(col("doc_id") % 5 === 0,
          concat_ws("\n", substring(txt, 1, 40), substring(txt, 1, 40),
            lit("• bullet point"), lit("trailing #tag and dots...")))
        .when(col("doc_id") % 7 === 0,
          concat(substring(txt, 1, 60), lit("\n- item one\n- item two\n… done…")))
        .otherwise(txt)
      t(s, dir, "documents").select(col("doc_id") +:
        graft.functions.TextFunctions.gopherColumns(injected): _*)
    }),
    "q72_hilbert_cells" -> ((s, dir) => {
      // Hilbert cell ids over arithmetic-derived integer grid coordinates;
      // the transform is integer-only rotate/reflect folds, so the oracle
      // replays it BIT-EXACTLY as a recursive CTE (one step per level).
      // Midpoint coordinates: (ix + 0.5) * 2^15 is exact in binary FP and
      // floors back to ix under the ZGrid/HilbertGrid 2^25-span mapping
      val pk = col("p_partkey").cast("long")
      val ix = ((pk * 7 + 13) % 1024).cast("double")
      val iy = ((pk * 11 + 5) % 1024).cast("double")
      t(s, dir, "part").select(pk.as("key"),
        org.apache.spark.sql.graft.GeoFunctionsImpl.hilbert_encode(
          (ix + lit(0.5)) * lit(32768.0), (iy + lit(0.5)) * lit(32768.0),
          lit(10)).as("cell"))
    }),
    "q74_lm_coverage" -> ((s, dir) => {
      // CCNet-style quality signal: reference = every 3rd doc, top-64
      // bigrams; each doc scored by the fraction of its bigrams inside
      // that set. All-integer until one final division → hash-exact
      val docs = t(s, dir, "documents")
      graft.functions.TextFunctions.lmCoverage(
        docs, docs.where(col("doc_id") % 3 === 0), k = 64)
    }),
    "q71_domain_cap" -> ((s, dir) => {
      // per-domain cap on deterministically injected URLs (the corpus has
      // no url column — q57 injection pattern): 37 synthetic hosts over 500
      // docs ≈ 13.5 docs/host, so a cap of 10 provably bites; the kept set
      // is the salted-md5-smallest 10 per host, byte-stable by construction
      val url = concat(lit("https://www.site"), (col("doc_id") % 37).cast("string"),
        lit(".example.org/"), col("lang"), lit("/"), col("doc_id").cast("string"))
      val docs = t(s, dir, "documents").withColumn("domain",
        graft.functions.TextFunctions.hostOf(url))
      graft.operators.Dedup.domainCap(docs, maxPerDomain = 10)
    }),
    "q70_sessionize" -> ((s, dir) =>
      // gap-based sessionization (30 min) via Spark's NATIVE session_window
      // aggregation — one shuffle on user_id, sessions merged inside the
      // aggregate operator, no window function; the oracle replays the
      // equivalent lag+running-count formulation (boundary pinned: an event
      // at exactly prev+gap still MERGES — Spark merges touching windows —
      // so the lag twin flags strictly diff > gap, integral microseconds)
      graft.operators.Sessionize.sessions(t(s, dir, "events"), gapSec = 1800)),
    "q69_c4_rules" -> ((s, dir) => {
      // the C4 heuristic cleaning stack on deterministically injected line
      // structure exercising EVERY rule: every 4th doc gets (kept sentence
      // line, short line, javascript line, unterminated line); every 9th a
      // lorem-ipsum + curly-brace line that still passes the line rules —
      // clean_text itself is hash-gated, so keep/drop parity is proven per
      // line on both engines
      val txt = coalesce(col("text"), lit(""))
      val injected = when(col("doc_id") % 4 === 0,
          concat_ws("\n",
            concat(substring(txt, 1, 40), lit(" stays right here.")),
            lit("tiny."),
            lit("this line mentions javascript libraries."),
            lit("no terminal punctuation on this line")))
        .when(col("doc_id") % 9 === 0,
          concat(txt, lit("\nlorem ipsum dolor sit { amet?")))
        .otherwise(txt)
      t(s, dir, "documents").select(col("doc_id") +:
        graft.functions.TextFunctions.c4Columns(injected): _*)
    }),
    "q61_top_ngram_mass" -> ((s, dir) =>
      // Gopher top-n-gram mass rule (n=2): per-doc argmax via the 1-bounded
      // topk_by aggregate — no window, no per-doc sort; Σcnt + n − 1 gives
      // total tokens out of the same aggregate, no join-back
      graft.functions.TextFunctions.topNgramMass(t(s, dir, "documents"), n = 2)),
    "q65_token_budget" -> ((s, dir) => {
      // data-mixture planning: per-source corpus accounting — documents,
      // tokens, and the EFFECTIVE counts under the q63 mixture weights
      // (what the training run will actually see). One map-side-combined
      // aggregation over the scan, zero joins — the query a 100-TB token
      // budget is planned with.
      val keep = graft.functions.TextFunctions.mixtureFilter(
        col("doc_id"), col("source"), Map("src0" -> 0.5, "src7" -> 0.25, "src19" -> 0.0))
      t(s, dir, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"), keep.as("keep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          count(when(col("keep"), 1)).as("eff_docs"),
          sum(when(col("keep"), col("toks")).otherwise(0L)).as("eff_tokens"))
    }),
    "q64_paragraph_dedup" -> ((s, dir) => {
      // C4-style corpus-wide paragraph dedup on injected structure: every
      // 3rd doc becomes (unique slice \n shared boilerplate \n unique
      // slice) — the boilerplate paragraph must survive ONLY in doc 0 and
      // every reassembled doc is hash-gated (exact duplicate docs in the
      // corpus also lose their text to the first copy, on both engines)
      val txt = coalesce(col("text"), lit(""))
      val injected = when(col("doc_id") % 3 === 0,
        concat_ws("\n", substring(txt, 1, 50),
          lit("all rights reserved contact the site admin for details"),
          substring(txt, 51, 50)))
        .otherwise(txt)
      graft.operators.Dedup.paragraphDedup(
        t(s, dir, "documents").select(col("doc_id"), injected.as("text")))
    }),
    "q67_ring_measures" -> ((s, dir) => {
      // shoelace area + centroid (codegen st_area/st_centroid kernels) over
      // arithmetic-derived L-shaped hexagon rings. All coordinates are
      // dyadic rationals, so every shoelace term and partial sum is exact in
      // binary FP — the double outputs hash-compare bit-exactly against
      // DuckDB even though SQL guarantees no sum order, and the final
      // centroid division is a single IEEE op on identical operands.
      import org.apache.spark.sql.graft.GeoFunctionsImpl.{st_area, st_centroid}
      val pk = col("p_partkey").cast("long")
      // Column `/` is DOUBLE division — `div` is the integer quotient the
      // oracle's `//` computes
      val cx = (pk % 10).cast("double") * 4.0
      val cy = expr("CAST(p_partkey AS BIGINT) div 10").cast("double") * 4.0
      val w = lit(1.0) + (pk % 4).cast("double") * 0.5
      val h = lit(1.0) + (expr("CAST(p_partkey AS BIGINT) div 4") % 4).cast("double") * 0.25
      val xs = array(cx, cx + w, cx + w, cx + w * 0.5, cx + w * 0.5, cx)
      val ys = array(cy, cy, cy + h * 0.5, cy + h * 0.5, cy + h, cy + h)
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"), st_area(xs, ys).as("area"),
          st_centroid(xs, ys).as("c"))
        .select(col("poly_id"), col("area"),
          col("c.cx").as("cx"), col("c.cy").as("cy"))
    }),
    "q81_simplify" -> ((s, dir) => {
      // radial-distance vertex thinning (the standard pre-DP simplification
      // pass for LoD export): keep vertex 0, then every vertex >= eps from
      // the last KEPT one; the codegen kernel's sequential walk is made of
      // exact comparisons (dyadic dist² vs one shared constant), so the
      // oracle replays it step-for-step as a recursive CTE. eps=0.6 bites
      // on the narrow rings (half-width 0.5 edges drop) and not the wide
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_simplify_idx
      val pk = col("p_partkey").cast("long")
      val cx = (pk % 10).cast("double") * 4.0
      val cy = expr("CAST(p_partkey AS BIGINT) div 10").cast("double") * 4.0
      val w = lit(1.0) + (pk % 4).cast("double") * 0.5
      val h = lit(1.0) + (expr("CAST(p_partkey AS BIGINT) div 4") % 4).cast("double") * 0.25
      val xs = array(cx, cx + w, cx + w, cx + w * 0.5, cx + w * 0.5, cx)
      val ys = array(cy, cy, cy + h * 0.5, cy + h * 0.5, cy + h, cy + h)
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"),
          st_simplify_idx(xs, ys, lit(0.36)).as("kept_idx"))
        // scalar projection of the kept-index list: the driver's comparer
        // sorts cells, which an array column breaks — same digits both sides
        .select(col("poly_id"), size(col("kept_idx")).as("n_kept"),
          concat_ws(",", col("kept_idx").cast("array<string>")).as("kept"))
    }),
    "q93_convex_hull" -> ((s, dir) => {
      // convex hull (Andrew's monotone chain codegen kernel) — the
      // footprint-generalization step LoD aggregation runs before setback /
      // envelope checks: 16 scattered lattice points per polygon (the
      // (7j, 11j) mod-16 orbit is injective in j, so points are distinct by
      // construction), hull returned CCW from the lexicographic minimum.
      // Every push/pop decision is a sign test on an exact small-integer
      // cross product, so the DuckDB recursive-CTE replay (same sorted walk,
      // same <= 0 pop rule) hash-compares bit-exact, including the shoelace
      // area over the hull ring
      import org.apache.spark.sql.graft.GeoFunctionsImpl.{st_convex_hull, st_area}
      val pk = col("p_partkey").cast("long")
      val xs = array((0 until 16).map(j => ((pk * 3 + lit(j * 7)) % 16).cast("double")): _*)
      val ys = array((0 until 16).map(j => ((pk * 5 + lit(j * 11)) % 16).cast("double")): _*)
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"), st_convex_hull(xs, ys).as("h"))
        .select(col("poly_id"), size(col("h")).as("n_hull"),
          concat_ws(";", transform(col("h"), p =>
            concat(p.getField("x").cast("int").cast("string"), lit(":"),
              p.getField("y").cast("int").cast("string")))).as("hull"),
          st_area(col("h.x"), col("h.y")).as("hull_area"))
    }),
    "g17_geodesic_knn" -> ((s, dir) => {
      // great-circle kNN: each user's FIRST ping against a broadcast
      // landmark set, k=3 by haversine metres with the bounded knn_topk
      // aggregate (id tie-break) — the lon/lat twin of q12 for un-projected
      // corpora. Scan-local scoring (codegen st_dist_sphere × tiny cross),
      // k-entry buffers on the shuffle. StrictMath → determinism probe,
      // no DuckDB row (libm rule)
      import org.apache.spark.sql.graft.GeoFunctionsImpl.{st_dist_sphere, knn_topk}
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            ((col("x") % 360.0) - 180.0).as("lon"),
            ((col("y") % 170.0) - 85.0).as("lat")).as("p"))
        .groupBy("user_id").agg(min(col("p")).as("p"))
        .select(col("user_id"), col("p.lon").as("lon"), col("p.lat").as("lat"))
      val landmarks = (0 until 24).map { i =>
        (s"L$i", -80.0 + (i % 6) * 3.2, 16.0 + (i / 6) * 3.5)
      }
      val lm = s.createDataFrame(landmarks).toDF("lm_id", "lm_lon", "lm_lat")
      pts.crossJoin(broadcast(lm))
        .select(col("user_id"), col("lm_id"),
          st_dist_sphere(col("lon"), col("lat"), col("lm_lon"), col("lm_lat")).as("d_m"))
        .groupBy("user_id")
        .agg(knn_topk(col("d_m"), col("lm_id"), 3).as("nn"))
        .select(col("user_id"), explode(col("nn")).as("m"))
        .select(col("user_id"), col("m.target_id").as("lm_id"),
          col("m.d2").as("d_m"), col("m.rnk").as("rnk"))
    }),
    "g16_geodesic" -> ((s, dir) => {
      // great-circle trajectory accounting — the lon/lat twin of q80 for
      // un-projected geotagged corpora: per-user track length in metres via
      // the sorted-fold haversine kernel plus distance from the user's first
      // ping to a fixed landmark. StrictMath (fdlibm) is bit-specified, so
      // the g-row rides the 4-vs-8-core determinism probe and GeodesicSpec
      // replays the kernels driver-side exactly; no DuckDB row (platform
      // libm trig — the repo's g8 rule)
      import org.apache.spark.sql.graft.GeoFunctionsImpl.{st_dist_sphere, st_path_length_sphere}
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"),
            ((col("x") % 360.0) - 180.0).as("lon"),
            ((col("y") % 170.0) - 85.0).as("lat")).as("p"))
      pts.groupBy("user_id").agg(sort_array(collect_list(col("p"))).as("ps"))
        .select(col("user_id"), size(col("ps")).as("n_pings"),
          st_path_length_sphere(col("ps.lon"), col("ps.lat")).as("track_m"),
          st_dist_sphere(element_at(col("ps.lon"), 1), element_at(col("ps.lat"), 1),
            lit(11.5755), lit(48.1372)).as("d_landmark_m"))
    }),
    "q101_aspect_batches" -> ((s, dir) => {
      // aspect-ratio bucketing + fixed-size batch packing — the multimodal
      // training-prep step (SDXL-style): images group into integer
      // aspect-ratio buckets (4·w div h, clamped — pure integer arithmetic,
      // no float ratios to disagree on), then pack into batches of 16 in
      // deterministic id order. The per-bucket row_number is an honest
      // sort bounded by bucket size (training batches are ordinal by
      // definition); synthesized w/h metadata plays the images table's role
      val d = col("doc_id")
      val imgs = t(s, dir, "documents").select(d.as("img_id"),
        (lit(256L) + (d * 37) % 768).as("w"), (lit(256L) + (d * 53) % 768).as("h"))
      val bucket = least(lit(8L), expr("(w * 4) div h")).as("bucket")
      imgs.select(col("img_id"), bucket)
        .withColumn("batch_idx", expr("CAST((row_number() OVER (PARTITION BY bucket ORDER BY img_id)) - 1 AS BIGINT) div 16"))
        .groupBy("bucket", "batch_idx")
        .agg(count(lit(1)).as("n_imgs"),
          min(col("img_id")).as("first_img"), max(col("img_id")).as("last_img"))
    }),
    "q100_track_simplify" -> ((s, dir) => {
      // trajectory COMPRESSION (the storage step after q80's length
      // accounting): per-user ordered track → Douglas-Peucker. Coordinates
      // here are NOT dyadic — parity rests on the op-order-exact contract
      // (q75/q91): both engines evaluate the identical cross/len² expression
      // trees on identical operands, so every split decision and argmax
      // compares identical doubles; the oracle replays the q95 work-queue
      // CTE over the variable-length ordered lists. ONE entity-key shuffle
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_simplify_dp
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("x"), col("y")).as("p"))
      pts.groupBy("user_id").agg(sort_array(collect_list(col("p"))).as("ps"))
        .select(col("user_id"), size(col("ps")).as("n_pings"),
          st_simplify_dp(col("ps.x"), col("ps.y"), lit(36.0)).as("kept_idx"))
        .select(col("user_id"), col("n_pings"),
          size(col("kept_idx")).as("n_kept"),
          concat_ws(",", col("kept_idx").cast("array<string>")).as("kept"))
    }),
    "q99_url_canon" -> ((s, dir) => {
      // URL canonicalization + dedup — the crawl-side dedup key computed
      // BEFORE any content dedup: the same page arrives with tracking
      // params, fragments, shuffled query order and trailing slashes; three
      // synthetic variants per doc collapse to one canonical URL. Entirely
      // scan-local (regex + array built-ins) + one groupBy on the canon key
      val d = col("doc_id")
      val q = expr("(doc_id div 10) % 2").cast("string")
      val url = concat(lit("HTTPS://Src"), (d % 2).cast("string"),
        lit(".Example.COM/Page/"), expr("(doc_id div 2) % 5").cast("string"),
        when(d % 3 === 0, concat(lit("?utm_source=feed&q="), q, lit("#frag")))
          .when(d % 3 === 1, concat(lit("/?q="), q, lit("&utm_campaign=x")))
          .otherwise(concat(lit("?q="), q, lit("#sec"))))
      t(s, dir, "documents").select(d.as("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.canonicalUrl(col("url")).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
    }),
    "q97_od_flows" -> ((s, dir) => {
      // origin→destination flow matrix between footprints: q86's visit
      // starts, then each consecutive visit pair per user is one trip. Both
      // lags share the entity-key window partitioning, so the per-user
      // ordering shuffles ONCE; the final aggregate runs on the
      // #footprints²-bounded OD table
      import org.apache.spark.sql.expressions.Window
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"), col("user_id"), col("ts"), col("x"), col("y"))
      val polys = gridSquares(0L until 100L)
      val hits = PipJoin.auto(pts, polys, res = 12)
        .select(col("user_id"), col("ts"), col("event_id"), col("feature_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      hits.withColumn("prev", lag(col("feature_id"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("feature_id"))
        .withColumn("from_fid", lag(col("feature_id"), 1).over(w))
        .where(col("from_fid").isNotNull)
        .groupBy(col("from_fid"), col("feature_id").as("to_fid"))
        .agg(count(lit(1)).as("trips"))
    }),
    "q98_tile_pyramid" -> ((s, dir) => {
      // tile-pyramid density rollup (the overview-level build a tile server
      // runs): base-zoom counts roll up 4 pyramid levels with PURE ID
      // ARITHMETIC — parent = (z−l)<<58 | (x>>l)<<29 | (y>>l); the points
      // shuffle once at the base zoom, every level above is derived on the
      // #tiles-sized count table (explode + re-aggregate), no floating
      // point above the base. All shifts/masks are literals → codegen
      val z = 26
      val pts = withXY(t(s, dir, "events"), "event_id")
      val base = pts.select(graft.functions.GeoFunctions.tile_of(
          col("x"), col("y"), lit(z)).as("tid"))
        .groupBy("tid").agg(count(lit(1)).as("c"))
      val lvls = (0 to 3).map { l =>
        struct(lit(l).as("lvl"),
          expr(s"${(z - l).toLong << 58}L + " +
            s"shiftleft(shiftright(tid, ${29 + l}) & ${((1L << 29) - 1) >> l}L, 29) + " +
            s"shiftright(tid & ${(1L << 29) - 1}L, $l)").as("ptid"))
      }
      base.select(explode(array(lvls: _*)).as("e"), col("c"))
        .groupBy(col("e.lvl").as("lvl"), col("e.ptid").as("tile_id"))
        .agg(sum(col("c")).as("n_points"))
    }),
    "q96_kde_heatmap" -> ((s, dir) => {
      // Epanechnikov kernel-density heatmap over the event stream — the
      // polynomial kernel keeps the whole surface in plain IEEE arithmetic
      // (a Gaussian's exp() would hit the libm rule), and the per-cell
      // ascending-fold sum carries the q73/q80 sorted-fold contract, so
      // DuckDB's list_sum(list_sort(...)) hash-matches the density doubles
      val pts = withXY(t(s, dir, "events"), "event_id").select(col("x"), col("y"))
      graft.operators.Hotspots.kdeGrid(pts, 457840.0, 5439081.0,
        cell = 1.6, h2 = 2.56)
    }),
    "q95_simplify_dp" -> ((s, dir) => {
      // Douglas-Peucker trajectory/polyline simplification (the compression
      // pass GPS-track storage runs after q81's radial pre-thin): 12-vertex
      // zigzag per id on an integer lattice, so every split decision
      // (cross² > eps²·len², argmax by ascending strictly-greater scan) is
      // exact and the DuckDB recursive WORK-QUEUE CTE — segments as rows,
      // one split per iteration — reproduces the identical kept set
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_simplify_dp
      val pk = col("p_partkey").cast("long")
      val xs = array((0 until 12).map(j => lit(j.toDouble)): _*)
      val ys = array((0 until 12).map(j =>
        ((pk * 7 + lit(j * j * 3)) % 5).cast("double")): _*)
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"), st_simplify_dp(xs, ys, lit(1.44)).as("kept_idx"))
        .select(col("poly_id"), size(col("kept_idx")).as("n_kept"),
          concat_ws(",", col("kept_idx").cast("array<string>")).as("kept"))
    }),
    "q78_ring_audit" -> ((s, dir) => {
      // ring validity / orientation audit — the geometry-QA gate an ingest
      // pipeline runs before indexing: vertex count, explicit-closure flag,
      // SIGNED shoelace area (codegen st_signed_area; CCW > 0), orientation
      // class, and a basic validity verdict. Ring variants derived per id:
      // %4==0 forward (ccw), ==1 reversed (cw), ==2 collinear (degenerate),
      // ==3 explicitly closed. Dyadic coords → bit-exact like q67
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_signed_area
      val pk = col("p_partkey").cast("long")
      val cx = (pk % 10).cast("double") * 4.0
      val cy = expr("CAST(p_partkey AS BIGINT) div 10").cast("double") * 4.0
      val w = lit(1.0) + (pk % 4).cast("double") * 0.5
      val h = lit(1.0) + (expr("CAST(p_partkey AS BIGINT) div 4") % 4).cast("double") * 0.25
      val xs0 = array(cx, cx + w, cx + w, cx + w * 0.5, cx + w * 0.5, cx)
      val ys0 = array(cy, cy, cy + h * 0.5, cy + h * 0.5, cy + h, cy + h)
      val m = pk % 4
      val xs = when(m === 1, reverse(xs0))
        .when(m === 3, concat(xs0, array(cx))).otherwise(xs0)
      val ys = when(m === 1, reverse(ys0))
        .when(m === 2, array(cy, cy, cy, cy, cy, cy))
        .when(m === 3, concat(ys0, array(cy))).otherwise(ys0)
      val sa = st_signed_area(xs, ys)
      val closed = element_at(xs, 1) === element_at(xs, -1) &&
        element_at(ys, 1) === element_at(ys, -1)
      val nEff = size(xs) - closed.cast("int")
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"), size(xs).as("n_pts"), closed.as("closed"),
          sa.as("signed_area"),
          when(sa > 0.0, "ccw").when(sa < 0.0, "cw")
            .otherwise("degenerate").as("orientation"),
          (nEff >= 3 && sa =!= 0.0).as("valid"))
    }),
    "q73_ring_perimeter" -> ((s, dir) => {
      // st_perimeter over the q67 dyadic L-shaped rings: edge squared
      // lengths are exact, sqrt is correctly-rounded IEEE on both engines,
      // and the kernel sums in ASCENDING length order — which DuckDB's
      // list_sum(list_sort(...)) replays as the identical sequential fold
      // (bit-exact despite irrational terms)
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_perimeter
      val pk = col("p_partkey").cast("long")
      val cx = (pk % 10).cast("double") * 4.0
      val cy = expr("CAST(p_partkey AS BIGINT) div 10").cast("double") * 4.0
      val w = lit(1.0) + (pk % 4).cast("double") * 0.5
      val h = lit(1.0) + (expr("CAST(p_partkey AS BIGINT) div 4") % 4).cast("double") * 0.25
      val xs = array(cx, cx + w, cx + w, cx + w * 0.5, cx + w * 0.5, cx)
      val ys = array(cy, cy, cy + h * 0.5, cy + h * 0.5, cy + h, cy + h)
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"), st_perimeter(xs, ys).as("perimeter"))
    }),
    "q75_ring_distance" -> ((s, dir) => {
      // point-to-ring-boundary distance (codegen st_dist2_ring kernel) on
      // the q67 dyadic rings with dyadic probe points (some inside, some
      // out). The kernel's per-edge ops are single correctly-rounded IEEE
      // steps on identical operands; the oracle spells the SAME expression
      // tree per edge (DuckDB executes op-by-op, no FP contraction), so d2
      // and sqrt(d2) hash-compare bit-exactly despite divisions
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_dist2_ring
      val pk = col("p_partkey").cast("long")
      val cx = (pk % 10).cast("double") * 4.0
      val cy = expr("CAST(p_partkey AS BIGINT) div 10").cast("double") * 4.0
      val w = lit(1.0) + (pk % 4).cast("double") * 0.5
      val h = lit(1.0) + (expr("CAST(p_partkey AS BIGINT) div 4") % 4).cast("double") * 0.25
      val xs = array(cx, cx + w, cx + w, cx + w * 0.5, cx + w * 0.5, cx)
      val ys = array(cy, cy, cy + h * 0.5, cy + h * 0.5, cy + h, cy + h)
      val px = cx + ((pk % 8).cast("double") * lit(0.375) - lit(0.75))
      val py = cy + ((pk % 5).cast("double") * lit(0.4375) - lit(0.5))
      val d2 = st_dist2_ring(xs, ys, px, py)
      t(s, dir, "part").where(col("p_partkey") < 200)
        .select(pk.as("poly_id"), d2.as("d2"), sqrt(d2).as("dist"))
    }),
    "q76_norm_text" -> ((s, dir) => {
      // CCNet-style pre-LM normalization (codegen norm_text kernel): NFD
      // accent strip + simple lowercase + control/whitespace collapse. The
      // corpus is pure ASCII, so Latin accents, a tab, and two C0 controls
      // are injected deterministically; the oracle replays with DuckDB's
      // utf8proc-backed strip_accents + lower + one regexp collapse
      val txt = coalesce(col("text"), lit(""))
      val injected = when(col("doc_id") % 3 === 0,
        concat(lit("  Résumé  Café\tNaïve "), txt,
          lit(" Ñandú\u0001über\u0007 FAÇADE  "))).otherwise(txt)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.normText(injected).as("norm"))
    }),
    "q80_track_length" -> ((s, dir) => {
      // per-user trajectory length (GPS-track accounting over the event
      // stream): ONE shuffle on the entity key, per-user points sorted by
      // the TOTAL order (ts, event_id) — collect_list partial-merge order
      // cannot leak — then the st_path_length sorted-fold kernel (q73's
      // bit-reproducibility recipe: single-IEEE-op edges, ascending-order
      // sum) gives cross-engine hash parity on irrational lengths
      import org.apache.spark.sql.graft.GeoFunctionsImpl.st_path_length
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("x"), col("y")).as("p"))
      pts.groupBy("user_id").agg(sort_array(collect_list(col("p"))).as("ps"))
        .select(col("user_id"), size(col("ps")).as("n_pings"),
          st_path_length(col("ps.x"), col("ps.y")).as("track_len"))
    }),
    "q79_chunk_docs" -> ((s, dir) =>
      // sliding-window chunking (8-token windows, overlap 2): the
      // context-window prep step before packing/embedding. Slot-exact
      // cross-engine contract: both engines split on single spaces and
      // rejoin, so windows compare byte-equal
      graft.functions.TextFunctions.chunkDocs(
        t(s, dir, "documents"), chunkTokens = 8, overlap = 2)),
    "q66_span_dedup" -> ((s, dir) => {
      // duplicate-SPAN removal (Lee et al. 2022 fixed-window form) on a
      // planted 14-token footer appended to every 5th doc: each footer
      // occurrence after the first must lose all its tokens, every
      // reassembled doc is hash-gated against the DuckDB replay of the
      // identical keeper/cover/reassemble steps
      val txt = coalesce(col("text"), lit(""))
      val injected = when(col("doc_id") % 5 === 0,
        concat(txt, lit(" the standard license footer text appears verbatim " +
          "at the bottom of every mirrored page")))
        .otherwise(txt)
      graft.operators.Dedup.spanDedup(
        t(s, dir, "documents").select(col("doc_id"), injected.as("text")))
    }),
    "q63_mixture_sample" -> ((s, dir) =>
      // weighted per-source mixture sampling: downsample src0 to 50%,
      // src7 to 25%, drop src19, keep the rest — deterministic
      // content-derived accept set, scan-local, zero shuffle
      graft.functions.TextFunctions.mixtureSample(t(s, dir, "documents"),
        Map("src0" -> 0.5, "src7" -> 0.25, "src19" -> 0.0))
        .select("doc_id", "source")),
    "q62_decontaminate_exact" -> ((s, dir) => {
      // exact-substring leakage check (anchor-gram candidates + substring
      // verify) against the q56 eval slice — the GPT-3-style complement to
      // q56's overlap fraction; the oracle replays the identical two-step
      // anchor-then-position() contract
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contaminationExact(docs, docs.where(col("doc_id") % 23 === 0))
    }),

    "q59_bloom_semi" -> ((s, dir) => {
      // the Bloom pre-filter pattern under the hard gate: the big side is
      // filtered SCAN-LOCALLY by bloom_contains (bounded ~12 KB driver
      // collect of the filter, like the centroid fits) before the exact
      // semi join — a single false negative would drop a group and fail
      // the hash compare against the plain-IN oracle
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val bloom = urgent.agg(org.apache.spark.sql.graft.TextFunctionsImpl
        .bloom_build(col("o_orderkey").cast("string"), 10000L, 0.01)).head().getAs[Array[Byte]](0)
      t(s, dir, "lineitem")
        .where(org.apache.spark.sql.graft.TextFunctionsImpl.bloom_contains(
          lit(bloom), col("l_orderkey").cast("string")))
        .join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
    }),

    "q30_distinct_agg" -> ((s, dir) => {
      // distinct aggregates (Expand-based plan) + conditional count per nation
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(countDistinct("c_custkey").as("n_cust"),
          countDistinct("o_orderpriority").as("n_prio"),
          count(when(col("o_totalprice") > 100000.0, 1)).as("big_orders"))
    }),

    // ---- event-time windowing (batch shape of the streaming op) ----
    "q31_rollup" -> ((s, dir) => {
      // hierarchical census with subtotals (beyond the reference's flat census)
      t(s, dir, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    }),
    "q32_setops" -> ((s, dir) => {
      // intersect/except surface: urgent customers who are also machinery segment
      val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("ck"))
      val high = t(s, dir, "orders").where(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("ck"))
      urgent.intersect(high).unionByName(
        high.except(urgent).withColumn("ck", -col("ck"))).select("ck")
    }),
    "q24_tumbling_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), max("value").as("max_value"))
    }),
    "q25_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("gap", unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)))
        .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
        .groupBy("user_id").agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    "q38_split" -> ((s, dir) => {
      // deterministic content-derived train/val/test split (80/10/10)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.hashSplit(col("doc_id")).as("split"))
    }),
    "q37_dedup_keep_best" -> ((s, dir) => {
      // the curation step: among transitive near-duplicates keep the
      // highest-quality document (singletons keep themselves) — composes
      // three independently oracle-verified pieces (q19 pairs, q36
      // clusters, q26 quality)
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.Dedup
        .lshPairs(docs, perms = 4, minJaccard = 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val cc = graft.operators.Dedup.connectedComponents(pairs)
        .withColumnRenamed("node", "doc_id")
      val quality = docs.select(col("doc_id"),
        graft.functions.TextFunctions.qualityColumns(col("text")).last)
      val labeled = quality.join(cc, Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
      // per-cluster argmax via the 1-bounded topk_by aggregate (map-side
      // combine, no per-root sort): template spam makes mega-clusters —
      // thousands of near-identical docs under one root — exactly where a
      // row_number() window's per-root shuffle+sort hurts; the window form
      // lives on as the DuckDB oracle twin. Plan gate: no Window/Sort.
      // topk_by skips null scores, but a null-text singleton must still
      // keep itself (the window/oracle rank it 1) — coalesce to -Inf for
      // ranking and map the sentinel back to null in the output (quality
      // is in [0, 1], so the sentinel cannot collide with a real score).
      val ranked = labeled.groupBy("root")
        .agg(org.apache.spark.sql.graft.GeoFunctionsImpl.topk_by(
          coalesce(col("quality"), lit(Double.NegativeInfinity)),
          col("doc_id"), 1).as("top"))
        .select(col("root").as("cluster_root"),
          element_at(col("top"), 1).getField("key").as("keeper"),
          element_at(col("top"), 1).getField("score").as("q0"))
      ranked.select(col("cluster_root"), col("keeper"),
        when(col("q0") === Double.NegativeInfinity, lit(null).cast("double"))
          .otherwise(col("q0")).as("quality"))
    }),
    "q36_dedup_clusters" -> ((s, dir) => {
      // transitive near-dup clustering: LSH pairs -> connected components ->
      // one cluster row (root = keeper id, size) — the grouping step a real
      // dedup pipeline runs before dropping duplicates
      val pairs = graft.operators.Dedup
        .lshPairs(t(s, dir, "documents"), perms = 4, minJaccard = 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.operators.Dedup.dupClusters(pairs)
    }),
    "q35_graph_bfs" -> ((s, dir) => {
      // ad-hoc graph-path diagnostics (reference GraphUtils Cypher paths):
      // BFS levels from node 0 over a deterministic 2-out-degree edge table
      val p = t(s, dir, "part")
      val e1 = p.select((col("p_partkey") % 500).as("src"),
        ((col("p_partkey") * 7 + 1) % 500).as("dst"))
      val e2 = p.select(((col("p_partkey") * 3) % 500).as("src"),
        ((col("p_partkey") + 13) % 500).as("dst"))
      graft.operators.GraphPaths.bfsLevels(e1.unionByName(e2), source = 0L, maxDepth = 8)
    }),
    "q41_shortest_path" -> ((s, dir) => {
      // shortest path WITH node-sequence reconstruction (reference
      // GraphUtils.findShortestPath, GraphUtils.java:280-344) over the q35
      // edge table; min-parent tree makes the path unique + SQL-replicable
      val p = t(s, dir, "part")
      val e1 = p.select((col("p_partkey") % 500).as("src"),
        ((col("p_partkey") * 7 + 1) % 500).as("dst"))
      val e2 = p.select(((col("p_partkey") * 3) % 500).as("src"),
        ((col("p_partkey") + 13) % 500).as("dst"))
      graft.operators.GraphPaths.shortestPath(e1.unionByName(e2),
        source = 0L, target = 4L, maxDepth = 8)
    }),
    "q68_weighted_sssp" -> ((s, dir) => {
      // weighted SSSP (frontier Bellman-Ford) on an arithmetic-derived
      // 40-node cyclic multigraph, out-degree ~8 (the `div 40` term makes
      // each pk-copy of a node target a different dst — without it 280 ≡ 0
      // (mod 40) collapses the graph to out-degree 1). Long weights keep
      // distances exact, so the DuckDB depth-capped recursive-CTE oracle
      // hash-matches; the cap (45) and maxRounds both exceed the 39-hop
      // simple-path bound, and positive weights mean non-simple paths
      // (and self-loops) can never win.
      val e = t(s, dir, "part").where(col("p_partkey") < 300)
        .select((col("p_partkey") % 40).cast("long").as("src"),
          ((col("p_partkey") * 7 + expr("p_partkey div 40") * 11 + 3) % 40)
            .cast("long").as("dst"),
          (col("p_partkey") % 13 + 1).cast("long").as("w"))
      graft.operators.GraphPaths.weightedSssp(e, source = 0L, maxRounds = 45)
    }),
    "q39_simhash_pairs" -> ((s, dir) => {
      // the pigeonhole-banded SimHash pair join under the hard gate: the
      // DuckDB oracle recomputes the FULL n² Hamming-threshold pair set, so a
      // green row proves the chunk equi-join loses no candidates (as q22
      // proved for cosine LSH). maxHamming=6 -> 7 disjoint 9-bit chunks.
      val sigs = graft.operators.Dedup.simhash(t(s, dir, "documents"))
      graft.operators.Dedup.simhashPairs(sigs, maxHamming = 6)
    }),
    "q40_pip_grid" -> ((s, dir) => {
      // many-polygon PIP: ~100 arithmetic-derived square rings (CityJSON-grid
      // shaped, mirroring lod2_buildings_v2.json's 100 buildings) so the
      // multi-candidate-per-cell refine path is DuckDB-checked, not just the
      // 2-polygon q11. Corner offsets (0.205/0.105) keep every point off the
      // ring boundary, so inclusive-vs-exclusive semantics cannot flake.
      val pts = withXY(t(s, dir, "events"), "event_id")
        .select(col("event_id"), col("x"), col("y"))
      val ids = t(s, dir, "part").where(col("p_partkey") < 100)
        .select(col("p_partkey").cast("long")).collect().map(_.getLong(0)).toSeq
      val polys = gridSquares(ids)
      PipJoin.auto(pts, polys, res = 12).select(col("event_id"), col("feature_id"))
    }),

    // ---- engine-only (no SQL oracle; ScalaTest asserts exact row sets) ----
    "g1_footprint_census" -> ((s, dir) => {
      import s.implicits._
      // reference label census (A2): desc by count, asc by type (DBStats.java:88-103)
      s.createDataset(fzkFootprints ++ cjFootprints).toDF()
        .groupBy("partition_id", "feature_type").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("feature_type"))
    }),
    "g3_tile_assign" -> ((s, dir) => {
      import s.implicits._
      // raster↔vector: images → WMTS tiles joined to CityJSON building tiles
      val pts = ImageGen.points(s, 3000, 8).toDF("image_id", "x", "y")
        .withColumn("x", col("x") - 457790.0) // shift into the CityJSON frame
        .withColumn("y", col("y") - 5439030.0)
      graft.operators.TileAssign.assign(pts,
        s.createDataset(cjFootprints.filter(_.feature_type == "Building")), Seq(19, 20, 21))
        .select("image_id", "feature_id", "zoom", "tile_id")
    }),
    "g4_icelite_lineage" -> ((s, dir) => {
      import s.implicits._
      // resumable write: commit half, "restart" with full input, audit lineage
      val tmp = java.nio.file.Files.createTempDirectory("icelite_q").toString
      val table = s"$tmp/events"
      val df = t(s, dir, "events").where(col("event_id") % 5 === 0)
      graft.sources.IceLite.writeResumable(
        df.where(col("event_type").isin("click", "error")), table, "event_type")
      val (written, skipped) = graft.sources.IceLite.writeResumable(df, table, "event_type")
      val audit = graft.sources.IceLite.verifyLineage(s, table, "event_type")
      val snap = graft.sources.IceLite.currentSnapshot(table)
      snap.partitions.map(p => (p.partition, p.rows, p.checksum,
          audit.toMap.apply(p.partition), skipped.contains(p.partition)))
        .toDF("partition", "rows", "checksum", "lineage_ok", "resumed_skip")
    }),
    "g2_pip_images" -> ((s, dir) => {
      val pts = ImageGen.points(s, 5000, 8).toDF("image_id", "x", "y")
      val polys = (fzkFootprints ++ cjFootprints).filter(_.feature_type == "Building")
      PipJoin.auto(pts, polys).select("image_id", "feature_id", "x", "y")
    }),
    "g5_image_neardup" -> ((s, dir) => {
      // perceptual near-dup over the binary image payload: planted png/jpeg
      // re-encode pairs, recovered via dHash pigeonhole banding (deterministic
      // fixture — result is exactly one pair per source image)
      graft.operators.Dedup.imageNearDup(ImageGen.blockTable(s, 800), maxHamming = 10)
        .orderBy("doc_a", "doc_b")
    }),
    "g11_phash_neardup" -> ((s, dir) => {
      // the DCT-pHash twin of g5: recompression noise lands ~2-3 Hamming
      // under pHash (vs ~6-10 for dHash), so the banded prefilter runs at
      // radius 4 — fewer, more selective pigeonhole chunks. Same planted
      // fixture, same exact one-pair-per-source expectation (pinned with
      // the tight-radius exactness test in ImageOpsSpec).
      graft.operators.Dedup.imageNearDup(ImageGen.blockTable(s, 800),
          maxHamming = 4, algo = "phash")
        .orderBy("doc_a", "doc_b")
    }),
    "g15_bpe_tokenize" -> ((s, dir) => {
      // learned-subword token accounting: fit a BPE merge table on the
      // corpus (one bounded word-count shuffle + driver merge loop), then
      // encode every doc scan-locally via the plan-reference codegen
      // expression. No DuckDB row (the merge loop is not ANSI-expressible);
      // everything is exact-count + total-order deterministic, so the g-row
      // rides the 4-vs-8-core determinism probe; BpeSpec holds the
      // known-corpus and round-trip oracles
      val docs = t(s, dir, "documents")
      val model = graft.functions.BpeTokenizer.train(docs, numMerges = 200, maxWords = 5000)
      docs.select(col("doc_id"),
          graft.functions.BpeTokenizer.encodeTokens(model, col("text")).as("tokens"))
        // xxhash64 recurses into array elements natively — one scalar cell
        // carries the whole token sequence for the determinism probe
        .select(col("doc_id"), size(col("tokens")).as("n_tokens"),
          xxhash64(col("tokens")).as("tokens_hash"))
    }),
    "g14_corpus_report" -> ((s, dir) =>
      // one-pass per-source curation dashboard; every aggregate is
      // partition-order invariant (no double sums, no order-dependent
      // sketches), so the g-row rides the 4-vs-8-core determinism probe
      graft.functions.TextFunctions.corpusReport(t(s, dir, "documents"))),
    "g13_semantic_dedup" -> ((s, dir) => {
      // SemDeDup over the embeddings table with planted near-duplicates
      // (the q22 perturbation): every 25th vector gets a copy at cosine
      // ~0.9999 — identical assignment puts copy and source in the same
      // k-means cluster, so the within-cluster exact pass must catch every
      // plant; keeper = component-min id. k-means floats are not
      // ANSI-replicable → ScalaTest-gated + determinism-probed (g-row).
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(slice(transform(col("embedding"), v => v + lit(0.001f)), 1, 1),
            slice(col("embedding"), 2, 1000)).as("embedding"))
      graft.operators.Dedup.semanticDedup(e.unionByName(planted),
        minCosine = 0.999, nlist = 16)
    }),
    "g6_banded_lsh" -> ((s, dir) =>
      // production-mode banded MinHash (16 bands × 4 rows, seeded 64-bit
      // hashes — the tunable recall knob the md5-slice q19 mode lacks). The
      // custom mix hashes are not ANSI-SQL-expressible, so this is gated by
      // the S-curve recall test (DedupAnnSpec) + the determinism probe; q19
      // hash-gates the identical shuffle shape in oracle mode.
      graft.operators.Dedup.lshPairsBanded(t(s, dir, "documents"))),
    "g8_tfidf_terms" -> ((s, dir) =>
      // TF-IDF keyword extraction (top-3 terms per doc). ln() is
      // libm-dependent, so no DuckDB row (a last-ulp difference could flip
      // a rank at an exact crossover — the hex_encode/pow lesson);
      // TextStatsSpec replays the formula with the same Math.log, and the
      // determinism probe covers cross-parallelism stability.
      graft.functions.TextFunctions.tfidfTopTerms(t(s, dir, "documents"))),
    "g12_ivfpq_ann" -> ((s, dir) => {
      // IVF-PQ (FAISS IVFx,PQy shape): coarse-quantizer list pruning +
      // residual PQ-ADC scoring + exact cosine re-rank — the standard
      // billion-scale index, composed from ivf_assign and the pq kernels.
      // Gated in DedupAnnSpec (recall within the exact-scored IVF ceiling,
      // rerun determinism); rides the cross-parallelism probe.
      val e = t(s, dir, "embeddings")
      val probes = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      graft.operators.AnnSearch.ivfPqTopK(e, probes, k = 5,
          nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 50)
        .select("probe_id", "vec_id", "rnk")
    }),
    "g10_pq_ann" -> ((s, dir) => {
      // product-quantization ANN (32× code compression + ADC shortlist +
      // exact cosine re-rank). The k-means codebooks and float L2 are not
      // ANSI-replicable, so like g6/g8 this is gated in ScalaTest
      // (DedupAnnSpec: kernel-exactness, recall vs brute force, self-hit,
      // rerun determinism) and rides the cross-parallelism probe — the
      // whole pipeline is content-derived (bounded id-range sample,
      // deterministic Lloyd iterations, first-wins argmin encode).
      val e = t(s, dir, "embeddings")
      val probes = e.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      graft.operators.AnnSearch.pqTopK(e, probes, k = 5, m = 8, ksub = 16, rerank = 50)
        .select("probe_id", "vec_id", "rnk")
    }),
    "g9_bm25" -> ((s, dir) => {
      // BM25 retrieval: every 97th doc's first 5 tokens become a query, so
      // each query's source doc is a guaranteed hit and ranking exercises
      // real df/dl variance. ln() is engine-specific (the g8 reason — no
      // DuckDB row); TextStatsSpec replays the exact formula with
      // StrictMath.log and the identical sorted-fold sum order, and the
      // score itself is partitioning-independent by construction, so the
      // 4-vs-8-core determinism probe pins it.
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(split(coalesce(col("text"), lit("")), " "), 1, 5)).as("query"))
      graft.functions.TextFunctions.bm25TopDocs(docs, qs, k = 10)
    }),
    "g7_hll_distinct" -> ((s, dir) =>
      // q30's sketch twin: HyperLogLog distinct users per event type beside
      // the exact count. The estimate is a pure function of the value SET
      // (max-merge registers), so it rides the 4-vs-8-core determinism
      // probe; the error bound is guarantee-tested in HllSketchSpec (the
      // hash is not ANSI-SQL-expressible, so no DuckDB row).
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_d"),
          org.apache.spark.sql.graft.TextFunctionsImpl
            .hll_count(col("user_id").cast("string"), 12).as("hll_d")))
  )

  /** DuckDB cosine mirroring VecKernels.cosine exactly: ascending-index
    * double accumulation, separate sqrt per norm. */
  private def cosSql(a: String, b: String): String =
    s"""list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, 65)]) /
        (sqrt(list_sum([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) FOR i IN range(1, 65)])) *
         sqrt(list_sum([CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, 65)])))"""

  /** DuckDB squared-L2 mirroring the IVF quantizer loop. */
  private def l2Sql(a: String, b: String): String =
    s"""list_sum([(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
                  (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) FOR i IN range(1, 65)])"""

  /** q19's pair generation, shared verbatim by the q36 clustering oracle. */
  private val q19Sql: String =
    """WITH toks AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks,
                              string_split(lower(text), ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS s
           FROM toks WHERE len(w) >= 3),
         sig AS (
           SELECT doc_id, min(substr(md5(s), 1, 8)) AS m1, min(substr(md5(s), 9, 8)) AS m2,
                  min(substr(md5(s), 17, 8)) AS m3, min(substr(md5(s), 25, 8)) AS m4
           FROM sh GROUP BY 1),
         bk AS (
           SELECT doc_id, 0 AS band, m1 AS bucket FROM sig
           UNION ALL SELECT doc_id, 1, m2 FROM sig
           UNION ALL SELECT doc_id, 2, m3 FROM sig
           UNION ALL SELECT doc_id, 3, m4 FROM sig),
         small AS (
           SELECT band, bucket FROM bk GROUP BY 1, 2 HAVING count(*) <= 100),
         bks AS (SELECT bk.* FROM bk JOIN small USING (band, bucket)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bks a JOIN bks b ON a.band = b.band AND a.bucket = b.bucket
                                AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
                CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
                CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE) AS jac
         FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b
         WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE) >= 0.5"""

  /** q26's quality score expression, shared verbatim by the q37 oracle. */
  private val qualitySql: String =
    """0.5::DOUBLE * least(1.0::DOUBLE, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0::DOUBLE) +
                0.3::DOUBLE * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                               CAST(len(string_split(text, ' ')) AS DOUBLE)) +
                0.2::DOUBLE * least(1.0::DOUBLE,
                               ((CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) AS DOUBLE) + 1.0) /
                                CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0::DOUBLE)"""

  private def stopSql(toks: String, words: Seq[String]): String =
    words.map(w => s"CASE WHEN list_contains($toks, '$w') THEN 1 ELSE 0 END")
      .mkString("(", " + ", s") / ${words.size}.0::DOUBLE")

  /** q20's signature computation, shared verbatim by the q39 pairs oracle. */
  private val q20Sql: String =
    """WITH w AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
         h AS (SELECT doc_id, md5(word) AS hx FROM w WHERE word <> ''),
         bits AS (
           SELECT doc_id, bb.b AS b,
                  CASE WHEN ((strpos('0123456789abcdef',
                               substr(hx, CAST(16 - bb.b // 4 AS INT), 1)) - 1)
                             >> CAST(bb.b %% 4 AS INT)) & 1 = 1
                       THEN 1 ELSE -1 END AS v
           FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb(b)),
         c AS (SELECT doc_id, b, sum(v) AS cnt FROM bits GROUP BY 1, 2),
         u AS (SELECT doc_id,
                      sum(CASE WHEN cnt > 0 THEN CAST(power(2, CAST(b AS INT)) AS HUGEINT)
                               ELSE 0 END) AS us
               FROM c GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(CASE WHEN us >= 9223372036854775808 THEN us - 18446744073709551616
                                   ELSE us END, 0) AS BIGINT) AS simhash
         FROM documents d LEFT JOIN u ON d.doc_id = u.doc_id"""

  def oracleSql: Map[String, String] = Map(
    "q20_simhash" -> q20Sql,
    "q39_simhash_pairs" ->
      s"""WITH q20 AS ($q20Sql)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM q20 a JOIN q20 b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""",
    "q40_pip_grid" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")} FROM events),
         polys AS (
           SELECT p_partkey AS pid,
                  457840.0 + (CAST(p_partkey %% 10 AS DOUBLE) * 1.6) + 0.205 AS minx,
                  5439081.0 + (CAST(p_partkey // 10 AS DOUBLE) * 1.4) + 0.105 AS miny
           FROM part WHERE p_partkey < 100)
         SELECT event_id, 'b' || pid AS feature_id FROM pts JOIN polys
           ON x >= minx AND x <= minx + 1.19 AND y >= miny AND y <= miny + 1.19""",
    "q41_shortest_path" ->
      """WITH RECURSIVE e AS (
           SELECT p_partkey %% 500 AS src, (p_partkey * 7 + 1) %% 500 AS dst FROM part
           UNION ALL
           SELECT (p_partkey * 3) %% 500, (p_partkey + 13) %% 500 FROM part),
         bfs AS (
           SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
           UNION
           SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON bfs.node = e.src
           WHERE bfs.dist < 8),
         d AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY 1),
         pred AS (
           SELECT dn.node, min(e.src) AS pred
           FROM d dn JOIN e ON e.dst = dn.node
             JOIN d dp ON dp.node = e.src AND dp.dist = dn.dist - 1
           GROUP BY 1),
         walk AS (
           -- base row comes FROM d, so an unreachable target yields ZERO
           -- rows (matching the engine's empty result) instead of a
           -- scalar-subquery (NULL, 4) row
           SELECT node, dist AS pos FROM d WHERE node = 4
           UNION ALL
           SELECT p.pred, w.pos - 1 FROM walk w JOIN pred p ON p.node = w.node
           WHERE w.pos > 0)
         SELECT CAST(pos AS INT) AS pos, node FROM walk""",
    "q21_ann_topk" ->
      s"""WITH probes AS (
           SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings WHERE vec_id %% 50 = 0),
         scored AS (
           SELECT p.probe_id, e.vec_id, ${cosSql("e.embedding", "p.pvec")} AS cos
           FROM embeddings e CROSS JOIN probes p)
         SELECT probe_id, vec_id, rnk FROM (
           SELECT probe_id, vec_id,
                  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS INT) AS rnk
           FROM scored) WHERE rnk <= 5""",
    "q22_embed_neardup" ->
      s"""WITH planted AS (
           SELECT vec_id + 1000000 AS vec_id,
                  [embedding[1] + 0.001::FLOAT] || embedding[2:] AS embedding
           FROM embeddings WHERE vec_id %% 25 = 0),
         allv AS (SELECT vec_id, embedding FROM embeddings
                  UNION ALL SELECT vec_id, embedding FROM planted)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM allv a JOIN allv b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.999::DOUBLE""",
    "q23_ann_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         ad AS (SELECT e.vec_id, c.cid, ${l2Sql("e.embedding", "c.cvec")} AS d2
                FROM embeddings e CROSS JOIN cent c),
         assigned AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           FROM ad) WHERE rn = 1),
         probes AS (SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
                    WHERE vec_id %% 50 = 0),
         pd AS (SELECT p.probe_id, c.cid, ${l2Sql("p.pvec", "c.cvec")} AS d2
                FROM probes p CROSS JOIN cent c),
         plists AS (SELECT probe_id, cid FROM (
           SELECT probe_id, cid, row_number() OVER (PARTITION BY probe_id ORDER BY d2, cid) AS rn
           FROM pd) WHERE rn <= 4),
         scored AS (
           SELECT pl.probe_id, a.vec_id, ${cosSql("e.embedding", "p.pvec")} AS cos
           FROM plists pl JOIN assigned a USING (cid)
             JOIN embeddings e ON e.vec_id = a.vec_id
             JOIN probes p ON p.probe_id = pl.probe_id)
         SELECT probe_id, vec_id, rnk FROM (
           SELECT probe_id, vec_id,
                  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS INT) AS rnk
           FROM scored) WHERE rnk <= 5""",
    "q38_split" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         b AS (SELECT doc_id,
                 ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
                  (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
                  (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
                  (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) %% 100 AS bucket
               FROM h)
         SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
                             WHEN bucket < 90 THEN 'val'
                             ELSE 'test' END AS split FROM b""",
    "q35_graph_bfs" ->
      """WITH RECURSIVE e AS (
           SELECT p_partkey %% 500 AS src, (p_partkey * 7 + 1) %% 500 AS dst FROM part
           UNION ALL
           SELECT (p_partkey * 3) %% 500, (p_partkey + 13) %% 500 FROM part),
         bfs AS (
           SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
           UNION
           SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON bfs.node = e.src
           WHERE bfs.dist < 8)
         SELECT node, CAST(min(dist) AS INT) AS dist FROM bfs GROUP BY 1""",
    "q27_langid" ->
      s"""WITH t AS (
           SELECT lang, regexp_split_to_array(lower(text), '\\s+') AS toks,
                  CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE) /
                    greatest(CAST(length(text) AS DOUBLE), 1.0::DOUBLE) AS cjk
           FROM documents),
         s AS (
           SELECT lang, cjk,
                  ${stopSql("toks", graft.functions.TextFunctions.stopwords("en"))} AS s_en,
                  ${stopSql("toks", graft.functions.TextFunctions.stopwords("de"))} AS s_de,
                  ${stopSql("toks", graft.functions.TextFunctions.stopwords("fr"))} AS s_fr,
                  ${stopSql("toks", graft.functions.TextFunctions.stopwords("es"))} AS s_es
           FROM t),
         p AS (
           SELECT lang,
                  CASE WHEN cjk > 0.2::DOUBLE THEN 'zh'
                       WHEN greatest(s_en, s_de, s_fr, s_es) > 0.0::DOUBLE THEN
                         CASE WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                              ELSE 'de' END
                       ELSE 'und' END AS lang_pred
           FROM s)
         SELECT lang, lang_pred, count(*) AS cnt FROM p GROUP BY 1, 2""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS cnt, max(l_extendedprice) AS max_price
         FROM lineitem GROUP BY 1, 2""",
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1995-06-01' AND l_quantity > 45""",
    "q3_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders, max(o_totalprice) AS max_price
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "q4_join_agg" ->
      """SELECT o_orderpriority, sum(l_quantity) AS sum_qty, count(*) AS cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""",
    "q5_window_topk" ->
      """SELECT o_orderpriority, o_orderkey, rnk FROM (
           SELECT o_orderpriority, o_orderkey,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders) WHERE rnk <= 3""",
    "q6_census" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1",
    "q7_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",
    "q8_env_agg" ->
      """SELECT l_orderkey, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         FROM lineitem GROUP BY 1""",
    "q9_xlink_audit" ->
      """WITH hr AS (
           SELECT l_orderkey,
                  CAST(l_orderkey + CASE WHEN l_orderkey %% 97 = 0 THEN 1000000000 ELSE 0 END AS VARCHAR) AS target
           FROM lineitem WHERE l_linenumber = 1),
         ids AS (
           SELECT CAST(o_orderkey AS VARCHAR) AS id FROM orders
           UNION ALL
           SELECT CAST(o_orderkey AS VARCHAR) FROM orders WHERE o_orderkey %% 1000 = 0),
         m AS (
           SELECT hr.l_orderkey, count(ids.id) AS mc
           FROM hr LEFT JOIN ids ON hr.target = ids.id GROUP BY 1)
         SELECT CASE WHEN mc = 0 THEN 'unresolved'
                     WHEN mc > 1 THEN 'ambiguous'
                     ELSE 'resolved' END AS status, count(*) AS cnt
         FROM m GROUP BY 1""",
    "q10_cell_grid" ->
      s"""WITH pts AS (SELECT ${xySql.replace("%ID%", "event_id")} FROM events)
         SELECT CAST(floor(x / 33554432.0 * 4194304.0) AS BIGINT) AS ix,
                CAST(floor(y / 33554432.0 * 4194304.0) AS BIGINT) AS iy,
                count(*) AS cnt
         FROM pts GROUP BY 1, 2""",
    "q11_pip_join" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")} FROM events),
         rect AS (
           SELECT event_id, 'rect_fzk' AS feature_id FROM pts
           WHERE x >= 457842.0 AND x <= 457854.0 AND y >= 5439083.0 AND y <= 5439093.0),
         tri AS (
           SELECT event_id, 'tri_1' AS feature_id FROM pts
           WHERE (457852.785 - 457845.335) * (y - 5439084.125) - (5439086.295 - 5439084.125) * (x - 457845.335) >= 0
             AND (457848.115 - 457852.785) * (y - 5439086.295) - (5439092.635 - 5439086.295) * (x - 457852.785) >= 0
             AND (457845.335 - 457848.115) * (y - 5439092.635) - (5439084.125 - 5439092.635) * (x - 457848.115) >= 0)
         SELECT * FROM rect UNION ALL SELECT * FROM tri""",
    "q12_knn" ->
      s"""WITH probes AS (
           SELECT CAST(event_id AS VARCHAR) AS probe_id,
                  ${xySql.replace("%ID%", "event_id")}
           FROM events WHERE event_id %% 97 = 0),
         targets AS (
           SELECT 't' || p_partkey AS target_id,
                  457840.0 + CAST((p_partkey * 7) %% 40 AS DOUBLE) * 0.4::DOUBLE AS cx,
                  5439081.0 + CAST((p_partkey * 13) %% 35 AS DOUBLE) * 0.4::DOUBLE AS cy
           FROM part WHERE p_partkey <= 200),
         d AS (
           SELECT probe_id, target_id,
                  (cx - x) * (cx - x) + (cy - y) * (cy - y) AS d2
           FROM probes CROSS JOIN targets)
         SELECT probe_id, target_id, d2, rnk FROM (
           SELECT probe_id, target_id, d2,
                  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY d2, target_id) AS INT) AS rnk
           FROM d) WHERE rnk <= 3""",
    "q13_tile_topk" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")} FROM events),
         tiles AS (
           SELECT event_id,
                  CAST(floor(x / 33554432.0 * 16777216.0) AS BIGINT) AS tx,
                  16777215 - CAST(floor(y / 33554432.0 * 16777216.0) AS BIGINT) AS ty
           FROM pts)
         SELECT tx, ty, event_id, rn FROM (
           SELECT tx, ty, event_id,
                  CAST(row_number() OVER (PARTITION BY tx, ty ORDER BY event_id) AS INT) AS rn
           FROM tiles) WHERE rn <= 2""",
    "q14_range_join" ->
      """WITH boxes AS (
           SELECT p_partkey,
                  CAST((p_partkey * 3) %% 20 AS DOUBLE) * 2.0::DOUBLE AS bminx,
                  CAST((p_partkey * 7) %% 20 AS DOUBLE) * 2.0::DOUBLE AS bminy
           FROM part WHERE p_partkey <= 300),
         qs AS (
           SELECT n_nationkey,
                  CAST(n_nationkey %% 5 AS DOUBLE) * 8.0::DOUBLE AS qminx,
                  CAST((n_nationkey * 3) %% 10 AS DOUBLE) * 4.0::DOUBLE AS qminy
           FROM nation)
         SELECT p_partkey, n_nationkey FROM boxes, qs
         WHERE NOT (bminx > qminx + 6.0 OR bminx + 3.0 < qminx OR
                    bminy > qminy + 6.0 OR bminy + 3.0 < qminy)""",
    "q17_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "q15_token_stats" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(length(text) AS INT) AS len_chars
         FROM documents""",
    "q16_fingerprint" ->
      """SELECT doc_id, lang, substring(md5(lower(text)), 1, 16) AS fp16
         FROM documents""",
    "q28_bbox_match" ->
      """WITH a AS (
           SELECT p_partkey,
                  CAST((p_partkey * 3) %% 20 AS DOUBLE) * 2.0::DOUBLE AS aminx,
                  CAST((p_partkey * 7) %% 20 AS DOUBLE) * 2.0::DOUBLE AS aminy
           FROM part WHERE p_partkey <= 300),
         b AS (
           SELECT n_nationkey,
                  CAST(n_nationkey %% 5 AS DOUBLE) * 8.0::DOUBLE AS bminx,
                  CAST((n_nationkey * 3) %% 10 AS DOUBLE) * 4.0::DOUBLE AS bminy
           FROM nation)
         SELECT p_partkey, n_nationkey FROM a, b
         WHERE (greatest(0.0::DOUBLE, least(aminx + 3.0, bminx + 6.0) - greatest(aminx, bminx)) *
                greatest(0.0::DOUBLE, least(aminy + 3.0, bminy + 6.0) - greatest(aminy, bminy))) /
               ((aminx + 3.0 - aminx) * (aminy + 3.0 - aminy)) > 0.5
           AND (greatest(0.0::DOUBLE, least(aminx + 3.0, bminx + 6.0) - greatest(aminx, bminx)) *
                greatest(0.0::DOUBLE, least(aminy + 3.0, bminy + 6.0) - greatest(aminy, bminy))) /
               ((bminx + 6.0 - bminx) * (bminy + 6.0 - bminy)) > 0.05""",
    "q29_shared_refs" ->
      """SELECT l_orderkey AS target_id, count(*) AS n_refs,
                CASE WHEN count(*) > 1 THEN 'xlink' ELSE 'inline' END AS representation
         FROM lineitem GROUP BY 1""",
    "q18_minhash_sig" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS s
           FROM toks WHERE len(w) >= 3)
         SELECT doc_id, min(substr(md5(s), 1, 8)) AS m1, min(substr(md5(s), 9, 8)) AS m2,
                min(substr(md5(s), 17, 8)) AS m3, min(substr(md5(s), 25, 8)) AS m4
         FROM sh GROUP BY 1""",
    "q19_lsh_pairs" -> q19Sql,
    "q94_weighted_jaccard" ->
      """WITH docs2 AS (
           SELECT doc_id,
             CASE WHEN doc_id %% 7 = 0 THEN text ||
               ' copyright example corp all rights reserved terms of service privacy policy contact us'
             ELSE text END AS text
           FROM documents),
         toks AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks,
                         string_split(lower(text), ' ') AS w FROM docs2),
         sh AS (
           SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS s
           FROM toks WHERE len(w) >= 3),
         sig AS (
           SELECT doc_id, min(substr(md5(s), 1, 8)) AS m1, min(substr(md5(s), 9, 8)) AS m2,
                  min(substr(md5(s), 17, 8)) AS m3, min(substr(md5(s), 25, 8)) AS m4
           FROM sh GROUP BY 1),
         bk AS (
           SELECT doc_id, 0 AS band, m1 AS bucket FROM sig
           UNION ALL SELECT doc_id, 1, m2 FROM sig
           UNION ALL SELECT doc_id, 2, m3 FROM sig
           UNION ALL SELECT doc_id, 3, m4 FROM sig),
         small AS (SELECT band, bucket FROM bk GROUP BY 1, 2 HAVING count(*) <= 100),
         bks AS (SELECT bk.* FROM bk JOIN small USING (band, bucket)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bks a JOIN bks b ON a.band = b.band AND a.bucket = b.bucket
                                AND a.doc_id < b.doc_id),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
         dfw AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
         wt AS (SELECT tok, GREATEST(1, (SELECT count(*) FROM docs2) // df) AS w FROM dfw),
         ws AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wsum
                FROM tk JOIN wt USING (tok) GROUP BY 1),
         iw AS (SELECT c.doc_a, c.doc_b, CAST(SUM(wt.w) AS BIGINT) AS inter_w
                FROM cand c
                JOIN tk ta ON ta.doc_id = c.doc_a
                JOIN tk tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
                JOIN wt ON wt.tok = ta.tok
                GROUP BY 1, 2)
         SELECT iw.doc_a, iw.doc_b,
           CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
           CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE) AS jac,
           CAST(inter_w AS DOUBLE) / CAST(sa.wsum + sb.wsum - inter_w AS DOUBLE) AS wjac
         FROM iw JOIN toks ta ON ta.doc_id = iw.doc_a
                 JOIN toks tb ON tb.doc_id = iw.doc_b
                 JOIN ws sa ON sa.doc_id = iw.doc_a
                 JOIN ws sb ON sb.doc_id = iw.doc_b
         WHERE CAST(inter_w AS DOUBLE) / CAST(sa.wsum + sb.wsum - inter_w AS DOUBLE) >= 0.4""",
    "q86_visit_sequences" ->
      s"""WITH pts AS (SELECT event_id, user_id, ts,
                  ${xySql.replace("%ID%", "event_id")}
           FROM events),
         polys AS (
           SELECT p_partkey AS pid,
                  457840.0 + (CAST(p_partkey %% 10 AS DOUBLE) * 1.6) + 0.205 AS minx,
                  5439081.0 + (CAST(p_partkey // 10 AS DOUBLE) * 1.4) + 0.105 AS miny
           FROM part WHERE p_partkey < 100),
         hits AS (SELECT user_id, ts, event_id, 'b' || pid AS feature_id
                  FROM pts JOIN polys
                    ON x >= minx AND x <= minx + 1.19 AND y >= miny AND y <= miny + 1.19),
         lagd AS (SELECT user_id, ts, event_id, feature_id,
                    lag(feature_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                  FROM hits),
         st AS (SELECT * FROM lagd WHERE prev IS NULL OR prev <> feature_id)
         SELECT user_id,
                CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
                  AS visit_idx,
                feature_id, event_id AS start_event
         FROM st""",
    "q92_quantile_norm" ->
      s"""WITH sc AS (
           SELECT doc_id, source, ($qualitySql) AS score
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, source, score,
                percent_rank() OVER (PARTITION BY source ORDER BY score) AS qnorm
         FROM sc""",
    "q91_setback" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")
                         .replace(" AS x,", " AS px,").replace(" AS y", " AS py")}
           FROM events),
         p AS (SELECT 'b' || p_partkey AS fid,
                 457840.0 + (CAST(p_partkey %% 10 AS DOUBLE) * 1.6) + 0.205 AS minx,
                 5439081.0 + (CAST(p_partkey // 10 AS DOUBLE) * 1.4) + 0.105 AS miny
               FROM part WHERE p_partkey < 100),
         p2 AS (SELECT fid, minx, miny,
                  minx + 1.19::DOUBLE AS maxx, miny + 1.19::DOUBLE AS maxy FROM p),
         v AS (SELECT fid, [minx, maxx, maxx, minx] AS xs,
                      [miny, miny, maxy, maxy] AS ys FROM p2),
         e AS (SELECT fid, unnest(xs) AS x1, unnest(ys) AS y1,
                      unnest([xs[(i %% 4) + 1] FOR i IN range(1, 5)]) AS x2,
                      unnest([ys[(i %% 4) + 1] FOR i IN range(1, 5)]) AS y2
               FROM v),
         t1 AS (SELECT event_id, fid, px, py, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy
                FROM pts CROSS JOIN e),
         t2 AS (SELECT *, dx * dx + dy * dy AS l2 FROM t1),
         t3 AS (SELECT *, CASE WHEN l2 = 0.0::DOUBLE THEN 0.0::DOUBLE
                               ELSE GREATEST(0.0::DOUBLE, LEAST(1.0::DOUBLE,
                                    ((px - x1) * dx + (py - y1) * dy) / l2)) END AS t
                FROM t2),
         t4 AS (SELECT event_id, fid, px - (x1 + t * dx) AS ex, py - (y1 + t * dy) AS ey
                FROM t3),
         pr AS (SELECT event_id, fid, min(ex * ex + ey * ey) AS d2 FROM t4 GROUP BY 1, 2),
         rk AS (SELECT event_id, fid, d2,
                  row_number() OVER (PARTITION BY event_id ORDER BY d2, fid) AS rnk
                FROM pr)
         SELECT event_id, d2, sqrt(d2) AS dist, fid AS nearest FROM rk WHERE rnk = 1""",
    "q90_idw" ->
      s"""WITH probes AS (
           SELECT 'p' || p_partkey AS probe_id,
                  457840.0 + (CAST(p_partkey %% 10 AS DOUBLE) * 1.6) + 0.805 AS x,
                  5439081.0 + (CAST(p_partkey // 10 AS DOUBLE) * 1.4) + 0.705 AS y
           FROM part WHERE p_partkey < 100),
         targets AS (
           SELECT CAST(event_id AS VARCHAR) AS target_id, value AS v,
                  ${xySql.replace("%ID%", "event_id").replace(" AS x,", " AS cx,")
                         .replace(" AS y", " AS cy")}
           FROM events),
         d AS (SELECT probe_id, target_id, v,
                 (cx - x) * (cx - x) + (cy - y) * (cy - y) AS d2
               FROM probes CROSS JOIN targets),
         r AS (SELECT probe_id, target_id, v, d2,
                 row_number() OVER (PARTITION BY probe_id ORDER BY d2, target_id)
                   AS rnk FROM d),
         topk AS (SELECT * FROM r WHERE rnk <= 8),
         agg AS (SELECT probe_id,
                   list((1.0 / d2) * v ORDER BY d2, target_id) AS wv,
                   list(1.0 / d2 ORDER BY d2, target_id) AS w,
                   count(*) AS k
                 FROM topk GROUP BY 1)
         SELECT probe_id, list_sum(wv) / list_sum(w) AS idw, CAST(k AS INT) AS k
         FROM agg""",
    "q89_tile_top_contrib" ->
      """WITH r AS (
           SELECT p_partkey AS rid,
                  CAST((p_partkey * 13) %% 500 AS DOUBLE) * 37.0 AS minx,
                  CAST((p_partkey * 29) %% 500 AS DOUBLE) * 41.0 AS miny
           FROM part WHERE p_partkey < 200),
         r2 AS (
           SELECT rid, minx, miny,
                  minx + CAST(rid %% 7 + 1 AS DOUBLE) * 23.0 AS maxx,
                  miny + CAST(rid %% 5 + 1 AS DOUBLE) * 31.0 AS maxy
           FROM r),
         t AS (
           SELECT rid, minx, miny, maxx, maxy,
                  CAST(floor(minx / 33554432.0 * 1048576) AS BIGINT) AS tx0,
                  CAST(floor(maxx / 33554432.0 * 1048576) AS BIGINT) AS tx1,
                  1048575 - CAST(floor(maxy / 33554432.0 * 1048576) AS BIGINT) AS ty0,
                  1048575 - CAST(floor(miny / 33554432.0 * 1048576) AS BIGINT) AS ty1
           FROM r2),
         e AS (
           SELECT rid, minx, miny, maxx, maxy,
                  unnest(flatten([[xi FOR yi IN range(ty0, ty1 + 1)]
                                  FOR xi IN range(tx0, tx1 + 1)])) AS tx,
                  unnest(flatten([[yi FOR yi IN range(ty0, ty1 + 1)]
                                  FOR xi IN range(tx0, tx1 + 1)])) AS ty
           FROM t),
         b AS (
           SELECT rid, 5764607523034234880 + tx * 536870912 + ty AS tile_id,
                  minx, miny, maxx, maxy,
                  CAST(tx AS DOUBLE) * 32.0 AS txmin,
                  CAST(1048575 - ty AS DOUBLE) * 32.0 AS tymin
           FROM e),
         w AS (SELECT rid, tile_id,
                CASE WHEN (maxx - minx) * (maxy - miny) > 0.0::DOUBLE
                     THEN GREATEST(0.0::DOUBLE, LEAST(maxx, txmin + 32.0) - GREATEST(minx, txmin))
                        * GREATEST(0.0::DOUBLE, LEAST(maxy, tymin + 32.0) - GREATEST(miny, tymin))
                        / ((maxx - minx) * (maxy - miny))
                     ELSE 0.0::DOUBLE END AS frac
               FROM b),
         rk AS (SELECT tile_id, rid, frac,
                  row_number() OVER (PARTITION BY tile_id
                                     ORDER BY frac DESC, rid ASC) AS rnk
                FROM w)
         SELECT tile_id, CAST(rnk AS INT) AS rank, rid, frac
         FROM rk WHERE rnk <= 3""",
    "q88_containment" ->
      """WITH docs88 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000,
                  array_to_string((string_split(COALESCE(text, ''), ' '))[1:12], ' ')
           FROM documents WHERE doc_id %% 9 = 0),
         toks AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks,
                         string_split(lower(text), ' ') AS w FROM docs88),
         sh AS (SELECT doc_id,
                  unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          FOR i IN range(1, len(w) - 1)]) AS s
                FROM toks WHERE len(w) >= 3),
         sig AS (SELECT doc_id,
                   min(substr(md5(s), 1, 8)) AS m1, min(substr(md5(s), 9, 8)) AS m2,
                   min(substr(md5(s), 17, 8)) AS m3, min(substr(md5(s), 25, 8)) AS m4
                 FROM sh GROUP BY 1),
         bk AS (SELECT doc_id, 0 AS band, m1 AS bucket FROM sig
                UNION ALL SELECT doc_id, 1, m2 FROM sig
                UNION ALL SELECT doc_id, 2, m3 FROM sig
                UNION ALL SELECT doc_id, 3, m4 FROM sig),
         small AS (SELECT band, bucket FROM bk GROUP BY 1, 2 HAVING count(*) <= 100),
         bks AS (SELECT bk.* FROM bk JOIN small USING (band, bucket)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bks a JOIN bks b ON a.band = b.band AND a.bucket = b.bucket
                                       AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
                CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
                CAST(LEAST(len(ta.toks), len(tb.toks)) AS DOUBLE) AS containment
         FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b
         WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
               CAST(LEAST(len(ta.toks), len(tb.toks)) AS DOUBLE) >= 0.9""",
    "q87_visit_dwell" ->
      s"""WITH pts AS (SELECT event_id, user_id, ts,
                  ${xySql.replace("%ID%", "event_id")}
           FROM events),
         polys AS (
           SELECT p_partkey AS pid,
                  457840.0 + (CAST(p_partkey %% 10 AS DOUBLE) * 1.6) + 0.205 AS minx,
                  5439081.0 + (CAST(p_partkey // 10 AS DOUBLE) * 1.4) + 0.105 AS miny
           FROM part WHERE p_partkey < 100),
         hits AS (SELECT user_id, ts, event_id, 'b' || pid AS feature_id
                  FROM pts JOIN polys
                    ON x >= minx AND x <= minx + 1.19 AND y >= miny AND y <= miny + 1.19),
         lagd AS (SELECT user_id, ts, event_id, feature_id,
                    CASE WHEN lag(feature_id) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) = feature_id
                         THEN 0 ELSE 1 END AS is_start
                  FROM hits),
         vis AS (SELECT user_id, ts, feature_id,
                   CAST(SUM(is_start) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS INT) AS visit_idx
                 FROM lagd)
         SELECT user_id, visit_idx, min(feature_id) AS feature_id,
                CAST(count(*) AS BIGINT) AS n_pings,
                min(ts) AS start_ts, max(ts) AS end_ts
         FROM vis GROUP BY 1, 2""",
    "q85_multimodal_pairs" ->
      s"""WITH q19 AS ($q19Sql),
         q20 AS ($q20Sql)
         SELECT p.doc_a, p.doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM q19 p
         JOIN q20 a ON p.doc_a = a.doc_id
         JOIN q20 b ON p.doc_b = b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""",
    "q84_tile_hotspots" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")} FROM events),
         idx AS (SELECT CAST(floor(x / 33554432.0 * 16777216) AS BIGINT) AS tx,
                        16777215 - CAST(floor(y / 33554432.0 * 16777216) AS BIGINT) AS ty
                 FROM pts),
         c AS (SELECT 6917529027641081856 + tx * 536870912 + ty AS tile_id,
                      count(*) AS c
               FROM idx GROUP BY 1),
         nb AS (SELECT c.tile_id + (dxs.dx * 536870912 + dys.dy) AS tile_id, c.c
                FROM c, (VALUES (-1), (0), (1)) dxs(dx), (VALUES (-1), (0), (1)) dys(dy)),
         ns AS (SELECT tile_id, CAST(SUM(c) AS BIGINT) AS nbr_sum FROM nb GROUP BY 1),
         st AS (SELECT count(*) AS n, CAST(SUM(c) AS BIGINT) AS total,
                       CAST(SUM(c * c) AS BIGINT) AS sumsq FROM c)
         SELECT c.tile_id, CAST(c.c AS BIGINT) AS c, ns.nbr_sum,
                (CAST(c.c AS DOUBLE) - CAST(total AS DOUBLE) / CAST(n AS DOUBLE)) /
                sqrt(CAST(sumsq AS DOUBLE) / CAST(n AS DOUBLE) -
                     (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)) *
                     (CAST(total AS DOUBLE) / CAST(n AS DOUBLE))) AS z
         FROM c JOIN ns USING (tile_id), st""",
    "q83_image_gates" ->
      """WITH b AS (
           SELECT CAST(p_partkey AS BIGINT) AS k,
                  32 + (CAST(p_partkey AS BIGINT) * 7) %% 1600 AS w,
                  32 + (CAST(p_partkey AS BIGINT) * 13) %% 900 AS h,
                  CASE p_partkey %% 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                       WHEN 2 THEN 'bmp' ELSE 'unknown' END AS fmt,
                  CASE WHEN p_partkey %% 11 = 0 THEN '   ' ELSE p_name END AS caption
           FROM part WHERE p_partkey < 500),
         b2 AS (SELECT *, 1 + ((w * h * 3) // (1 + k %% 80)) AS n_bytes FROM b),
         g AS (SELECT k, w, h, fmt, caption, n_bytes,
                 GREATEST(CAST(w AS DOUBLE), CAST(h AS DOUBLE)) /
                   LEAST(CAST(w AS DOUBLE), CAST(h AS DOUBLE)) AS aspect,
                 CAST(n_bytes AS DOUBLE) / (CAST(w AS DOUBLE) * CAST(h AS DOUBLE)) AS bpp,
                 CAST(len(string_split(caption, ' ')) AS INT) AS n_caption_tokens
               FROM b2)
         SELECT k AS image_key, LEAST(w, h) AS min_side, aspect, bpp,
                n_caption_tokens,
                (LEAST(w, h) >= 64) AS res_ok,
                (aspect <= 3.0::DOUBLE) AS aspect_ok,
                (bpp >= 0.05::DOUBLE) AS bpp_ok,
                (fmt IN ('png', 'jpeg')) AS fmt_ok,
                (length(trim(caption)) > 0 AND n_caption_tokens <= 128) AS caption_ok,
                (LEAST(w, h) >= 64 AND aspect <= 3.0::DOUBLE AND bpp >= 0.05::DOUBLE
                 AND fmt IN ('png', 'jpeg')
                 AND (length(trim(caption)) > 0 AND n_caption_tokens <= 128)) AS keep
         FROM g""",
    "q82_dup_matrix" ->
      s"""WITH q19 AS ($q19Sql),
         s AS (SELECT doc_id, source FROM documents),
         j AS (SELECT LEAST(sa.source, sb.source) AS src_a,
                      GREATEST(sa.source, sb.source) AS src_b
               FROM q19 p
               JOIN s sa ON p.doc_a = sa.doc_id
               JOIN s sb ON p.doc_b = sb.doc_id)
         SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         FROM j GROUP BY 1, 2""",
    "q36_dedup_clusters" ->
      s"""WITH RECURSIVE q19 AS ($q19Sql),
         pairs AS (SELECT doc_a AS a, doc_b AS b FROM q19),
         ed AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         reach AS (
           SELECT a AS node, b AS reach FROM ed
           UNION
           SELECT r.node, e.b FROM reach r JOIN ed e ON r.reach = e.a),
         lab AS (SELECT node, least(node, min(reach)) AS root FROM reach GROUP BY node)
         SELECT root AS cluster_root, count(*) AS csize FROM lab GROUP BY 1""",
    "q37_dedup_keep_best" ->
      s"""WITH RECURSIVE q19 AS ($q19Sql),
         pairs AS (SELECT doc_a AS a, doc_b AS b FROM q19),
         ed AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
         reach AS (
           SELECT a AS node, b AS reach FROM ed
           UNION
           SELECT r.node, e.b FROM reach r JOIN ed e ON r.reach = e.a),
         lab AS (SELECT node, least(node, min(reach)) AS root FROM reach GROUP BY node),
         q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         labeled AS (
           SELECT q.doc_id, coalesce(lab.root, q.doc_id) AS root, q.quality
           FROM q LEFT JOIN lab ON q.doc_id = lab.node)
         SELECT root AS cluster_root, doc_id AS keeper, quality FROM (
           SELECT *, row_number() OVER (PARTITION BY root ORDER BY quality DESC, doc_id) AS rn
           FROM labeled) WHERE rn = 1""",
    "q26_quality" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
                (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) AS DOUBLE) + 1.0) /
                CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len,
                0.5::DOUBLE * least(1.0::DOUBLE, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0::DOUBLE) +
                0.3::DOUBLE * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                               CAST(len(string_split(text, ' ')) AS DOUBLE)) +
                0.2::DOUBLE * least(1.0::DOUBLE,
                               ((CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) AS DOUBLE) + 1.0) /
                                CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0::DOUBLE) AS quality
         FROM documents""",
    "q34_range_frame" ->
      """SELECT event_id, user_id,
                CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
         FROM events""",
    "q33_asof" ->
      """WITH clicks AS (SELECT event_id AS click_id, user_id, ts FROM events
                         WHERE event_type = 'click'),
         views AS (SELECT user_id, ts AS view_ts, max(value) AS view_value
                   FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT click_id, c.user_id AS user_id, c.ts AS ts, view_ts, view_value
         FROM clicks c ASOF JOIN views v
           ON c.user_id = v.user_id AND c.ts >= v.view_ts""",
    "q42_asof_forward" ->
      """WITH clicks AS (SELECT event_id AS click_id, user_id, ts FROM events
                         WHERE event_type = 'click'),
         views AS (SELECT user_id, ts AS view_ts, max(value) AS view_value
                   FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT click_id, c.user_id AS user_id, c.ts AS ts, view_ts, view_value
         FROM clicks c ASOF JOIN views v
           ON c.user_id = v.user_id AND c.ts <= v.view_ts""",
    "q43_quality_gate" ->
      """WITH s AS (
           SELECT doc_id, lang,
                  0.5::DOUBLE * least(1.0::DOUBLE, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0::DOUBLE) +
                  0.3::DOUBLE * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                                 CAST(len(string_split(text, ' ')) AS DOUBLE)) +
                  0.2::DOUBLE * least(1.0::DOUBLE,
                                 ((CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) AS DOUBLE) + 1.0) /
                                  CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0::DOUBLE) AS quality
           FROM documents),
         m AS (SELECT lang, quantile_cont(quality, 0.5) AS med FROM s GROUP BY 1)
         SELECT doc_id, s.lang AS lang, quality
         FROM s JOIN m ON s.lang = m.lang WHERE quality > med""",
    "q44_ngram_topk" ->
      """WITH toks AS (SELECT string_split(lower(text), ' ') AS w FROM documents),
         sh AS (SELECT unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS ngram
                FROM toks WHERE len(w) >= 3)
         SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
         FROM sh GROUP BY 1 ORDER BY cnt DESC, ngram ASC LIMIT 50""",
    "q45_stratified_sample" ->
      """WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         b AS (SELECT doc_id, lang,
                 ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
                  (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
                  (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
                  (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) %% 100 AS bucket
               FROM h)
         SELECT doc_id, lang FROM b
         WHERE bucket < CASE WHEN lang = 'en' THEN 25 ELSE 75 END""",
    "q46_tile_cover" ->
      """WITH r AS (
           SELECT p_partkey AS rid,
                  CAST((p_partkey * 13) %% 500 AS DOUBLE) * 37.0 AS minx,
                  CAST((p_partkey * 29) %% 500 AS DOUBLE) * 41.0 AS miny
           FROM part WHERE p_partkey < 200),
         r2 AS (
           SELECT rid, minx, miny,
                  minx + CAST(rid %% 7 + 1 AS DOUBLE) * 23.0 AS maxx,
                  miny + CAST(rid %% 5 + 1 AS DOUBLE) * 31.0 AS maxy
           FROM r),
         t AS (
           SELECT rid,
                  CAST(floor(minx / 33554432.0 * 1048576) AS BIGINT) AS tx0,
                  CAST(floor(maxx / 33554432.0 * 1048576) AS BIGINT) AS tx1,
                  1048575 - CAST(floor(maxy / 33554432.0 * 1048576) AS BIGINT) AS ty0,
                  1048575 - CAST(floor(miny / 33554432.0 * 1048576) AS BIGINT) AS ty1
           FROM r2)
         SELECT rid, unnest(flatten([[5764607523034234880 + xi * 536870912 + yi
                                      FOR yi IN range(ty0, ty1 + 1)]
                                     FOR xi IN range(tx0, tx1 + 1)])) AS tile_id
         FROM t""",
    "q77_tile_weights" ->
      """WITH r AS (
           SELECT p_partkey AS rid,
                  CAST((p_partkey * 13) %% 500 AS DOUBLE) * 37.0 AS minx,
                  CAST((p_partkey * 29) %% 500 AS DOUBLE) * 41.0 AS miny
           FROM part WHERE p_partkey < 200),
         r2 AS (
           SELECT rid, minx, miny,
                  minx + CAST(rid %% 7 + 1 AS DOUBLE) * 23.0 AS maxx,
                  miny + CAST(rid %% 5 + 1 AS DOUBLE) * 31.0 AS maxy
           FROM r),
         t AS (
           SELECT rid, minx, miny, maxx, maxy,
                  CAST(floor(minx / 33554432.0 * 1048576) AS BIGINT) AS tx0,
                  CAST(floor(maxx / 33554432.0 * 1048576) AS BIGINT) AS tx1,
                  1048575 - CAST(floor(maxy / 33554432.0 * 1048576) AS BIGINT) AS ty0,
                  1048575 - CAST(floor(miny / 33554432.0 * 1048576) AS BIGINT) AS ty1
           FROM r2),
         e AS (
           SELECT rid, minx, miny, maxx, maxy,
                  unnest(flatten([[xi FOR yi IN range(ty0, ty1 + 1)]
                                  FOR xi IN range(tx0, tx1 + 1)])) AS tx,
                  unnest(flatten([[yi FOR yi IN range(ty0, ty1 + 1)]
                                  FOR xi IN range(tx0, tx1 + 1)])) AS ty
           FROM t),
         b AS (
           SELECT rid, 5764607523034234880 + tx * 536870912 + ty AS tile_id,
                  minx, miny, maxx, maxy,
                  CAST(tx AS DOUBLE) * 32.0 AS txmin,
                  CAST(1048575 - ty AS DOUBLE) * 32.0 AS tymin
           FROM e)
         SELECT rid, tile_id,
                CASE WHEN (maxx - minx) * (maxy - miny) > 0.0::DOUBLE
                     THEN GREATEST(0.0::DOUBLE, LEAST(maxx, txmin + 32.0) - GREATEST(minx, txmin))
                        * GREATEST(0.0::DOUBLE, LEAST(maxy, tymin + 32.0) - GREATEST(miny, tymin))
                        / ((maxx - minx) * (maxy - miny))
                     ELSE 0.0::DOUBLE END AS frac
         FROM b""",
    "q47_z_encode" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")} FROM events),
         idx AS (
           SELECT event_id,
                  CAST(floor(x / 33554432.0 * 262144) AS BIGINT) AS ix,
                  CAST(floor(y / 33554432.0 * 262144) AS BIGINT) AS iy
           FROM pts)
         SELECT event_id,
                (CAST(list_sum([(((ix >> b) & 1) << (2*b)) + (((iy >> b) & 1) << (2*b + 1))
                                FOR b IN range(0, 18)]) AS BIGINT) << 6) | 18 AS cell
         FROM idx""",
    "q48_pivot" ->
      """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS n_click,
                count(*) FILTER (event_type = 'view') AS n_view,
                count(*) FILTER (event_type = 'signup') AS n_signup,
                count(*) FILTER (event_type = 'purchase') AS n_purchase,
                count(*) FILTER (event_type = 'error') AS n_error
         FROM events GROUP BY 1""",
    "q49_moment_stats" ->
      """WITH v AS (
           SELECT l_returnflag,
                  CAST(l_quantity AS BIGINT) AS qv,
                  CAST(round(l_discount * 100) AS BIGINT) AS dv
           FROM lineitem),
         m AS (
           SELECT l_returnflag,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(qv) AS BIGINT) AS sq, CAST(sum(qv * qv) AS BIGINT) AS sqq,
                  CAST(sum(dv) AS BIGINT) AS sd, CAST(sum(dv * dv) AS BIGINT) AS sdd,
                  CAST(sum(qv * dv) AS BIGINT) AS sqd
           FROM v GROUP BY 1)
         SELECT l_returnflag, n,
                CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
                sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1.0)) AS std_q,
                (CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
                / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS corr_qd
         FROM m""",
    "q50_vec_norm" ->
      """SELECT vec_id,
                list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm2,
                abs(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) - 1.0) < 0.00001 AS is_unit
         FROM embeddings""",
    "q51_cube" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                sum(l_quantity) AS sum_qty, count(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q52_rank_dist" ->
      """SELECT user_id, event_id,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM events WHERE user_id %% 5 = 0
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",
    "q53_semi_exists" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '1995-01-01'
                         AND o_orderdate < TIMESTAMP '1996-01-01')""",
    "q54_unpivot" ->
      """SELECT l_orderkey, 'quantity' AS metric, l_quantity AS val
         FROM lineitem WHERE l_orderkey < 1000
         UNION ALL
         SELECT l_orderkey, 'discount', l_discount FROM lineitem WHERE l_orderkey < 1000
         UNION ALL
         SELECT l_orderkey, 'tax', l_tax FROM lineitem WHERE l_orderkey < 1000""",
    "q55_seq_pack" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
                  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n,
                  (doc_id %% 8 + 8) %% 8 AS shard
           FROM documents WHERE doc_id IS NOT NULL),
         d AS (
           SELECT shard, doc_id, n,
                  row_number() OVER (PARTITION BY shard ORDER BY doc_id, n) AS rn
           FROM base),
         walk AS (
           SELECT shard, doc_id, n, rn, CAST(0 AS BIGINT) AS seq, n AS run
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.shard, d.doc_id, d.n, d.rn,
                  CASE WHEN w.run + d.n > 200 THEN w.seq + 1 ELSE w.seq END,
                  CASE WHEN w.run + d.n > 200 THEN d.n ELSE w.run + d.n END
           FROM d JOIN walk w ON d.shard = w.shard AND d.rn = w.rn + 1)
         SELECT shard, doc_id, n AS n_tokens, seq AS seq_id FROM walk""",
    "q56_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS s
           FROM toks WHERE len(w) >= 3),
         ev AS (SELECT DISTINCT s FROM sh WHERE doc_id %% 23 = 0),
         per AS (
           SELECT doc_id, count(DISTINCT s) AS n_shingles,
                  count(DISTINCT s) FILTER (WHERE s IN (SELECT s FROM ev)) AS n_hit
           FROM sh GROUP BY 1)
         SELECT d.doc_id,
                coalesce(per.n_shingles, 0) AS n_shingles,
                coalesce(per.n_hit, 0) AS n_hit,
                CASE WHEN coalesce(per.n_shingles, 0) > 0
                     THEN CAST(per.n_hit AS DOUBLE) / CAST(per.n_shingles AS DOUBLE)
                     ELSE 0.0::DOUBLE END AS frac
         FROM documents d LEFT JOIN per USING (doc_id)""",
    "q57_redact" ->
      """WITH pii AS (
           SELECT doc_id,
                  CASE WHEN doc_id %% 7 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
                       WHEN doc_id %% 11 = 0 THEN text || ' call +49 30 ' || doc_id || ' 1234'
                       ELSE text END AS text
           FROM documents),
         red AS (
           SELECT doc_id, text,
                  regexp_replace(
                    regexp_replace(text, '[A-Za-z0-9._%%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
                    '\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS clean
           FROM pii)
         SELECT doc_id, clean, clean <> text AS changed FROM red""",
    "q58_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(w) >= 3
                       THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
                       ELSE [] END AS grams
           FROM toks)
         SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
                CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
                CASE WHEN len(grams) > 0
                     THEN 1.0::DOUBLE - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
                     ELSE 0.0::DOUBLE END AS rep_frac
         FROM g""",
    "q60_gopher_rules" ->
      """WITH inj AS (
           SELECT doc_id,
                  CASE WHEN doc_id %% 5 = 0
                       THEN substring(COALESCE(text, ''), 1, 40) || chr(10) ||
                            substring(COALESCE(text, ''), 1, 40) || chr(10) ||
                            '• bullet point' || chr(10) || 'trailing #tag and dots...'
                       WHEN doc_id %% 7 = 0
                       THEN substring(COALESCE(text, ''), 1, 60) || chr(10) ||
                            '- item one' || chr(10) || '- item two' || chr(10) || '… done…'
                       ELSE COALESCE(text, '') END AS t
           FROM documents),
         lx AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM inj)
         SELECT doc_id,
                CAST(len(lines) AS INT) AS n_lines,
                CASE WHEN len(lines) > 1
                     THEN 1.0::DOUBLE - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE)
                     ELSE 0.0::DOUBLE END AS dup_line_frac,
                CASE WHEN len(lines) > 1 AND length(array_to_string(lines, '')) > 0
                     THEN 1.0::DOUBLE - CAST(length(array_to_string(list_distinct(lines), '')) AS DOUBLE)
                          / CAST(length(array_to_string(lines, '')) AS DOUBLE)
                     ELSE 0.0::DOUBLE END AS dup_char_frac,
                CAST(len(regexp_extract_all(t, '#|\.\.\.|…')) AS DOUBLE)
                  / CAST(len(string_split(t, ' ')) AS DOUBLE) AS symbol_ratio,
                CAST(len(regexp_extract_all(t, '(?m)^[-*•]')) AS DOUBLE)
                  / CAST(len(lines) AS DOUBLE) AS bullet_line_frac,
                CAST(len(regexp_extract_all(t, '(?m)(\.\.\.|…)$')) AS DOUBLE)
                  / CAST(len(lines) AS DOUBLE) AS ellipsis_line_frac
         FROM lx""",
    "q72_hilbert_cells" ->
      """WITH RECURSIVE pts AS (
           SELECT CAST(p_partkey AS BIGINT) AS key,
                  CAST((p_partkey * 7 + 13) %% 1024 AS BIGINT) AS ix,
                  CAST((p_partkey * 11 + 5) %% 1024 AS BIGINT) AS iy
           FROM part),
         walk(key, x, y, d, s) AS (
           SELECT key, ix, iy, CAST(0 AS BIGINT), CAST(512 AS BIGINT) FROM pts
           UNION ALL
           SELECT key,
             CASE WHEN (y & s) = 0
                  THEN CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END
                  ELSE x END,
             CASE WHEN (y & s) = 0
                  THEN CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END
                  ELSE y END,
             d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
                             CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
             s // 2
           FROM walk WHERE s > 0)
         SELECT key, d * 64 + 10 AS cell FROM walk WHERE s = 0""",
    "q74_lm_coverage" ->
      """WITH rt AS (SELECT string_split(lower(text), ' ') AS w
                     FROM documents WHERE doc_id %% 3 = 0),
         rg AS (SELECT unnest(CASE WHEN len(w) >= 2
                  THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                  ELSE [] END) AS gram FROM rt),
         rc AS (SELECT gram, count(*) AS cnt FROM rg GROUP BY 1),
         top AS (SELECT gram FROM (
                   SELECT gram, row_number() OVER (ORDER BY cnt DESC, gram ASC) AS rn
                   FROM rc) WHERE rn <= 64),
         dt AS (SELECT doc_id, string_split(lower(COALESCE(text, '')), ' ') AS w
                FROM documents),
         dg AS (SELECT doc_id,
                  unnest(CASE WHEN len(w) >= 2
                    THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                    ELSE [] END) AS gram
                FROM dt),
         sc AS (SELECT dg.doc_id, count(*) AS n_grams,
                       count(top.gram) AS n_hits
                FROM dg LEFT JOIN top ON dg.gram = top.gram
                GROUP BY 1)
         SELECT d.doc_id,
                CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(COALESCE(sc.n_hits, 0) AS BIGINT) AS n_hits,
                CASE WHEN COALESCE(sc.n_grams, 0) > 0
                     THEN CAST(sc.n_hits AS DOUBLE) / CAST(sc.n_grams AS DOUBLE)
                     ELSE 0.0::DOUBLE END AS coverage
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
    "q71_domain_cap" ->
      """WITH u AS (SELECT doc_id, lang,
                  'https://www.site' || CAST(doc_id %% 37 AS VARCHAR) || '.example.org/' ||
                  lang || '/' || CAST(doc_id AS VARCHAR) AS url
                   FROM documents),
         h AS (SELECT doc_id,
                      regexp_replace(regexp_extract(lower(url),
                        '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '^www\.', '') AS domain,
                      md5(CAST(doc_id AS VARCHAR) || 'dom') || '#' ||
                        CAST(doc_id AS VARCHAR) AS rk
               FROM u),
         r AS (SELECT doc_id, domain,
                      row_number() OVER (PARTITION BY domain ORDER BY rk) AS rn
               FROM h)
         SELECT doc_id, domain FROM r WHERE rn <= 10""",
    "q70_sessionize" ->
      """WITH x AS (SELECT user_id, ts, epoch_us(ts) AS tus,
                           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                    FROM events),
         f AS (SELECT user_id, ts, tus,
                      CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS ns
               FROM x),
         s AS (SELECT user_id, ts, tus,
                      sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS seq
               FROM f)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                CAST(max(tus) - min(tus) AS BIGINT) AS duration_us
         FROM s GROUP BY user_id, seq""",
    "q69_c4_rules" ->
      """WITH inj AS (
           SELECT doc_id,
                  CASE WHEN doc_id %% 4 = 0
                       THEN substring(COALESCE(text, ''), 1, 40) || ' stays right here.' || chr(10) ||
                            'tiny.' || chr(10) ||
                            'this line mentions javascript libraries.' || chr(10) ||
                            'no terminal punctuation on this line'
                       WHEN doc_id %% 9 = 0
                       THEN COALESCE(text, '') || chr(10) || 'lorem ipsum dolor sit { amet?'
                       ELSE COALESCE(text, '') END AS t
           FROM documents),
         lx AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM inj)
         SELECT doc_id,
                COALESCE(array_to_string([l FOR l IN lines IF regexp_matches(l, '[.!?"]$')
                                 AND len([w FOR w IN string_split(l, ' ') IF w <> '']) >= 3
                                 AND NOT contains(lower(l), 'javascript')], chr(10)), '') AS clean_text,
                CAST(len(lines) AS INT) AS n_lines,
                CAST(len([l FOR l IN lines IF regexp_matches(l, '[.!?"]$')
                          AND len([w FOR w IN string_split(l, ' ') IF w <> '']) >= 3
                          AND NOT contains(lower(l), 'javascript')]) AS INT) AS n_kept,
                CAST(len([l FOR l IN lines IF regexp_matches(l, '[.!?"]$')]) AS INT) AS n_terminal,
                CAST(len([l FOR l IN lines
                          IF len([w FOR w IN string_split(l, ' ') IF w <> '']) < 3]) AS INT) AS n_short,
                contains(lower(t), 'lorem ipsum') AS has_lorem,
                contains(t, '{') AS has_brace,
                CAST(len(regexp_extract_all(t, '[.!?]')) AS INT) AS n_sentences
         FROM lx""",
    "q61_top_ngram_mass" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(w) >= 2
                       THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                       ELSE [] END AS grams
           FROM toks),
         e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY 1, 2),
         r AS (SELECT doc_id, gram, cnt,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn,
                      sum(cnt) OVER (PARTITION BY doc_id) AS total
               FROM c)
         SELECT d.doc_id, r.gram AS top_gram, CAST(r.cnt AS BIGINT) AS top_cnt,
                CASE WHEN r.cnt IS NOT NULL
                     THEN LEAST(1.0::DOUBLE,
                          CAST(r.cnt AS DOUBLE) * 2.0::DOUBLE
                          / (CAST(r.total AS DOUBLE) + 1.0::DOUBLE))
                     ELSE 0.0::DOUBLE END AS frac
         FROM documents d
         LEFT JOIN (SELECT * FROM r WHERE rn = 1) r ON d.doc_id = r.doc_id""",
    "q65_token_budget" ->
      """WITH h AS (SELECT doc_id, source,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                           md5(CAST(doc_id AS VARCHAR) || 'mix') AS hx
                    FROM documents),
         b AS (SELECT source, toks,
                 CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
                      (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
                      (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
                      (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS DOUBLE)
                 < CASE WHEN source = 'src0' THEN 0.5::DOUBLE
                        WHEN source = 'src7' THEN 0.25::DOUBLE
                        WHEN source = 'src19' THEN 0.0::DOUBLE
                        ELSE 1.0::DOUBLE END * 65536.0::DOUBLE AS keep
               FROM h)
         SELECT source, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS n_tokens,
                count(CASE WHEN keep THEN 1 END) AS eff_docs,
                CAST(sum(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT) AS eff_tokens
         FROM b GROUP BY 1""",
    "q64_paragraph_dedup" ->
      """WITH inj AS (
           SELECT doc_id,
                  CASE WHEN doc_id %% 3 = 0
                       THEN substring(COALESCE(text, ''), 1, 50) || chr(10) ||
                            'all rights reserved contact the site admin for details' ||
                            chr(10) || substring(COALESCE(text, ''), 51, 50)
                       ELSE COALESCE(text, '') END AS t
           FROM documents),
         lx AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM inj),
         p AS (SELECT doc_id,
                      unnest([i FOR i IN range(0, len(lines))]) AS pos,
                      unnest(lines) AS para
               FROM lx),
         k AS (SELECT doc_id, pos, para,
                      CASE WHEN trim(para) = '' THEN 1
                           ELSE row_number() OVER (PARTITION BY para ORDER BY doc_id, pos)
                      END AS rn
               FROM p),
         re AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
                       count(*) AS n_kept
                FROM k WHERE rn = 1 GROUP BY 1)
         SELECT l.doc_id, COALESCE(re.text, '') AS text,
                CAST(len(l.lines) AS INT) AS n_paras,
                CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept
         FROM lx l LEFT JOIN re ON l.doc_id = re.doc_id""",
    "q68_weighted_sssp" ->
      """WITH RECURSIVE e AS (
           SELECT CAST(p_partkey %% 40 AS BIGINT) AS src,
                  CAST((p_partkey * 7 + (p_partkey // 40) * 11 + 3) %% 40 AS BIGINT) AS dst,
                  CAST(p_partkey %% 13 + 1 AS BIGINT) AS w
           FROM part WHERE p_partkey < 300),
         walk(node, dist, depth) AS (
           SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist, 0 AS depth
           UNION
           SELECT e.dst, walk.dist + e.w, walk.depth + 1
           FROM walk JOIN e ON walk.node = e.src
           WHERE walk.depth < 45)
         SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node""",
    "q67_ring_measures" ->
      """WITH p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id,
                  CAST(p_partkey %% 10 AS DOUBLE) * 4.0::DOUBLE AS cx,
                  CAST((p_partkey // 10) AS DOUBLE) * 4.0::DOUBLE AS cy,
                  1.0::DOUBLE + CAST(p_partkey %% 4 AS DOUBLE) * 0.5::DOUBLE AS w,
                  1.0::DOUBLE + CAST((p_partkey // 4) %% 4 AS DOUBLE) * 0.25::DOUBLE AS h
           FROM part WHERE p_partkey < 200),
         v AS (SELECT poly_id,
                 [cx, cx + w, cx + w, cx + w * 0.5::DOUBLE, cx + w * 0.5::DOUBLE, cx] AS xs,
                 [cy, cy, cy + h * 0.5::DOUBLE, cy + h * 0.5::DOUBLE, cy + h, cy + h] AS ys
               FROM p),
         s AS (SELECT poly_id,
                 list_sum([xs[i] * ys[(i %% len(xs)) + 1] - xs[(i %% len(xs)) + 1] * ys[i]
                           FOR i IN range(1, len(xs) + 1)]) AS ss,
                 list_sum([(xs[i] + xs[(i %% len(xs)) + 1]) *
                           (xs[i] * ys[(i %% len(xs)) + 1] - xs[(i %% len(xs)) + 1] * ys[i])
                           FOR i IN range(1, len(xs) + 1)]) AS sx,
                 list_sum([(ys[i] + ys[(i %% len(xs)) + 1]) *
                           (xs[i] * ys[(i %% len(xs)) + 1] - xs[(i %% len(xs)) + 1] * ys[i])
                           FOR i IN range(1, len(xs) + 1)]) AS sy
               FROM v)
         SELECT poly_id, abs(ss) * 0.5::DOUBLE AS area,
                sx / (ss * 3.0::DOUBLE) AS cx, sy / (ss * 3.0::DOUBLE) AS cy
         FROM s""",
    "q93_convex_hull" ->
      """WITH RECURSIVE p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id, CAST(p_partkey AS BIGINT) AS pk
           FROM part WHERE p_partkey < 200),
         pts0 AS (
           SELECT poly_id,
             unnest([CAST((pk*3 + j*7) %% 16 AS DOUBLE) FOR j IN range(0,16)]) AS x,
             unnest([CAST((pk*5 + j*11) %% 16 AS DOUBLE) FOR j IN range(0,16)]) AS y
           FROM p),
         srt AS (
           SELECT poly_id, list(x ORDER BY x, y) AS xs, list(y ORDER BY x, y) AS ys,
                  CAST(count(*) AS INT) AS m
           FROM (SELECT DISTINCT poly_id, x, y FROM pts0) GROUP BY 1),
         step AS (
           SELECT poly_id, xs, ys, m, 1 AS i, 0 AS t,
                  CAST([] AS DOUBLE[]) AS hx, CAST([] AS DOUBLE[]) AS hy
           FROM srt
           UNION ALL
           SELECT poly_id, xs, ys, m,
             CASE WHEN sw THEN m - 1 WHEN pop THEN i WHEN t = 0 THEN i + 1 ELSE i - 1 END,
             CASE WHEN sw THEN CAST(len(hx) + 1 AS INT) ELSE t END,
             CASE WHEN sw THEN hx WHEN pop THEN hx[1:len(hx)-1] ELSE list_append(hx, xs[i]) END,
             CASE WHEN sw THEN hy WHEN pop THEN hy[1:len(hy)-1] ELSE list_append(hy, ys[i]) END
           FROM (
             SELECT *, (t = 0 AND i > m) AS sw,
               ((NOT (t = 0 AND i > m)) AND len(hx) >= (CASE WHEN t = 0 THEN 2 ELSE t END)
                 AND ((hx[len(hx)] - hx[len(hx)-1]) * (ys[i] - hy[len(hx)-1])
                    - (hy[len(hx)] - hy[len(hx)-1]) * (xs[i] - hx[len(hx)-1])) <= 0.0::DOUBLE) AS pop
             FROM step WHERE NOT (t > 0 AND i = 0)) s)
         SELECT poly_id, CAST(len(hx) - 1 AS INT) AS n_hull,
           array_to_string([CAST(hx[i] AS INT) || ':' || CAST(hy[i] AS INT)
                            FOR i IN range(1, len(hx))], ';') AS hull,
           abs(list_sum([hx[i] * hy[(i %% (len(hx)-1)) + 1] - hx[(i %% (len(hx)-1)) + 1] * hy[i]
                         FOR i IN range(1, len(hx))])) * 0.5::DOUBLE AS hull_area
         FROM step WHERE t > 0 AND i = 0""",
    "q101_aspect_batches" ->
      """WITH imgs AS (
           SELECT doc_id AS img_id,
                  256 + (doc_id * 37) %% 768 AS w,
                  256 + (doc_id * 53) %% 768 AS h
           FROM documents),
         b AS (SELECT img_id, LEAST(8, (w * 4) // h) AS bucket FROM imgs),
         r AS (SELECT img_id, bucket,
                 (row_number() OVER (PARTITION BY bucket ORDER BY img_id) - 1) // 16
                   AS batch_idx
               FROM b)
         SELECT CAST(bucket AS BIGINT) AS bucket, CAST(batch_idx AS BIGINT) AS batch_idx,
                CAST(count(*) AS BIGINT) AS n_imgs,
                CAST(min(img_id) AS BIGINT) AS first_img,
                CAST(max(img_id) AS BIGINT) AS last_img
         FROM r GROUP BY 1, 2""",
    "q100_track_simplify" ->
      s"""WITH RECURSIVE pts AS (
           SELECT event_id, user_id, ts, ${xySql.replace("%ID%", "event_id")}
           FROM events),
         v AS (SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
                      list(y ORDER BY ts, event_id) AS ys
               FROM pts GROUP BY 1),
         seg AS (
           SELECT user_id, xs, ys, 1 AS i, CAST(len(xs) AS INT) AS j FROM v
           UNION ALL
           SELECT user_id, xs, ys, a AS i, b AS j
           FROM (
             SELECT user_id, xs, ys,
               unnest(CASE WHEN mx > 36.0::DOUBLE * len2 THEN [i, kk] ELSE [] END) AS a,
               unnest(CASE WHEN mx > 36.0::DOUBLE * len2 THEN [kk, j] ELSE [] END) AS b
             FROM (
               SELECT *, CAST(i + list_position(cr, list_max(cr)) AS INT) AS kk,
                      list_max(cr) AS mx
               FROM (
                 SELECT *,
                   [c * c FOR c IN
                     [(xs[j]-xs[i]) * (ys[m]-ys[i]) - (ys[j]-ys[i]) * (xs[m]-xs[i])
                      FOR m IN range(i+1, j)]] AS cr,
                   (xs[j]-xs[i]) * (xs[j]-xs[i]) + (ys[j]-ys[i]) * (ys[j]-ys[i]) AS len2
                 FROM seg WHERE j > i + 1) s1) s2) s3),
         kept AS (SELECT DISTINCT user_id, idx FROM (
           SELECT user_id, i AS idx FROM seg UNION ALL SELECT user_id, j FROM seg) u),
         g AS (SELECT user_id, list(idx - 1 ORDER BY idx) AS ks FROM kept GROUP BY 1)
         SELECT g.user_id, CAST(len(v.xs) AS INT) AS n_pings, CAST(len(ks) AS INT) AS n_kept,
                array_to_string(ks, ',') AS kept
         FROM g JOIN v ON v.user_id = g.user_id""",
    "q99_url_canon" ->
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://Src' || (doc_id %% 2) || '.Example.COM/Page/' || ((doc_id // 2) %% 5) ||
             CASE doc_id %% 3
               WHEN 0 THEN '?utm_source=feed&q=' || ((doc_id // 10) %% 2) || '#frag'
               WHEN 1 THEN '/?q=' || ((doc_id // 10) %% 2) || '&utm_campaign=x'
               ELSE '?q=' || ((doc_id // 10) %% 2) || '#sec' END AS url
           FROM documents),
         nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
         parts AS (SELECT doc_id,
             lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?]*)', 1) AS rawpath,
             regexp_extract(nofrag, '\?(.*)$', 1) AS query0
           FROM nf),
         canon AS (SELECT doc_id,
             scheme || '://' || host ||
             (CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
                   ELSE regexp_replace(rawpath, '/+$', '') END) ||
             (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url
           FROM (SELECT *, array_to_string(list_sort(
                   list_filter(string_split(query0, '&'),
                     p -> len(p) > 0 AND NOT regexp_matches(p, '^(utm_|fbclid|gclid)'))), '&') AS q
                 FROM parts))
         SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dups,
                CAST(min(doc_id) AS BIGINT) AS keeper
         FROM canon GROUP BY 1""",
    "q97_od_flows" ->
      s"""WITH pts AS (SELECT event_id, user_id, ts,
                  ${xySql.replace("%ID%", "event_id")}
           FROM events),
         polys AS (
           SELECT p_partkey AS pid,
                  457840.0 + (CAST(p_partkey %% 10 AS DOUBLE) * 1.6) + 0.205 AS minx,
                  5439081.0 + (CAST(p_partkey // 10 AS DOUBLE) * 1.4) + 0.105 AS miny
           FROM part WHERE p_partkey < 100),
         hits AS (SELECT user_id, ts, event_id, 'b' || pid AS feature_id
                  FROM pts JOIN polys
                    ON x >= minx AND x <= minx + 1.19 AND y >= miny AND y <= miny + 1.19),
         lagd AS (SELECT user_id, ts, event_id, feature_id,
                    lag(feature_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                  FROM hits),
         st AS (SELECT * FROM lagd WHERE prev IS NULL OR prev <> feature_id),
         od AS (SELECT user_id, feature_id,
                  lag(feature_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_fid
                FROM st)
         SELECT from_fid, feature_id AS to_fid, CAST(count(*) AS BIGINT) AS trips
         FROM od WHERE from_fid IS NOT NULL GROUP BY 1, 2""",
    "q98_tile_pyramid" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")}
           FROM events),
         base AS (
           SELECT 7493989779944505344 +
                  CAST(floor(x / 33554432.0 * 67108864) AS BIGINT) * 536870912 +
                  (67108863 - CAST(floor(y / 33554432.0 * 67108864) AS BIGINT)) AS tid,
                  CAST(count(*) AS BIGINT) AS c
           FROM pts GROUP BY 1),
         lv AS (SELECT l.lvl, c,
                  ((26 - l.lvl)::BIGINT << 58) +
                  (((tid >> (29 + l.lvl)) & (536870911 >> l.lvl)) << 29) +
                  ((tid & 536870911) >> l.lvl) AS tile_id
                FROM base, (VALUES (0),(1),(2),(3)) l(lvl))
         SELECT lvl, tile_id, CAST(sum(c) AS BIGINT) AS n_points
         FROM lv GROUP BY 1, 2""",
    "q96_kde_heatmap" ->
      s"""WITH pts AS (SELECT event_id, ${xySql.replace("%ID%", "event_id")}
           FROM events),
         e AS (SELECT x, y,
                 CAST(floor((x - 457840.0) / 1.6::DOUBLE) AS BIGINT) + dxs.dx AS cell_x,
                 CAST(floor((y - 5439081.0) / 1.6::DOUBLE) AS BIGINT) + dys.dy AS cell_y
               FROM pts, (VALUES (-1),(0),(1)) dxs(dx), (VALUES (-1),(0),(1)) dys(dy)),
         t2 AS (SELECT cell_x, cell_y,
                  x - (457840.0 + (CAST(cell_x AS DOUBLE) + 0.5::DOUBLE) * 1.6::DOUBLE) AS ex,
                  y - (5439081.0 + (CAST(cell_y AS DOUBLE) + 0.5::DOUBLE) * 1.6::DOUBLE) AS ey
                FROM e),
         t3 AS (SELECT cell_x, cell_y, ex*ex + ey*ey AS d2 FROM t2
                WHERE ex*ex + ey*ey < 2.56::DOUBLE)
         SELECT cell_x, cell_y, CAST(count(*) AS BIGINT) AS n_pts,
                list_sum(list_sort(list(1.0::DOUBLE - d2 / 2.56::DOUBLE))) AS density
         FROM t3 GROUP BY 1, 2""",
    "q95_simplify_dp" ->
      """WITH RECURSIVE p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id, CAST(p_partkey AS BIGINT) AS pk
           FROM part WHERE p_partkey < 200),
         v AS (SELECT poly_id,
                 [CAST(j AS DOUBLE) FOR j IN range(0, 12)] AS xs,
                 [CAST((pk*7 + j*j*3) %% 5 AS DOUBLE) FOR j IN range(0, 12)] AS ys
               FROM p),
         seg AS (
           SELECT poly_id, xs, ys, 1 AS i, 12 AS j FROM v
           UNION ALL
           SELECT poly_id, xs, ys, a AS i, b AS j
           FROM (
             SELECT poly_id, xs, ys,
               unnest(CASE WHEN mx > 1.44::DOUBLE * len2 THEN [i, kk] ELSE [] END) AS a,
               unnest(CASE WHEN mx > 1.44::DOUBLE * len2 THEN [kk, j] ELSE [] END) AS b
             FROM (
               SELECT *, CAST(i + list_position(cr, list_max(cr)) AS INT) AS kk,
                      list_max(cr) AS mx
               FROM (
                 SELECT *,
                   [c * c FOR c IN
                     [(xs[j]-xs[i]) * (ys[m]-ys[i]) - (ys[j]-ys[i]) * (xs[m]-xs[i])
                      FOR m IN range(i+1, j)]] AS cr,
                   (xs[j]-xs[i]) * (xs[j]-xs[i]) + (ys[j]-ys[i]) * (ys[j]-ys[i]) AS len2
                 FROM seg WHERE j > i + 1) s1) s2) s3),
         kept AS (SELECT DISTINCT poly_id, idx FROM (
           SELECT poly_id, i AS idx FROM seg UNION ALL SELECT poly_id, j FROM seg) u),
         g AS (SELECT poly_id, list(idx - 1 ORDER BY idx) AS ks FROM kept GROUP BY 1)
         SELECT poly_id, CAST(len(ks) AS INT) AS n_kept, array_to_string(ks, ',') AS kept
         FROM g""",
    "q81_simplify" ->
      """WITH RECURSIVE p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id,
                  CAST(p_partkey %% 10 AS DOUBLE) * 4.0::DOUBLE AS cx,
                  CAST((p_partkey // 10) AS DOUBLE) * 4.0::DOUBLE AS cy,
                  1.0::DOUBLE + CAST(p_partkey %% 4 AS DOUBLE) * 0.5::DOUBLE AS w,
                  1.0::DOUBLE + CAST((p_partkey // 4) %% 4 AS DOUBLE) * 0.25::DOUBLE AS h
           FROM part WHERE p_partkey < 200),
         v AS (SELECT poly_id,
                 [cx, cx + w, cx + w, cx + w * 0.5::DOUBLE, cx + w * 0.5::DOUBLE, cx] AS xs,
                 [cy, cy, cy + h * 0.5::DOUBLE, cy + h * 0.5::DOUBLE, cy + h, cy + h] AS ys
               FROM p),
         step AS (
           SELECT poly_id, xs, ys, 1 AS i, xs[1] AS lx, ys[1] AS ly,
                  [CAST(0 AS INT)] AS kept
           FROM v
           UNION ALL
           SELECT poly_id, xs, ys, i + 1,
                  CASE WHEN keepit THEN xs[i+1] ELSE lx END,
                  CASE WHEN keepit THEN ys[i+1] ELSE ly END,
                  CASE WHEN keepit THEN list_append(kept, CAST(i AS INT)) ELSE kept END
           FROM (SELECT *,
                   ((xs[i+1] - lx) * (xs[i+1] - lx) + (ys[i+1] - ly) * (ys[i+1] - ly))
                     >= 0.36::DOUBLE AS keepit
                 FROM step WHERE i < len(xs)) s)
         SELECT poly_id, CAST(len(kept) AS INT) AS n_kept,
                array_to_string(kept, ',') AS kept
         FROM step WHERE i = len(xs)""",
    "q78_ring_audit" ->
      """WITH p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id,
                  CAST(p_partkey %% 4 AS BIGINT) AS m,
                  CAST(p_partkey %% 10 AS DOUBLE) * 4.0::DOUBLE AS cx,
                  CAST((p_partkey // 10) AS DOUBLE) * 4.0::DOUBLE AS cy,
                  1.0::DOUBLE + CAST(p_partkey %% 4 AS DOUBLE) * 0.5::DOUBLE AS w,
                  1.0::DOUBLE + CAST((p_partkey // 4) %% 4 AS DOUBLE) * 0.25::DOUBLE AS h
           FROM part WHERE p_partkey < 200),
         v0 AS (SELECT poly_id, m, cx, cy,
                 [cx, cx + w, cx + w, cx + w * 0.5::DOUBLE, cx + w * 0.5::DOUBLE, cx] AS xs0,
                 [cy, cy, cy + h * 0.5::DOUBLE, cy + h * 0.5::DOUBLE, cy + h, cy + h] AS ys0
                FROM p),
         v AS (SELECT poly_id,
                 CASE WHEN m = 1 THEN list_reverse(xs0)
                      WHEN m = 3 THEN list_append(xs0, cx) ELSE xs0 END AS xs,
                 CASE WHEN m = 1 THEN list_reverse(ys0)
                      WHEN m = 2 THEN [cy, cy, cy, cy, cy, cy]
                      WHEN m = 3 THEN list_append(ys0, cy) ELSE ys0 END AS ys
               FROM v0),
         s AS (SELECT poly_id, xs, ys,
                 list_sum([xs[i] * ys[(i %% len(xs)) + 1] - xs[(i %% len(xs)) + 1] * ys[i]
                           FOR i IN range(1, len(xs) + 1)]) * 0.5::DOUBLE AS sa,
                 (xs[1] = xs[-1] AND ys[1] = ys[-1]) AS closed
               FROM v)
         SELECT poly_id, CAST(len(xs) AS INT) AS n_pts, closed,
                sa AS signed_area,
                CASE WHEN sa > 0.0::DOUBLE THEN 'ccw' WHEN sa < 0.0::DOUBLE THEN 'cw'
                     ELSE 'degenerate' END AS orientation,
                ((CAST(len(xs) AS INT) - CASE WHEN closed THEN 1 ELSE 0 END) >= 3
                 AND sa <> 0.0::DOUBLE) AS valid
         FROM s""",
    "q73_ring_perimeter" ->
      """WITH p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id,
                  CAST(p_partkey %% 10 AS DOUBLE) * 4.0::DOUBLE AS cx,
                  CAST((p_partkey // 10) AS DOUBLE) * 4.0::DOUBLE AS cy,
                  1.0::DOUBLE + CAST(p_partkey %% 4 AS DOUBLE) * 0.5::DOUBLE AS w,
                  1.0::DOUBLE + CAST((p_partkey // 4) %% 4 AS DOUBLE) * 0.25::DOUBLE AS h
           FROM part WHERE p_partkey < 200),
         v AS (SELECT poly_id,
                 [cx, cx + w, cx + w, cx + w * 0.5::DOUBLE, cx + w * 0.5::DOUBLE, cx] AS xs,
                 [cy, cy, cy + h * 0.5::DOUBLE, cy + h * 0.5::DOUBLE, cy + h, cy + h] AS ys
               FROM p)
         SELECT poly_id,
                list_sum(list_sort(
                  [sqrt((xs[(i %% len(xs)) + 1] - xs[i]) * (xs[(i %% len(xs)) + 1] - xs[i]) +
                        (ys[(i %% len(xs)) + 1] - ys[i]) * (ys[(i %% len(xs)) + 1] - ys[i]))
                   FOR i IN range(1, len(xs) + 1)])) AS perimeter
         FROM v""",
    "q75_ring_distance" ->
      """WITH p AS (
           SELECT CAST(p_partkey AS BIGINT) AS poly_id,
                  CAST(p_partkey %% 10 AS DOUBLE) * 4.0::DOUBLE AS cx,
                  CAST((p_partkey // 10) AS DOUBLE) * 4.0::DOUBLE AS cy,
                  1.0::DOUBLE + CAST(p_partkey %% 4 AS DOUBLE) * 0.5::DOUBLE AS w,
                  1.0::DOUBLE + CAST((p_partkey // 4) %% 4 AS DOUBLE) * 0.25::DOUBLE AS h,
                  CAST(p_partkey %% 8 AS DOUBLE) * 0.375::DOUBLE - 0.75::DOUBLE AS pox,
                  CAST(p_partkey %% 5 AS DOUBLE) * 0.4375::DOUBLE - 0.5::DOUBLE AS poy
           FROM part WHERE p_partkey < 200),
         v AS (SELECT poly_id, cx + pox AS px, cy + poy AS py,
                 [cx, cx + w, cx + w, cx + w * 0.5::DOUBLE, cx + w * 0.5::DOUBLE, cx] AS xs,
                 [cy, cy, cy + h * 0.5::DOUBLE, cy + h * 0.5::DOUBLE, cy + h, cy + h] AS ys
               FROM p),
         e AS (SELECT poly_id, px, py,
                 unnest([xs[i] FOR i IN range(1, 7)]) AS x1,
                 unnest([ys[i] FOR i IN range(1, 7)]) AS y1,
                 unnest([xs[(i %% 6) + 1] FOR i IN range(1, 7)]) AS x2,
                 unnest([ys[(i %% 6) + 1] FOR i IN range(1, 7)]) AS y2
               FROM v),
         t1 AS (SELECT poly_id, px, py, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy FROM e),
         t2 AS (SELECT *, dx * dx + dy * dy AS l2 FROM t1),
         t3 AS (SELECT *, CASE WHEN l2 = 0.0::DOUBLE THEN 0.0::DOUBLE
                               ELSE GREATEST(0.0::DOUBLE, LEAST(1.0::DOUBLE,
                                    ((px - x1) * dx + (py - y1) * dy) / l2)) END AS t
                FROM t2),
         t4 AS (SELECT poly_id, px - (x1 + t * dx) AS ex, py - (y1 + t * dy) AS ey
                FROM t3),
         d AS (SELECT poly_id, min(ex * ex + ey * ey) AS d2 FROM t4 GROUP BY 1)
         SELECT poly_id, d2, sqrt(d2) AS dist FROM d""",
    "q76_norm_text" ->
      """SELECT doc_id,
                trim(regexp_replace(lower(strip_accents(
                  CASE WHEN doc_id %% 3 = 0
                       THEN '  Résumé  Café' || chr(9) || 'Naïve ' || COALESCE(text, '')
                            || ' Ñandú' || chr(1) || 'über' || chr(7) || ' FAÇADE  '
                       ELSE COALESCE(text, '') END)),
                  '[\x00-\x20\x7f]+', ' ', 'g')) AS norm
         FROM documents""",
    "q80_track_length" ->
      s"""WITH pts AS (SELECT event_id, user_id, ts,
                  ${xySql.replace("%ID%", "event_id")}
           FROM events),
         g AS (SELECT user_id, list(x ORDER BY ts, event_id) AS xs,
                      list(y ORDER BY ts, event_id) AS ys, count(*) AS n
               FROM pts GROUP BY 1),
         e AS (SELECT user_id, n,
                 [sqrt((xs[i+1] - xs[i]) * (xs[i+1] - xs[i]) +
                       (ys[i+1] - ys[i]) * (ys[i+1] - ys[i]))
                  FOR i IN range(1, len(xs))] AS edges
               FROM g)
         SELECT user_id, CAST(n AS INT) AS n_pings,
                COALESCE(list_sum(list_sort(edges)), 0.0::DOUBLE) AS track_len
         FROM e""",
    "q79_chunk_docs" ->
      """WITH tk AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w
                     FROM documents),
         st AS (SELECT doc_id, w,
                  unnest([i FOR i IN range(0, len(w), 6)]) AS strt
                FROM tk)
         SELECT doc_id, CAST(strt // 6 AS INT) AS chunk_idx,
                array_to_string(w[strt+1 : strt+8], ' ') AS chunk_text,
                CAST(len(w[strt+1 : strt+8]) AS INT) AS n_tokens
         FROM st""",
    "q66_span_dedup" ->
      """WITH inj AS (
           SELECT doc_id,
                  CASE WHEN doc_id %% 5 = 0
                       THEN COALESCE(text, '') || ' the standard license footer text appears verbatim at the bottom of every mirrored page'
                       ELSE COALESCE(text, '') END AS t
           FROM documents),
         tk AS (SELECT doc_id, string_split(t, ' ') AS w,
                       string_split(lower(t), ' ') AS lw
                FROM inj),
         g AS (SELECT doc_id,
                 unnest([i FOR i IN range(0, GREATEST(len(w) - 7, 0))]) AS pos,
                 unnest([lw[i+1] || ' ' || lw[i+2] || ' ' || lw[i+3] || ' ' || lw[i+4] || ' ' ||
                         lw[i+5] || ' ' || lw[i+6] || ' ' || lw[i+7] || ' ' || lw[i+8]
                         FOR i IN range(0, GREATEST(len(w) - 7, 0))]) AS gram
               FROM tk),
         d AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY gram) AS c,
                      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
               FROM g),
         cov AS (SELECT DISTINCT doc_id, unnest([pos + j FOR j IN range(0, 8)]) AS tp
                 FROM d WHERE c > 1 AND rn > 1),
         tok AS (SELECT doc_id, unnest([i FOR i IN range(0, len(w))]) AS pos,
                        unnest(w) AS tok
                 FROM tk),
         keep AS (SELECT t1.doc_id, t1.pos, t1.tok
                  FROM tok t1 LEFT JOIN cov ON t1.doc_id = cov.doc_id AND t1.pos = cov.tp
                  WHERE cov.tp IS NULL),
         re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
                       count(*) AS n_kept
                FROM keep GROUP BY 1)
         SELECT k.doc_id, COALESCE(re.text, '') AS text,
                CAST(len(k.w) AS INT) AS n_tokens,
                CAST(len(k.w) - COALESCE(re.n_kept, 0) AS BIGINT) AS n_removed
         FROM tk k LEFT JOIN re ON k.doc_id = re.doc_id""",
    "q63_mixture_sample" ->
      """WITH h AS (SELECT doc_id, source,
                           md5(CAST(doc_id AS VARCHAR) || 'mix') AS hx
                    FROM documents),
         b AS (SELECT doc_id, source,
                 CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
                      (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
                      (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
                      (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS DOUBLE) AS bucket
               FROM h)
         SELECT doc_id, source FROM b
         WHERE bucket < CASE WHEN source = 'src0' THEN 0.5::DOUBLE
                             WHEN source = 'src7' THEN 0.25::DOUBLE
                             WHEN source = 'src19' THEN 0.0::DOUBLE
                             ELSE 1.0::DOUBLE END * 65536.0::DOUBLE""",
    "q62_decontaminate_exact" ->
      """WITH evw AS (SELECT string_split(lower(text), ' ') AS w
                      FROM documents WHERE doc_id %% 23 = 0),
         pass AS (SELECT DISTINCT unnest(CASE WHEN len(w) >= 8
                    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                          w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
                          FOR i IN range(1, len(w) - 6)]
                    ELSE [] END) AS passage FROM evw),
         pa AS (SELECT passage,
                       array_to_string((string_split(passage, ' '))[1:3], ' ') AS gram
                FROM pass),
         tw AS (SELECT doc_id, lower(COALESCE(text, '')) AS lt,
                       string_split(lower(text), ' ') AS w
                FROM documents),
         tg AS (SELECT DISTINCT doc_id,
                       unnest(CASE WHEN len(w) >= 3
                         THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
                         ELSE [] END) AS gram
                FROM tw),
         cand AS (SELECT DISTINCT tg.doc_id, pa.passage FROM tg JOIN pa USING (gram)),
         hits AS (SELECT c.doc_id, count(*) AS n_hit
                  FROM cand c JOIN tw ON c.doc_id = tw.doc_id
                  WHERE position(c.passage IN tw.lt) > 0
                  GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
                COALESCE(h.n_hit, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",
    "q59_bloom_semi" ->
      """SELECT l_orderkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         GROUP BY 1""",
    "q30_distinct_agg" ->
      """SELECT n_name,
                count(DISTINCT c_custkey) AS n_cust,
                count(DISTINCT o_orderpriority) AS n_prio,
                count(CASE WHEN o_totalprice > 100000.0 THEN 1 END) AS big_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",
    "q31_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q32_setops" ->
      """WITH urgent AS (SELECT o_custkey AS ck FROM orders WHERE o_orderpriority = '1-URGENT'),
         high AS (SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000.0)
         SELECT ck FROM (SELECT ck FROM urgent INTERSECT SELECT ck FROM high)
         UNION ALL
         SELECT -ck FROM (SELECT ck FROM high EXCEPT SELECT ck FROM urgent)""",
    "q24_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
                count(*) AS cnt, max(value) AS max_value
         FROM events GROUP BY 1, 2""",
    "q25_sessionize" ->
      """WITH g AS (
           SELECT user_id,
                  epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
           FROM events)
         SELECT user_id,
                CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM g GROUP BY 1"""
  ).map { case (k, v) => k -> v.replace("%%", "%") }
}
