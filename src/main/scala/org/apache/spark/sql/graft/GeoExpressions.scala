/*
 * Lives under org.apache.spark.sql.* because Catalyst's extension surface
 * (AbstractDataType, ExpressionUtils) is private[sql] in Spark 4; this is the
 * standard pattern for third-party expression libraries. Public API wrappers
 * are re-exported from graft.functions.GeoFunctions.
 */
package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.{HexGrid, Tiles, ZGrid}

/**
 * Native Catalyst expressions for the hot encode path (SURVEY.md §2.9): these
 * stay inside whole-stage codegen (doGenCode emits a static call), unlike a
 * Scala UDF which would break the codegen span and pay ser/de per row on the
 * 10^12-row side of the join.
 */
case class HexEncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def nullSafeEval(x: Any, y: Any, r: Any): Any =
    HexGrid.encode(x.asInstanceOf[Double], y.asInstanceOf[Double], r.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, r) => s"graft.core.HexGrid.encode($x, $y, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "hex_encode"
}

case class ZEncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def nullSafeEval(x: Any, y: Any, l: Any): Any =
    ZGrid.encode(x.asInstanceOf[Double], y.asInstanceOf[Double], l.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, l) => s"graft.core.ZGrid.encode($x, $y, $l)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "z_encode"
}

/** Hilbert-curve cell id of a point at `level` ([[graft.core.HilbertGrid]]) —
  * the clustering-order upgrade over z_encode: consecutive ids are always
  * adjacent cells, so clustered layouts fragment less per query window. */
case class HilbertEncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def nullSafeEval(x: Any, y: Any, l: Any): Any =
    graft.core.HilbertGrid.encode(x.asInstanceOf[Double], y.asInstanceOf[Double], l.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, l) => s"graft.core.HilbertGrid.encode($x, $y, $l)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "hilbert_encode"
}

/** WMTS tile id of a point at zoom z (packed long, [[graft.core.Tiles.pack]]). */
case class TileOfExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    Tiles.pack(Tiles.tileOf(x.asInstanceOf[Double], y.asInstanceOf[Double], z.asInstanceOf[Int]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, z) =>
      s"graft.core.Tiles.pack(graft.core.Tiles.tileOf($x, $y, $z))")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "tile_of"
}

/**
 * Boundary-inclusive point-in-polygon over a ring column
 * (`array<struct<x:double,y:double>>`) — the refine predicate of the
 * filter-refine spatial join. Evaluates directly on Catalyst ArrayData
 * (no row materialization). CodegenFallback: the ring side is the small
 * (broadcast) side post-join, so interpretation cost is bounded by candidate
 * pairs, not by the 10^12-row scan.
 */
case class PipContainsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(new StructType().add("x", DoubleType).add("y", DoubleType)),
      DoubleType, DoubleType)

  override def nullSafeEval(ringAny: Any, xAny: Any, yAny: Any): Any = {
    val ring = ringAny.asInstanceOf[ArrayData]
    val x = xAny.asInstanceOf[Double]
    val y = yAny.asInstanceOf[Double]
    PipContainsExpr.coversRing(ring, x, y)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_covers_ring"
}

/**
 * Full boundary-inclusive covers over (ring, holes, x, y): exact
 * [[graft.core.Geom.Polygon.covers]] semantics (hole boundaries belong to the
 * polygon) evaluated straight on Catalyst ArrayData.
 */
case class PipCoversExpr(first: Expression, second: Expression,
                         third: Expression, fourth: Expression)
    extends QuaternaryExpression with CodegenFallback with ExpectsInputTypes {
  private val xyStruct = new StructType().add("x", DoubleType).add("y", DoubleType)
  override def dataType: DataType = BooleanType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(xyStruct), ArrayType(ArrayType(xyStruct)), DoubleType, DoubleType)

  override def nullSafeEval(ringAny: Any, holesAny: Any, xAny: Any, yAny: Any): Any = {
    val ring = ringAny.asInstanceOf[ArrayData]
    val holes = holesAny.asInstanceOf[ArrayData]
    val x = xAny.asInstanceOf[Double]
    val y = yAny.asInstanceOf[Double]
    if (PipContainsExpr.onBoundary(ring, x, y)) return true
    if (!PipContainsExpr.rayCast(ring, x, y)) return false
    var i = 0
    val nH = holes.numElements()
    while (i < nH) {
      val h = holes.getArray(i)
      if (PipContainsExpr.onBoundary(h, x, y)) return true
      if (PipContainsExpr.rayCast(h, x, y)) return false
      i += 1
    }
    true
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "st_covers"
}

object PipContainsExpr {
  private def effLen(ring: ArrayData): Int = {
    val nAll = ring.numElements()
    if (nAll < 2) return nAll
    val r0 = ring.getStruct(0, 2)
    val rl = ring.getStruct(nAll - 1, 2)
    if (r0.getDouble(0) == rl.getDouble(0) && r0.getDouble(1) == rl.getDouble(1)) nAll - 1 else nAll
  }

  def onBoundary(ring: ArrayData, x: Double, y: Double): Boolean = {
    val n = effLen(ring)
    var j = n - 1
    var i = 0
    while (i < n) {
      val pi = ring.getStruct(i, 2); val pj = ring.getStruct(j, 2)
      val xi = pi.getDouble(0); val yi = pi.getDouble(1)
      val xj = pj.getDouble(0); val yj = pj.getDouble(1)
      val cross = (xj - xi) * (y - yi) - (yj - yi) * (x - xi)
      if (math.abs(cross) <= 1e-12 * (math.abs(xj - xi) + math.abs(yj - yi) + 1.0) &&
          x >= math.min(xi, xj) - 1e-12 && x <= math.max(xi, xj) + 1e-12 &&
          y >= math.min(yi, yj) - 1e-12 && y <= math.max(yi, yj) + 1e-12) return true
      j = i; i += 1
    }
    false
  }

  def rayCast(ring: ArrayData, x: Double, y: Double): Boolean = {
    val n = effLen(ring)
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val pi = ring.getStruct(i, 2); val pj = ring.getStruct(j, 2)
      val xi = pi.getDouble(0); val yi = pi.getDouble(1)
      val xj = pj.getDouble(0); val yj = pj.getDouble(1)
      if ((yi > y) != (yj > y)) {
        val xint = xi + (y - yi) / (yj - yi) * (xj - xi)
        if (x < xint) inside = !inside
      }
      j = i; i += 1
    }
    inside
  }

  /** Ray cast + boundary test straight over ArrayData of struct<x,y>. */
  def coversRing(ring: ArrayData, x: Double, y: Double): Boolean =
    ring.numElements() >= 3 && (onBoundary(ring, x, y) || rayCast(ring, x, y))
}

/**
 * WMTS tiles (packed ids) covering a 3D envelope struct
 * (minx,miny,minz,maxx,maxy,maxz — ordinals 0/1/3/4 used) at zoom z.
 * Touching-inclusive, mirroring the reference bbox semantics.
 */
case class TileCoverExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(
    new StructType().add("minx", DoubleType).add("miny", DoubleType).add("minz", DoubleType)
      .add("maxx", DoubleType).add("maxy", DoubleType).add("maxz", DoubleType),
    IntegerType)

  override def nullSafeEval(envAny: Any, zAny: Any): Any = {
    val env = envAny.asInstanceOf[InternalRow]
    val z = zAny.asInstanceOf[Int]
    val tiles = Tiles.coverRect(env.getDouble(0), env.getDouble(1),
      env.getDouble(3), env.getDouble(4), z)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(tiles.map(Tiles.pack))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "tile_cover"
}

/**
 * Codegen access to a broadcast index: the `Broadcast` handle is the only
 * plan reference; the generated code reads `.value` once per partition into
 * a field and calls the index from there, so every task on an executor uses
 * the one shared instance ([[graft.operators.PlanIndex]]).
 */
private[graft] object BroadcastIndex {
  /** Name of the field holding `bc.value`, typed as `cls`. */
  def field(ctx: CodegenContext, bc: Broadcast[_], cls: Class[_]): String = {
    val ref = ctx.addReferenceObj("indexBc", bc, classOf[Broadcast[_]].getName)
    ctx.addMutableState(cls.getName, "index",
      v => s"$v = (${cls.getName}) $ref.value();", forceInline = true)
  }
}

/**
 * Fully-codegen PIP match: the polygon index ships once per executor as a
 * broadcast ([[BroadcastIndex]]), the generated code calls
 * `index.matches(x, y)` directly — no join operator, no shuffle, zero
 * allocation on the miss path. This is the engine's one PIP kernel: the
 * PIP join ([[graft.operators.PipJoin.auto]]) at every polygon-side size,
 * and the SQL `st_covers` join over a local polygon side
 * ([[SpatialJoinRewrite]]). Its elements are the covering polygons'
 * payloads: feature ids, or the SQL plan's polygon columns as a struct
 * ([[graft.operators.PipIndex.payloadType]]).
 */
case class PipMatchesExpr(left: Expression, right: Expression,
                          bc: Broadcast[graft.operators.PipIndex])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val index = bc.value
  override def dataType: DataType = ArrayType(index.payloadType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def nullSafeEval(x: Any, y: Any): Any =
    index.matches(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = BroadcastIndex.field(ctx, bc, classOf[graft.operators.PipIndex])
    defineCodeGen(ctx, ev, (x, y) => s"$idx.matches($x, $y)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "pip_matches"
}

/**
 * Fully-codegen kNN match (shipped like [[PipMatchesExpr]]): the generated
 * code calls the broadcast target-centroid index's `matches(x, y)` directly
 * and returns `array<struct<target_id,d2,rnk>>` with the rank precomputed —
 * no join, no shuffle, no window on the probe scan.
 */
case class KnnMatchesExpr(left: Expression, right: Expression,
                          bc: Broadcast[graft.operators.KnnIndex])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val index = bc.value
  override def dataType: DataType = ArrayType(new StructType()
    .add("target_id", StringType).add("d2", DoubleType).add("rnk", IntegerType),
    containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def nullSafeEval(x: Any, y: Any): Any =
    index.matches(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = BroadcastIndex.field(ctx, bc, classOf[graft.operators.KnnIndex])
    defineCodeGen(ctx, ev, (x, y) => s"$idx.matches($x, $y)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "knn_matches"
}

/**
 * Fully-codegen tile assignment (shipped like [[PipMatchesExpr]]): the
 * generated code calls the broadcast feature-tile index's `matches(tile)`
 * on a packed tile id and returns the `array<struct<feature_id,
 * partition_id>>` of the features whose envelope cover holds that tile —
 * the rows the `(zoom, tile_id)` equi-join against the exploded feature
 * pyramid would give, without a join, a shuffle or a sizing job. A null
 * tile id gives null (no rows under `inline`/`explode`).
 */
case class TileMatchesExpr(child: Expression, bc: Broadcast[graft.operators.TileIndex])
    extends UnaryExpression with ExpectsInputTypes {
  @transient private lazy val index = bc.value
  override def dataType: DataType = ArrayType(new StructType()
    .add("feature_id", StringType).add("partition_id", IntegerType, nullable = false),
    containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def nullSafeEval(tile: Any): Any = index.matches(tile.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = BroadcastIndex.field(ctx, bc, classOf[graft.operators.TileIndex])
    defineCodeGen(ctx, ev, t => s"$idx.matches($t)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "tile_matches"
}

/**
 * Fully-codegen nearest ring boundary (shipped like [[KnnMatchesExpr]]):
 * the generated code calls the broadcast ring index's `nearest(x, y)` and
 * returns `struct<fid, d2>` — the row `min(struct(d2, fid))` over every
 * ring would give, without a join or an aggregate. NOT null-intolerant: a
 * null x or y still gets the lowest fid with a null d2 (every per-ring
 * distance is null there); the result is null only when the index holds no
 * ring.
 */
case class SetbackNearestExpr(left: Expression, right: Expression,
                              bc: Broadcast[graft.operators.SetbackIndex])
    extends BinaryExpression with ExpectsInputTypes {
  @transient private lazy val index = bc.value
  override def dataType: DataType =
    new StructType().add("fid", StringType).add("d2", DoubleType)
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def eval(input: InternalRow): Any = {
    val x = left.eval(input)
    val y = right.eval(input)
    if (x == null || y == null) index.nullPoint()
    else index.nearest(x.asInstanceOf[Double], y.asInstanceOf[Double])
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val idx = BroadcastIndex.field(ctx, bc, classOf[graft.operators.SetbackIndex])
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = (${l.isNull} || ${r.isNull})
        ? $idx.nullPoint() : $idx.nearest(${l.value}, ${r.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "setback_nearest"
}

/** Column index (x) of a quad cell — codegen'd static call. */
case class ZCellXExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def nullSafeEval(c: Any): Any = ZGrid.ix(c.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.ZGrid.ix($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "z_cell_x"
}

/** Row index (y) of a quad cell — codegen'd static call. */
case class ZCellYExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def nullSafeEval(c: Any): Any = ZGrid.iy(c.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.ZGrid.iy($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "z_cell_y"
}

/**
 * Hex cells at exactly ring-distance r from the cell of (x, y) — the
 * per-round candidate generator of the distributed kNN ring join
 * (generator-style: explode the result). Codegen'd static call; replaces a
 * Scala UDF that would break the probe side's codegen span.
 */
case class HexRingExpr(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, IntegerType, IntegerType)
  override def nullSafeEval(x: Any, y: Any, res: Any, r: Any): Any =
    HexRingKernel.eval(x.asInstanceOf[Double], y.asInstanceOf[Double],
      res.asInstanceOf[Int], r.asInstanceOf[Int])
  // NB: the kernel must live in a STANDALONE object — a case-class companion
  // gets no static forwarder for `eval` (the class inherits eval(InternalRow)
  // from Expression, which suppresses the forwarder), so generated Java code
  // calling HexRingExpr.eval failed janino compilation and the whole Generate
  // stage silently fell back to interpreted eval
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, res, r) =>
      s"org.apache.spark.sql.graft.HexRingKernel.eval($x, $y, $res, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "hex_ring"
}

object HexRingKernel {
  def eval(x: Double, y: Double, res: Int, r: Int): ArrayData = {
    val c0 = HexGrid.encode(x, y, res)
    val cells = if (r == 0) Array(c0) else HexGrid.ring(c0, r)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cells)
  }
}

/** Hex cells covering the polygon ring (generator-style: explode the result). */
case class HexCoverExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(new StructType().add("x", DoubleType).add("y", DoubleType)), IntegerType)

  override def nullSafeEval(ringAny: Any, resAny: Any): Any = {
    val ring = ringAny.asInstanceOf[ArrayData]
    val res = resAny.asInstanceOf[Int]
    val pts = Array.tabulate(ring.numElements()) { i =>
      val s = ring.getStruct(i, 2)
      graft.core.Geom.Pt(s.getDouble(0), s.getDouble(1))
    }
    val cells = HexGrid.cover(graft.core.Geom.Polygon(pts), res)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(cells)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "hex_cover"
}

/**
 * Planar ring measures (shoelace formula, Gauss). Vertex order is the array
 * order with an implicit last→first closing edge; the loop is a fixed
 * ascending-index fold, so sums never depend on partitioning. On
 * dyadic-rational coordinates (the oracle fixture) every term and partial
 * sum is exact in binary FP, making the q67 DuckDB hash compare bit-exact
 * even though SQL gives no sum-order guarantee.
 */
object RingKernels {
  /** Signed shoelace sum Σᵢ (xᵢ·yⱼ − xⱼ·yᵢ), j = (i+1) mod n. Positive for
    * counter-clockwise rings; degenerate (n < 3) rings sum to 0. */
  def shoelace(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      s += xs.getDouble(i) * ys.getDouble(j) - xs.getDouble(j) * ys.getDouble(i)
      i += 1
    }
    s
  }

  /** Unsigned polygon area = |shoelace| / 2. */
  def area(xs: ArrayData, ys: ArrayData): Double =
    math.abs(shoelace(xs, ys)) * 0.5

  /** SIGNED polygon area = shoelace / 2: positive ⇔ counter-clockwise —
    * the orientation bit ring-validity audits key on (CityGML exterior
    * rings are CCW by convention). Degenerate rings give exactly 0. */
  def signedArea(xs: ArrayData, ys: ArrayData): Double =
    shoelace(xs, ys) * 0.5

  /** Polygon centroid (Cx, Cy) = (Σ(xᵢ+xⱼ)·crossᵢ, Σ(yᵢ+yⱼ)·crossᵢ) / (3·S)
    * with S the signed shoelace sum — plain IEEE arithmetic (a zero-area
    * ring yields ±Inf/NaN, same as the SQL replay). */
  def centroid(xs: ArrayData, ys: ArrayData): InternalRow = {
    val n = math.min(xs.numElements(), ys.numElements())
    val ss = shoelace(xs, ys)
    var sx = 0.0
    var sy = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val cross = xs.getDouble(i) * ys.getDouble(j) - xs.getDouble(j) * ys.getDouble(i)
      sx += (xs.getDouble(i) + xs.getDouble(j)) * cross
      sy += (ys.getDouble(i) + ys.getDouble(j)) * cross
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](sx / (ss * 3.0), sy / (ss * 3.0)))
  }

  /** Squared distance from (px, py) to the ring BOUNDARY = min over edges of
    * the point-to-segment squared distance. Bit-reproducible across engines
    * because every step is ONE correctly-rounded IEEE op on identical
    * operands in a fixed tree — Java never auto-FMAs and DuckDB executes
    * expression trees op-by-op (no contraction), so the q75 replay (the
    * same tree, spelled per-edge in SQL) hash-compares exactly; min is
    * order-free. Degenerate edges (l2 == 0) fall back to the vertex
    * distance; rings with < 2 points return the vertex distance or NaN for
    * empty input (same as the SQL replay's NULL → left-join contract). */
  def dist2ToRing(xs: ArrayData, ys: ArrayData, px: Double, py: Double): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    if (n == 0) return Double.NaN
    var best = Double.MaxValue
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val d2 = edgeDist2(xs.getDouble(i), ys.getDouble(i), xs.getDouble(j), ys.getDouble(j), px, py)
      if (d2 < best) best = d2
      i += 1
    }
    best
  }

  /** Squared distance from (px, py) to the segment (x1, y1)–(x2, y2): the
    * one per-edge kernel of [[dist2ToRing]] and of the setback index's flat
    * ring scan (`graft.operators.SetbackIndex.ringDist2`). */
  def edgeDist2(x1: Double, y1: Double, x2: Double, y2: Double, px: Double, py: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val l2 = dx * dx + dy * dy
    val t = if (l2 == 0.0) 0.0
      else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / l2))
    val ex = px - (x1 + t * dx); val ey = py - (y1 + t * dy)
    ex * ex + ey * ey
  }

  /** Radial-distance vertex thinning (the standard pre-Douglas-Peucker
    * simplification pass): keep vertex 0, then keep each vertex whose
    * SQUARED distance to the last KEPT vertex is >= eps2; return the kept
    * 0-based indices. Sequential by definition, but every decision is an
    * exact comparison (single-op dist² on identical operands vs the same
    * constant), so the walk is deterministic and replayable step-for-step
    * by a recursive CTE (q81). Empty input → empty; n=1 → [0]. */
  def simplifyIdx(xs: ArrayData, ys: ArrayData, eps2: Double): ArrayData = {
    val n = math.min(xs.numElements(), ys.numElements())
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val kept = scala.collection.mutable.ArrayBuffer[Any](0)
    var lx = xs.getDouble(0)
    var ly = ys.getDouble(0)
    var i = 1
    while (i < n) {
      val dx = xs.getDouble(i) - lx
      val dy = ys.getDouble(i) - ly
      if (dx * dx + dy * dy >= eps2) {
        kept += i
        lx = xs.getDouble(i)
        ly = ys.getDouble(i)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(kept.toArray)
  }

  /** Douglas-Peucker polyline simplification returning kept 0-based vertex
    * indices: keep both endpoints; per segment, find the interior vertex
    * with the maximum perpendicular distance to the chord (ascending scan,
    * STRICTLY-greater updates → smallest index wins ties) and split there
    * when it exceeds `eps` — decided as cross² > eps²·len², so on integer
    * coordinates every comparison is exact (cross and len² are exact
    * integer-valued doubles; eps²·len² is ONE correctly-rounded op on
    * identical operands in both engines) and a recursive-CTE work-queue
    * replay (q95) walks the identical split set. `eps2` = eps². OPEN
    * polylines only: a closed ring (first == last) has cross ≡ 0 against
    * its degenerate chord and collapses to its endpoints — split closed
    * rings or radial-thin (q81) first. n <= 2 keeps everything. */
  def simplifyDpIdx(xs: ArrayData, ys: ArrayData, eps2: Double): ArrayData = {
    val n = math.min(xs.numElements(), ys.numElements())
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val keep = new Array[Boolean](n)
    keep(0) = true; keep(n - 1) = true
    var stack = List((0, n - 1))
    while (stack.nonEmpty) {
      val (i, j) = stack.head
      stack = stack.tail
      if (j > i + 1) {
        val dx = xs.getDouble(j) - xs.getDouble(i)
        val dy = ys.getDouble(j) - ys.getDouble(i)
        val len2 = dx * dx + dy * dy
        var best = -1
        var bestC2 = -1.0
        var m = i + 1
        while (m < j) {
          val cr = dx * (ys.getDouble(m) - ys.getDouble(i)) -
            dy * (xs.getDouble(m) - xs.getDouble(i))
          val c2 = cr * cr
          if (c2 > bestC2) { bestC2 = c2; best = m }
          m += 1
        }
        if (bestC2 > eps2 * len2) {
          keep(best) = true
          stack = (i, best) :: (best, j) :: stack
        }
      }
    }
    val kept = (0 until n).filter(keep).map(i => i: Any).toArray
    new org.apache.spark.sql.catalyst.util.GenericArrayData(kept)
  }

  /** OPEN polyline length = Σ consecutive-point distances (no closing
    * edge), summed in ASCENDING length order — the trajectory twin of
    * [[perimeter]], same bit-reproducibility recipe: each edge is single
    * correctly-rounded IEEE ops on identical operands and the sorted fold
    * makes the sum order canonical on both engines. n < 2 → 0. */
  def pathLength(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    if (n < 2) return 0.0
    val len = new Array[Double](n - 1)
    var i = 0
    while (i < n - 1) {
      val dx = xs.getDouble(i + 1) - xs.getDouble(i)
      val dy = ys.getDouble(i + 1) - ys.getDouble(i)
      len(i) = math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    java.util.Arrays.sort(len)
    var s = 0.0
    i = 0
    while (i < n - 1) { s += len(i); i += 1 }
    s
  }

  /** Inverse-distance-weighted estimate from PRE-ORDERED neighbor arrays
    * (caller sorts by the kNN total order (d2, id)): one ascending pass
    * accumulating Σ(1/d2ᵢ)·vᵢ and Σ(1/d2ᵢ), then one division. Every step
    * is a single correctly-rounded IEEE op in a fixed sequence, so a SQL
    * replay folding the same ordered term lists (list_sum left-folds —
    * probed in the q73 work) reproduces the estimate bit-for-bit (q90).
    * Empty input → NaN; a zero distance (exact hit) yields ±Inf weights —
    * callers place probes off the sample lattice. */
  def idw(d2s: ArrayData, vs: ArrayData): Double = {
    val n = math.min(d2s.numElements(), vs.numElements())
    if (n == 0) return Double.NaN
    var wv = 0.0
    var ws = 0.0
    var i = 0
    while (i < n) {
      val w = 1.0 / d2s.getDouble(i)
      wv += w * vs.getDouble(i)
      ws += w
      i += 1
    }
    wv / ws
  }

  /** Convex hull (Andrew's monotone chain) of a point set given as parallel
    * coordinate arrays: sort by (x, y), dedup exact duplicates, build the
    * lower then upper chain popping on `cross <= 0` (STRICT hull — collinear
    * boundary points drop). Returns hull vertices as array<struct<x, y>> in
    * counter-clockwise order starting at the lexicographically smallest
    * point. Every decision is a sign test on a 4-term cross product — exact
    * in IEEE FP whenever coordinates are small integers/dyadics (the q93
    * fixture), so a recursive-CTE SQL replay walks the identical push/pop
    * sequence and hash-compares bit-exact. m <= 2 distinct points return
    * as-is (sorted). */
  def convexHull(xsA: ArrayData, ysA: ArrayData): ArrayData = {
    val n = math.min(xsA.numElements(), ysA.numElements())
    val pts = Array.tabulate(n)(i => (xsA.getDouble(i), ysA.getDouble(i)))
    val sorted = pts.sorted.distinct
    val m = sorted.length
    def row(p: (Double, Double)) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p._1, p._2))
    if (m <= 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        sorted.map(p => row(p): Any))
    @inline def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val h = new Array[(Double, Double)](2 * m)
    var k = 0
    var i = 0
    while (i < m) {
      while (k >= 2 && cross(h(k - 2), h(k - 1), sorted(i)) <= 0.0) k -= 1
      h(k) = sorted(i); k += 1
      i += 1
    }
    val t = k + 1
    i = m - 2
    while (i >= 0) {
      while (k >= t && cross(h(k - 2), h(k - 1), sorted(i)) <= 0.0) k -= 1
      h(k) = sorted(i); k += 1
      i -= 1
    }
    // h(k-1) re-visits h(0): drop the duplicate closing vertex
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      h.iterator.take(k - 1).map(p => row(p): Any).toArray)
  }

  /** Ring perimeter = Σ edge lengths, summed in ASCENDING length order —
    * sqrt() is correctly rounded IEEE on both engines and a sorted
    * sequential fold is bit-reproducible (probed: DuckDB list_sum over
    * list_sort left-folds identically, 300/300 random vectors), so the q73
    * hash compare is exact even though the lengths themselves are
    * irrational. Degenerate (n < 2) rings return 0. */
  def perimeter(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    if (n < 2) return 0.0
    val len = new Array[Double](n)
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val dx = xs.getDouble(j) - xs.getDouble(i)
      val dy = ys.getDouble(j) - ys.getDouble(i)
      len(i) = math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    java.util.Arrays.sort(len)
    var s = 0.0
    i = 0
    while (i < n) { s += len(i); i += 1 }
    s
  }
}

/** st_dist2_ring(xs, ys, px, py) → squared point-to-ring-boundary distance;
  * fully codegen ([[RingKernels.dist2ToRing]]). */
case class StDist2RingExpr(first: Expression, second: Expression,
                           third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType, DoubleType)
  override def nullSafeEval(xs: Any, ys: Any, px: Any, py: Any): Any =
    RingKernels.dist2ToRing(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData],
      px.asInstanceOf[Double], py.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, x, y) =>
      s"org.apache.spark.sql.graft.RingKernels.dist2ToRing($a, $b, $x, $y)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "st_dist2_ring"
}

/** st_perimeter(xs, ys) → ring perimeter (sorted-fold sum); fully codegen. */
case class StPerimeterExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(xs: Any, ys: Any): Any =
    RingKernels.perimeter(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.RingKernels.perimeter($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_perimeter"
}

/** st_simplify_idx(xs, ys, eps2) → kept 0-based vertex indices under
  * radial-distance thinning; fully codegen. */
case class StSimplifyIdxExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)
  override def nullSafeEval(xs: Any, ys: Any, e2: Any): Any =
    RingKernels.simplifyIdx(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData],
      e2.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"org.apache.spark.sql.graft.RingKernels.simplifyIdx($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_simplify_idx"
}

/** st_simplify_dp(xs, ys, eps2) → kept 0-based vertex indices under
  * Douglas-Peucker simplification; fully codegen
  * ([[RingKernels.simplifyDpIdx]]). */
case class StSimplifyDpExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)
  override def nullSafeEval(xs: Any, ys: Any, e2: Any): Any =
    RingKernels.simplifyDpIdx(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData],
      e2.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"org.apache.spark.sql.graft.RingKernels.simplifyDpIdx($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_simplify_dp"
}

/** idw_fold(d2s, vs) → inverse-distance-weighted estimate over pre-ordered
  * neighbor arrays; fully codegen. */
case class IdwFoldExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(d2s: Any, vs: Any): Any =
    RingKernels.idw(d2s.asInstanceOf[ArrayData], vs.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.RingKernels.idw($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "idw_fold"
}

/** st_path_length(xs, ys) → OPEN polyline length (sorted-fold sum, no
  * closing edge) — trajectory accounting; fully codegen. */
case class StPathLengthExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(xs: Any, ys: Any): Any =
    RingKernels.pathLength(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.RingKernels.pathLength($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_path_length"
}

/** st_area(xs, ys) → unsigned shoelace area; fully codegen. */
case class StAreaExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(xs: Any, ys: Any): Any =
    RingKernels.area(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.RingKernels.area($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_area"
}

/** st_signed_area(xs, ys) → signed shoelace area (CCW > 0); fully codegen. */
case class StSignedAreaExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(xs: Any, ys: Any): Any =
    RingKernels.signedArea(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.RingKernels.signedArea($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_signed_area"
}

/** st_centroid(xs, ys) → struct<cx, cy>; fully codegen. */
case class StCentroidExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType =
    new StructType().add("cx", DoubleType).add("cy", DoubleType)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(xs: Any, ys: Any): Any =
    RingKernels.centroid(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.RingKernels.centroid($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_centroid"
}

/**
 * Great-circle (spherical) kernels for lon/lat inputs — the geodesic twins of
 * the planar [[RingKernels]] measures. A 100-TB geotagged corpus is lon/lat,
 * not a projected CRS; the planar kernels stay correct for projected CityGML
 * fixtures and these cover the un-projected case. All trigonometry is
 * StrictMath (fdlibm): unlike platform libm, fdlibm results are specified
 * bit-for-bit, so a driver-side replay in tests reproduces the kernels
 * exactly on any JVM — the same rule that gates the BM25/TF-IDF ln() paths.
 * Cross-engine SQL parity is NOT promised (DuckDB trig is platform libm),
 * hence a g-row + ScalaTest gate instead of a DuckDB oracle.
 */
object SphereKernels {
  /** IUGG mean Earth radius, metres. */
  val EarthRadiusM: Double = 6371008.8

  /** Haversine great-circle distance in metres between two (lon, lat) points
    * given in DEGREES. The asin argument is clamped to 1.0: near-antipodal
    * rounding can push it to 1 + ulp, and NaN out of a distance kernel would
    * silently poison downstream top-k buffers. */
  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = StrictMath.toRadians(lat1)
    val p2 = StrictMath.toRadians(lat2)
    val sp = StrictMath.sin(StrictMath.toRadians(lat2 - lat1) * 0.5)
    val sl = StrictMath.sin(StrictMath.toRadians(lon2 - lon1) * 0.5)
    val a = sp * sp + StrictMath.cos(p1) * StrictMath.cos(p2) * sl * sl
    val root = StrictMath.sqrt(if (a > 1.0) 1.0 else a)
    2.0 * EarthRadiusM * StrictMath.asin(root)
  }

  /** OPEN polyline great-circle length in metres over (lon, lat) DEGREE
    * arrays — the geodesic twin of [[RingKernels.pathLength]], same
    * ascending-sorted fold so the sum order is canonical regardless of how
    * the caller assembled equal-length segments. n < 2 → 0. */
  def pathLengthM(lons: ArrayData, lats: ArrayData): Double = {
    val n = math.min(lons.numElements(), lats.numElements())
    if (n < 2) return 0.0
    val len = new Array[Double](n - 1)
    var i = 0
    while (i < n - 1) {
      len(i) = haversineM(lons.getDouble(i), lats.getDouble(i),
        lons.getDouble(i + 1), lats.getDouble(i + 1))
      i += 1
    }
    java.util.Arrays.sort(len)
    var s = 0.0
    i = 0
    while (i < n - 1) { s += len(i); i += 1 }
    s
  }
}

/** st_dist_sphere(lon1, lat1, lon2, lat2) → great-circle metres (haversine,
  * degree inputs); fully codegen ([[SphereKernels.haversineM]]). */
case class StDistSphereExpr(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    SphereKernels.haversineM(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"org.apache.spark.sql.graft.SphereKernels.haversineM($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "st_dist_sphere"
}

/** st_path_length_sphere(lons, lats) → OPEN polyline great-circle metres
  * (sorted-fold sum); fully codegen ([[SphereKernels.pathLengthM]]). */
case class StPathLengthSphereExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(lons: Any, lats: Any): Any =
    SphereKernels.pathLengthM(lons.asInstanceOf[ArrayData], lats.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graft.SphereKernels.pathLengthM($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_path_length_sphere"
}

/** st_convex_hull(xs, ys) → hull vertices as array<struct<x, y>> in CCW
  * order starting at the lexicographically smallest point; fully codegen
  * ([[RingKernels.convexHull]]). */
case class StConvexHullExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(
    new StructType().add("x", DoubleType).add("y", DoubleType), containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(xs: Any, ys: Any): Any =
    RingKernels.convexHull(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graft.RingKernels.convexHull($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_convex_hull"
}

/** Column-level API + SQL registration. */
object GeoFunctionsImpl {
  import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}

  def hex_encode(x: Column, y: Column, res: Column): Column =
    column(HexEncodeExpr(expression(x), expression(y), expression(res)))
  def z_encode(x: Column, y: Column, level: Column): Column =
    column(ZEncodeExpr(expression(x), expression(y), expression(level)))
  def hilbert_encode(x: Column, y: Column, level: Column): Column =
    column(HilbertEncodeExpr(expression(x), expression(y), expression(level)))
  def tile_of(x: Column, y: Column, z: Column): Column =
    column(TileOfExpr(expression(x), expression(y), expression(z)))
  def st_covers_ring(ring: Column, x: Column, y: Column): Column =
    column(PipContainsExpr(expression(ring), expression(x), expression(y)))
  def st_covers(ring: Column, holes: Column, x: Column, y: Column): Column =
    column(PipCoversExpr(expression(ring), expression(holes), expression(x), expression(y)))
  def hex_cover(ring: Column, res: Column): Column =
    column(HexCoverExpr(expression(ring), expression(res)))
  def z_cell_x(cell: Column): Column = column(ZCellXExpr(expression(cell)))
  def z_cell_y(cell: Column): Column = column(ZCellYExpr(expression(cell)))
  def tile_cover(env: Column, z: Column): Column =
    column(TileCoverExpr(expression(env), expression(z)))
  def pip_matches(x: Column, y: Column, index: Broadcast[graft.operators.PipIndex]): Column =
    column(PipMatchesExpr(expression(x), expression(y), index))
  def knn_matches(x: Column, y: Column, index: Broadcast[graft.operators.KnnIndex]): Column =
    column(KnnMatchesExpr(expression(x), expression(y), index))
  def tile_matches(tile: Column, index: Broadcast[graft.operators.TileIndex]): Column =
    column(TileMatchesExpr(expression(tile), index))
  def setback_nearest(x: Column, y: Column,
                      index: Broadcast[graft.operators.SetbackIndex]): Column =
    column(SetbackNearestExpr(expression(x), expression(y), index))
  def hex_ring(x: Column, y: Column, res: Column, r: Column): Column =
    column(HexRingExpr(expression(x), expression(y), expression(res), expression(r)))
  def st_area(xs: Column, ys: Column): Column =
    column(StAreaExpr(expression(xs), expression(ys)))
  def st_signed_area(xs: Column, ys: Column): Column =
    column(StSignedAreaExpr(expression(xs), expression(ys)))
  def st_centroid(xs: Column, ys: Column): Column =
    column(StCentroidExpr(expression(xs), expression(ys)))
  def st_perimeter(xs: Column, ys: Column): Column =
    column(StPerimeterExpr(expression(xs), expression(ys)))
  def st_path_length(xs: Column, ys: Column): Column =
    column(StPathLengthExpr(expression(xs), expression(ys)))
  def st_simplify_idx(xs: Column, ys: Column, eps2: Column): Column =
    column(StSimplifyIdxExpr(expression(xs), expression(ys), expression(eps2)))
  def st_simplify_dp(xs: Column, ys: Column, eps2: Column): Column =
    column(StSimplifyDpExpr(expression(xs), expression(ys), expression(eps2)))
  def idw_fold(d2s: Column, vs: Column): Column =
    column(IdwFoldExpr(expression(d2s), expression(vs)))
  def st_dist2_ring(xs: Column, ys: Column, px: Column, py: Column): Column =
    column(StDist2RingExpr(expression(xs), expression(ys), expression(px), expression(py)))
  def st_dist_sphere(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    column(StDistSphereExpr(expression(lon1), expression(lat1),
      expression(lon2), expression(lat2)))
  def st_path_length_sphere(lons: Column, lats: Column): Column =
    column(StPathLengthSphereExpr(expression(lons), expression(lats)))
  def st_convex_hull(xs: Column, ys: Column): Column =
    column(StConvexHullExpr(expression(xs), expression(ys)))
  /** Bounded top-k by (d2 asc, id asc) — topk_by with a constant score
    * (see [[TopKByAgg.knnTopK]]). */
  def knn_topk(d2: Column, id: Column, k: Int): Column =
    column(TopKByAgg.knnTopK(expression(d2), expression(id), k))
  /** Bounded ascending top-k of a long column — topk_by with a constant
    * score (see [[TopKByAgg.longTopK]]). */
  def long_topk(v: Column, k: Int): Column =
    column(TopKByAgg.longTopK(expression(v), k))
  /** Bounded top-k by (score desc, key asc) — map-side combine (TopKAgg). */
  def topk_by(score: Column, key: Column, k: Int): Column =
    column(TopKByAgg(expression(score), expression(key), None, k).toAggregateExpression())
  /** [[topk_by]] carrying an opaque payload column per kept entry. */
  def topk_by(score: Column, key: Column, payload: Column, k: Int): Column =
    column(TopKByAgg(expression(score), expression(key), Some(expression(payload)), k)
      .toAggregateExpression())

  /** Every SQL function of the engine as (name, builder): the one table
    * both [[register]] and [[GraftExtensions]] install. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "hex_encode" -> (es => HexEncodeExpr(es(0), es(1), es(2))),
    "z_encode" -> (es => ZEncodeExpr(es(0), es(1), es(2))),
    "hilbert_encode" -> (es => HilbertEncodeExpr(es(0), es(1), es(2))),
    "tile_of" -> (es => TileOfExpr(es(0), es(1), es(2))),
    "st_covers_ring" -> (es => PipContainsExpr(es(0), es(1), es(2))),
    "st_covers" -> (es => PipCoversExpr(es(0), es(1), es(2), es(3))),
    "hex_cover" -> (es => HexCoverExpr(es(0), es(1))),
    "hex_ring" -> (es => HexRingExpr(es(0), es(1), es(2), es(3))),
    "z_cell_x" -> (es => ZCellXExpr(es(0))),
    "z_cell_y" -> (es => ZCellYExpr(es(0))),
    "tile_cover" -> (es => TileCoverExpr(es(0), es(1))),
    "st_area" -> (es => StAreaExpr(es(0), es(1))),
    "st_signed_area" -> (es => StSignedAreaExpr(es(0), es(1))),
    "st_centroid" -> (es => StCentroidExpr(es(0), es(1))),
    "st_perimeter" -> (es => StPerimeterExpr(es(0), es(1))),
    "st_path_length" -> (es => StPathLengthExpr(es(0), es(1))),
    "st_simplify_idx" -> (es => StSimplifyIdxExpr(es(0), es(1), es(2))),
    "st_simplify_dp" -> (es => StSimplifyDpExpr(es(0), es(1), es(2))),
    "idw_fold" -> (es => IdwFoldExpr(es(0), es(1))),
    "st_dist2_ring" -> (es => StDist2RingExpr(es(0), es(1), es(2), es(3))),
    "st_dist_sphere" -> (es => StDistSphereExpr(es(0), es(1), es(2), es(3))),
    "st_path_length_sphere" -> (es => StPathLengthSphereExpr(es(0), es(1))),
    "st_convex_hull" -> (es => StConvexHullExpr(es(0), es(1))),
    "knn_topk" -> { es =>
      require(es.length == 3, "knn_topk(d2, id, k) takes 3 arguments")
      TopKByAgg.knnTopK(es(0), es(1), TopKByAgg.literalK("knn_topk", es(2)))
    },
    "long_topk" -> { es =>
      require(es.length == 2, "long_topk(v, k) takes 2 arguments")
      TopKByAgg.longTopK(es(0), TopKByAgg.literalK("long_topk", es(1)))
    },
    "topk_by" -> TopKByAgg.fromSql,
    "freq_topk" -> FreqSketchAgg.fromSql,
    "kll_quantiles" -> QuantileSketchAgg.fromSql,
    "hll_count" -> HllSketchAgg.fromSql,
    "bloom_build" -> BloomBuildAgg.fromSql,
    "bloom_contains" -> (es => BloomContainsExpr(es(0), es(1))),
    // vector + text kernels on the same SQL surface
    "vec_dot" -> (es => DotExpr(es(0), es(1))),
    "vec_cosine" -> (es => CosineExpr(es(0), es(1))),
    "lang_id" -> (es => LangIdExpr(es(0))),
    "shingle_make" -> (es => ShingleMakeExpr(es(0), es(1))),
    "simhash64" -> (es => SimHashExpr(es(0))),
    "minhash_bands" -> (es => MinHashBandsExpr(es(0), es(1), es(2), es(3))),
    "minhash_bands_mp" -> (es => MinHashBandsMpExpr(es(0), es(1), es(2), es(3))),
    "c4_clean" -> (es => C4CleanExpr(es(0), es(1))),
    "norm_text" -> (es => NormTextExpr(es(0))),
    "grid_rank" -> (es => GridRankExpr(es(0), es(1))))

  /** Register for SQL use (`SELECT hex_encode(x, y, 9) ...`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
