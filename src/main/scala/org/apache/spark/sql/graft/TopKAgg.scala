/*
 * Bounded top-k aggregate — the map-side-combine shape the window form
 * cannot have. `row_number() OVER (PARTITION BY g ORDER BY …)` must shuffle
 * and sort EVERY candidate row; this TypedImperativeAggregate keeps a
 * k-bounded buffer per group on the map side, so only k-entry buffers cross
 * the wire (candidate-count-independent shuffle volume). At 10^9+
 * candidates per round the full sort is the bottleneck; the bounded buffer is
 * the standard distributed top-k (what takeOrdered does for RDDs, expressed
 * as a Catalyst aggregate so it composes with DataFrame groupBy). The
 * ascending forms `knn_topk` and `long_topk` are builders over this one
 * aggregate with a constant score ([[TopKByAgg.knnTopK]],
 * [[TopKByAgg.longTopK]]).
 */
package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  Expression, ExpressionDescription, Literal, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable k-bounded set of owned entry rows (score, key[, payload]),
  * sorted by `ord`. Kept as a simple sorted array — k is small (single
  * digits in kNN practice), so insertion beats heap constants. */
final class TopKByBuffer(val k: Int, ord: Ordering[InternalRow]) {
  var n: Int = 0
  val entries: Array[UnsafeRow] = new Array[UnsafeRow](k)

  private def beats(e: InternalRow, i: Int): Boolean = ord.compare(e, entries(i)) < 0

  /** Losing rows are the overwhelming majority at scale — callers check this
    * BEFORE copying the entry, so losers cost zero allocation. `cand`
    * (score, key) may alias a reused row buffer (comparison only). */
  def wouldAccept(cand: InternalRow): Boolean = n < k || beats(cand, k - 1)

  /** `e` must be an owned (copied) row. */
  def insert(e: UnsafeRow): Unit = {
    if (n == k && !beats(e, k - 1)) return
    var i = if (n < k) n else k - 1
    while (i > 0 && beats(e, i - 1)) { entries(i) = entries(i - 1); i -= 1 }
    entries(i) = e
    if (n < k) n += 1
  }

  def mergeFrom(o: TopKByBuffer): Unit = {
    var i = 0
    while (i < o.n) { insert(o.entries(i)); i += 1 }
  }
}

/**
 * topk_by(score, key, k) / topk_by(score, key, payload, k) — the k entries a
 * `row_number() OVER (PARTITION BY … ORDER BY score DESC, key ASC) <= k`
 * window would keep, as a k-bounded map-side-combining aggregate: only
 * k-entry buffers cross the shuffle, so the shuffle volume is
 * candidate-count-independent (the window form shuffles AND sorts every
 * candidate row per group). With a constant score the key alone orders:
 * that is the ascending top-k behind `knn_topk` and `long_topk`. The key
 * keeps its INPUT type (any orderable type, structs included) and ties
 * break with that type's own ordering, exactly like the window's ORDER BY —
 * no implicit cast-to-string (which would both change the output schema
 * and flip numeric tie-breaks lexicographically). Result:
 * array<struct<key, score: double[, payload], rnk: int>> in rank order.
 * `payload` is an arbitrary column (e.g. a struct of extra fields) carried
 * alongside each kept entry, so callers don't need a join-back against the
 * full candidate table to recover them.
 */
@ExpressionDescription(usage =
  "topk_by(score, key[, payload], k) - bounded top-k by (score desc, key asc) with map-side combine")
case class TopKByAgg(
    scoreChild: Expression, keyChild: Expression,
    payloadChild: Option[Expression], k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[TopKByBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k >= 1, s"topk_by: k must be >= 1, got $k")

  private def keyType: DataType = keyChild.dataType

  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, AnyDataType) ++ payloadChild.map(_ => AnyDataType)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else org.apache.spark.sql.catalyst.util.TypeUtils
      .checkForOrderingExpr(keyType, prettyName)
  }
  override def children: Seq[Expression] = Seq(scoreChild, keyChild) ++ payloadChild
  override def nullable: Boolean = false
  override def dataType: DataType = {
    val base = new StructType().add("key", keyType).add("score", DoubleType)
    val withPayload = payloadChild match {
      case Some(p) => base.add("payload", p.dataType, p.nullable)
      case None => base
    }
    ArrayType(withPayload.add("rnk", IntegerType), containsNull = false)
  }

  // One generated ordering over (score DESC, key ASC) — Spark's SQL
  // ordering, as the window's ORDER BY: −0.0 ties 0.0, NaN ranks above every
  // double, and the key compares with its own type's ordering (a bigint key
  // ties-break NUMERICALLY; a struct key field by field).
  @transient private lazy val ordering: Ordering[InternalRow] = RowOrdering.create(Seq(
    SortOrder(BoundReference(0, DoubleType, nullable = true), Descending),
    SortOrder(BoundReference(1, keyType, nullable = true), Ascending)), Nil)
  // generated projections of the bound children: the (score, key) candidate
  // every row is ranked by, and the full entry for rows that need a payload
  @transient private lazy val candProj = UnsafeProjection.create(Seq(scoreChild, keyChild))
  @transient private lazy val entryProj = UnsafeProjection.create(children)

  override def createAggregationBuffer(): TopKByBuffer = new TopKByBuffer(k, ordering)

  override def update(b: TopKByBuffer, input: InternalRow): TopKByBuffer = {
    val cand = candProj(input)
    if (!cand.isNullAt(0) && !cand.isNullAt(1) && b.wouldAccept(cand))
      // both projections reuse one row buffer: copy ONLY accepted rows
      b.insert((if (payloadChild.isEmpty) cand else entryProj(input)).copy())
    b
  }

  override def merge(b: TopKByBuffer, o: TopKByBuffer): TopKByBuffer = { b.mergeFrom(o); b }

  override def eval(b: TopKByBuffer): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      val e = b.entries(i)
      rows(i) = payloadChild match {
        case Some(p) => InternalRow(e.get(1, keyType), e.getDouble(0), e.get(2, p.dataType), i + 1)
        case None => InternalRow(e.get(1, keyType), e.getDouble(0), i + 1)
      }
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKByBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.n)
    var i = 0
    while (i < b.n) {
      val eb = b.entries(i).getBytes
      out.writeInt(eb.length); out.write(eb)
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopKByBuffer(k, ordering)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val eb = new Array[Byte](in.readInt()); in.readFully(eb)
      val row = new UnsafeRow(children.length)
      row.pointTo(eb, eb.length)
      b.insert(row)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByAgg =
    copy(scoreChild = c(0), keyChild = c(1),
      payloadChild = if (c.length > 2) Some(c(2)) else None)
  override def prettyName: String = "topk_by"
}

object TopKByAgg {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedExtractValue, UnresolvedFunction}
  import org.apache.spark.sql.catalyst.expressions.{Cast, CaseWhen, CreateNamedStruct,
    IsNotNull, LambdaFunction, And, UnresolvedNamedLambdaVariable}

  private def field(x: Expression, name: String): Expression =
    UnresolvedExtractValue(x, Literal(name))

  /** The k smallest non-null `key`s in ascending order — topk_by with a
    * constant score, so the key alone orders — with each kept entry
    * reshaped to the struct `fields` builds from (key, rnk). Left for the
    * analyzer to resolve, so it serves the SQL builders and the Column API
    * alike. */
  private def ascending(key: Expression, k: Int,
                        fields: (Expression, Expression) => Seq[(String, Expression)]): Expression = {
    val e = UnresolvedNamedLambdaVariable(Seq(UnresolvedNamedLambdaVariable.freshVarName("e")))
    val entry = CreateNamedStruct(fields(field(e, "key"), field(e, "rnk"))
      .flatMap { case (name, v) => Seq(Literal(name), v) })
    UnresolvedFunction("transform", Seq(
      TopKByAgg(Literal(0.0), key, None, k).toAggregateExpression(),
      LambdaFunction(entry, Seq(e))), isDistinct = false)
  }

  /** knn_topk(d2, id, k) → array<struct<target_id: string, d2: double,
    * rnk: int>> sorted by (d2, id): keyed on struct(d2, id), whose SQL
    * ordering is the window's `ORDER BY d2, id` (−0.0 ties 0.0, NaN last).
    * The key is null — the row skipped — when d2 or id is null. */
  def knnTopK(d2: Expression, id: Expression, k: Int): Expression = {
    val d = Cast(d2, DoubleType)
    val i = Cast(id, StringType)
    val key = CaseWhen(Seq(And(IsNotNull(d), IsNotNull(i)) ->
      CreateNamedStruct(Seq(Literal("d2"), d, Literal("target_id"), i))))
    ascending(key, k, (key, rnk) => Seq(
      "target_id" -> field(key, "target_id"), "d2" -> field(key, "d2"), "rnk" -> rnk))
  }

  /** long_topk(v, k) → array<struct<v: bigint, rn: int>>: the k smallest
    * non-null values ascending, the rows `row_number() OVER (ORDER BY v)
    * <= k` keeps. */
  def longTopK(v: Expression, k: Int): Expression =
    ascending(Cast(v, LongType), k, (key, rnk) => Seq("v" -> key, "rn" -> rnk))

  /** The `k` argument of a SQL top-k call: a foldable int literal. */
  def literalK(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: k must be an integer literal, got $other")
  }

  /** SQL builder: topk_by(score, key[, payload], k), k a foldable int literal. */
  def fromSql(es: Seq[Expression]): Expression = {
    require(es.length == 3 || es.length == 4,
      "topk_by(score, key[, payload], k) takes 3 or 4 arguments")
    val payload = if (es.length == 4) Some(es(2)) else None
    TopKByAgg(es(0), es(1), payload, literalK("topk_by", es.last)).toAggregateExpression()
  }
}
