package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._

/** PQ asymmetric-distance (ADC) scoring against a CONSTANT per-query
  * lookup-table stack — the codegen'd per-row kernel of the PQ
  * candidate stage (r22, guide §4 / VERDICT r21 #5).
  *
  * The previous formulation — `aggregate(sequence(0, m−1), ...)` with
  * three nested `element_at`s into a triple-nested array literal — is a
  * higher-order function, which Catalyst evaluates as an INTERPRETED
  * lambda per row (HOFs are CodegenFallback), and it ran on the
  * n × nQueries exploded frame: every corpus row paid nQueries
  * interpreted m-step folds plus the Generate's row materialization.
  * This expression computes ALL query scores for a row in one tight
  * JIT-compiled loop over a flat double array, so the candidate stage
  * needs no row blowup at all (pair it with [[TopKPairsMulti]]).
  *
  * Arithmetic is pinned to the old fold exactly: score(q) =
  * ((0.0 + L[q][0][c₀]) + L[q][1][c₁]) + … in ascending subspace
  * order — the same left-to-right double adds, bit-identical results.
  */
object PqAdc {
  /** Flatten lut(q)(j)(code) to row-major [q][j][code]. */
  def flatten(lut: Seq[Seq[Seq[Double]]]): (Array[Double], Int, Int, Int) = {
    val nQ = lut.length
    val m = if (nQ == 0) 0 else lut.head.length
    val ks = if (m == 0) 0 else lut.head.head.length
    val flat = new Array[Double](nQ * m * ks)
    var q = 0
    while (q < nQ) {
      var j = 0
      while (j < m) {
        val row = lut(q)(j)
        var c = 0
        while (c < ks) { flat((q * m + j) * ks + c) = row(c); c += 1 }
        j += 1
      }
      q += 1
    }
    (flat, nQ, m, ks)
  }

  /** One query's ADC sum over a codes row: ascending-j left fold,
    * identical double sequence to the old `aggregate(sequence(...))`. */
  def score(flat: Array[Double], m: Int, ks: Int, q: Int,
      codes: ArrayData): Double = {
    var acc = 0.0
    var j = 0
    val base = q * m * ks
    while (j < m) { acc += flat(base + j * ks + codes.getInt(j)); j += 1 }
    acc
  }
}

/** All-queries ADC scores for one codes row: `array<double>` of length
  * nQueries (see [[PqAdc]]). */
case class PqAdcScores(child: Expression, flat: Array[Double],
    nQ: Int, m: Int, ks: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_scores requires array<int> codes, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  /** Per-row kernel, called from both eval and generated code. */
  def scoresOf(codes: ArrayData): ArrayData = {
    val out = new Array[Double](nQ)
    var q = 0
    while (q < nQ) { out(q) = PqAdc.score(flat, m, ks, q, codes); q += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    scoresOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcScores", this, classOf[PqAdcScores].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.scoresOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // value-based equality over the constant LUT (the TopCentroids
  // discipline: reference equality would defeat canonicalization)
  override def equals(other: Any): Boolean = other match {
    case t: PqAdcScores =>
      child == t.child && nQ == t.nQ && m == t.m && ks == t.ks &&
        java.util.Arrays.equals(flat, t.flat)
    case _ => false
  }
  override def hashCode(): Int =
    ((31 * child.hashCode() + nQ) * 31 + m) * 31 + java.util.Arrays.hashCode(flat)

  override def prettyName: String = "pq_adc_scores"
}

/** Single-query ADC score `pq_adc_score(codes, qi)` — the join-shaped
  * probe path ([[graft.similarity.AnnIndex.ivfpqTopKIndexed]]), where
  * the query index arrives per row from the probed-list join. Same
  * kernel, same add order as [[PqAdcScores]]. */
case class PqAdcScore(left: Expression, right: Expression,
    flat: Array[Double], nQ: Int, m: Int, ks: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_score requires (array<int>, int), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = DoubleType

  def scoreOf(codes: ArrayData, qi: Int): Double =
    PqAdc.score(flat, m, ks, qi, codes)

  override def nullSafeEval(codes: Any, qi: Any): Any =
    scoreOf(codes.asInstanceOf[ArrayData], qi.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcScore", this, classOf[PqAdcScore].getName)
    nullSafeCodeGen(ctx, ev, (c, q) => s"${ev.value} = $ref.scoreOf($c, $q);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def equals(other: Any): Boolean = other match {
    case t: PqAdcScore =>
      left == t.left && right == t.right && nQ == t.nQ && m == t.m &&
        ks == t.ks && java.util.Arrays.equals(flat, t.flat)
    case _ => false
  }
  override def hashCode(): Int =
    ((31 * (31 * left.hashCode() + right.hashCode()) + nQ) * 31 + m) * 31 +
      java.util.Arrays.hashCode(flat)

  override def prettyName: String = "pq_adc_score"
}

/** Multi-query bounded top-k aggregate: ONE pass over the corpus keeps,
  * for every query q, the k (score(q), id) pairs with the highest score
  * (exact [[TopKPairs]] ordering: score desc with NaN greatest, ties →
  * smaller id), skipping the query's own id. Replaces the
  * explode-to-(n × nQueries)-rows + groupBy(query) form: no Generate,
  * no row blowup, and the map-side partial ships ≤ nQueries × k pairs
  * per partition (r22, guide §2.3/§2.4 — VERDICT r21 #5).
  *
  * Buffers are flat primitive arrays with threshold-gated insertion
  * (the TopCentroids kernel discipline), not per-row allocations.
  * Deterministic: the per-query result is a function of the
  * (score, id) multiset only — same pairs, any partitioning. */
case class TopKPairsMulti(
    scores: Expression,
    id: Expression,
    k: Int,
    queryIds: Array[Long],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairsMulti.Buf] {

  require(k > 0, "k must be positive")
  private def nQ: Int = queryIds.length

  override def children: Seq[Expression] = Seq(scores, id)
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))))

  override def checkInputDataTypes(): TypeCheckResult =
    (scores.dataType, id.dataType) match {
      case (ArrayType(DoubleType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"top_k_pairs_multi expects (array<double>, bigint), got " +
          s"${s.sql}, ${i.sql}")
    }

  override def createAggregationBuffer(): TopKPairsMulti.Buf =
    new TopKPairsMulti.Buf(nQ, k)

  override def update(buf: TopKPairsMulti.Buf, input: InternalRow): TopKPairsMulti.Buf = {
    val s = scores.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val arr = s.asInstanceOf[ArrayData]
      require(arr.numElements() == nQ, s"top_k_pairs_multi: a scores array has " +
        s"${arr.numElements()} elements but there are $nQ query ids")
      val cid = i.asInstanceOf[Long]
      var q = 0
      while (q < nQ) {
        if (queryIds(q) != cid) buf.insert(q, arr.getDouble(q), cid)
        q += 1
      }
    }
    buf
  }

  override def merge(buf: TopKPairsMulti.Buf, other: TopKPairsMulti.Buf): TopKPairsMulti.Buf = {
    var q = 0
    while (q < nQ) {
      var p = 0
      val len = other.len(q)
      while (p < len) {
        buf.insert(q, other.scoreAt(q, p), other.idAt(q, p))
        p += 1
      }
      q += 1
    }
    buf
  }

  override def eval(buf: TopKPairsMulti.Buf): Any = {
    val out = new Array[Any](nQ)
    var q = 0
    while (q < nQ) {
      val len = buf.len(q)
      val tops = new Array[Any](len)
      var p = 0
      while (p < len) {
        tops(p) = new GenericInternalRow(
          Array[Any](buf.scoreAt(q, p), buf.idAt(q, p)))
        p += 1
      }
      out(q) = new GenericArrayData(tops)
      q += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKPairsMulti.Buf): Array[Byte] = {
    var total = 4
    var q = 0
    while (q < nQ) { total += 4 + buf.len(q) * 16; q += 1 }
    val bb = ByteBuffer.allocate(total)
    bb.putInt(nQ)
    q = 0
    while (q < nQ) {
      val len = buf.len(q)
      bb.putInt(len)
      var p = 0
      while (p < len) { bb.putDouble(buf.scoreAt(q, p)); bb.putLong(buf.idAt(q, p)); p += 1 }
      q += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsMulti.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKPairsMulti.Buf(n, k)
    var q = 0
    while (q < n) {
      val len = bb.getInt
      var p = 0
      // serialized runs are already sorted — insert preserves order
      while (p < len) { buf.insert(q, bb.getDouble, bb.getLong); p += 1 }
      q += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsMulti =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsMulti =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(scores = newChildren(0), id = newChildren(1))

  override def equals(other: Any): Boolean = other match {
    case t: TopKPairsMulti =>
      scores == t.scores && id == t.id && k == t.k &&
        mutableAggBufferOffset == t.mutableAggBufferOffset &&
        inputAggBufferOffset == t.inputAggBufferOffset &&
        java.util.Arrays.equals(queryIds, t.queryIds)
    case _ => false
  }
  override def hashCode(): Int =
    (31 * (31 * scores.hashCode() + id.hashCode()) + k) * 31 +
      java.util.Arrays.hashCode(queryIds)

  override def prettyName: String = "top_k_pairs_multi"
}

object TopKPairsMulti {
  /** nQ independent bounded (score desc, NaN greatest, id asc) top-k
    * lists in flat primitive arrays; sorted-insert with a cheap
    * worse-than-last rejection, so a non-qualifying row costs one
    * comparison and zero allocation. */
  final class Buf(nQ: Int, k: Int) {
    private val sc = new Array[Double](nQ * k)
    private val ids = new Array[Long](nQ * k)
    private val lens = new Array[Int](nQ)

    def len(q: Int): Int = lens(q)
    def scoreAt(q: Int, p: Int): Double = sc(q * k + p)
    def idAt(q: Int, p: Int): Long = ids(q * k + p)

    /** `a` strictly before `b` in (score desc — NaN greatest, the SQL
      * ORDER BY score DESC convention [[TopKPairs]] pins — id asc). */
    private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(s2, s1)
      if (c != 0) c < 0 else i1 < i2
    }

    def insert(q: Int, s: Double, i: Long): Unit = {
      val base = q * k
      val len = lens(q)
      if (len == k && !before(s, i, sc(base + k - 1), ids(base + k - 1))) return
      // find insertion point from the back (k is small; qualifying rows
      // are rare once the buffer saturates)
      var p = if (len == k) k - 1 else len
      while (p > 0 && before(s, i, sc(base + p - 1), ids(base + p - 1))) {
        sc(base + p) = sc(base + p - 1); ids(base + p) = ids(base + p - 1)
        p -= 1
      }
      sc(base + p) = s; ids(base + p) = i
      if (len < k) lens(q) = len + 1
    }
  }

  /** `top_k_pairs_multi(scores, id, k)` as an aggregate Column;
    * `queryIds(q)` is skipped as a candidate for query q (the
    * query ≠ candidate rule the exploded form applied as a filter). */
  def topKAll(scores: Column, id: Column, k: Int, queryIds: Array[Long]): Column =
    Glue.column(TopKPairsMulti(Glue.expression(scores), Glue.expression(id),
      k, queryIds).toAggregateExpression())
}
