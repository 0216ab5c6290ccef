package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Grouped cosine pair kernel: one probe group of vectors in, its
  * scored pairs out, each candidate pair of the whole corpus scored in
  * exactly one group.
  *
  * `key` is the group's probe key and `members` its vectors, as
  * `array<struct<id: bigint, emb: array<float|double>, keys:
  * array<bigint>>>` where `keys` are every probe key of that vector (IVF
  * list ids, or encoded LSH `(table, bucket)`s). A pair of members with
  * `a.id < b.id` is this group's to score when the smallest key the two
  * share is `key`; every other group holding both skips it. So a corpus
  * grouped by every key of every vector yields each candidate pair once,
  * where a self-join on the key yields it once per shared key and needs a
  * `dropDuplicates` shuffle after.
  *
  * Scores use [[CosineSimilarity]]'s arithmetic, `dot / (sqrt(na) *
  * sqrt(nb))` with sequential double accumulation, so a pair scores bit
  * for bit what `cosine_sim(a.emb, b.emb)` gives. Each member's norm is
  * taken once per group; a pair of different lengths takes both norms
  * over the shorter length, as `cosine_sim` does. A pair is kept when
  * its score is `>= tau` under SQL ordering, where NaN (a zero vector)
  * is greater than every number. Members with a null struct or
  * embedding score nothing; ids must be unique among the members.
  *
  * Emits `(a_id, b_id, cos_sim)` lazily, one group's pairs at a time. */
case class GroupedCosinePairs(key: Expression, members: Expression, tau: Double)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(key, members)

  override def elementSchema: StructType = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false)))

  private def embType: Option[DataType] = members.dataType match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, ArrayType(et @ (FloatType | DoubleType), _), _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType && embType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "grouped_cosine_pairs expects (bigint, array<struct<bigint, " +
        s"array<float|double>, array<bigint>>>), got ${key.dataType.sql}, " +
        members.dataType.sql)

  // only the interpreted path: the kernel is a per-group Scala loop
  override def supportCodegen: Boolean = false

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val k = key.eval(input)
    val ms = members.eval(input).asInstanceOf[ArrayData]
    if (k == null || ms == null) Iterator.empty
    else GroupedCosinePairs.pairs(k.asInstanceOf[Long], ms,
      embType.contains(FloatType), tau)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), members = newChildren(1))

  override def prettyName: String = "grouped_cosine_pairs"
}

object GroupedCosinePairs {

  /** The pairs of one group (see [[GroupedCosinePairs]]). */
  private[functions] def pairs(key: Long, ms: ArrayData, isFloat: Boolean,
      tau: Double): Iterator[InternalRow] = {
    val ids = Array.newBuilder[Long]
    val vecs = Array.newBuilder[Array[Double]]
    val keys = Array.newBuilder[Array[Long]]
    var m = 0
    while (m < ms.numElements()) {
      if (!ms.isNullAt(m)) {
        val r = ms.getStruct(m, 3)
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
          val e = r.getArray(1)
          ids += r.getLong(0)
          vecs += Array.tabulate(e.numElements())(i =>
            if (isFloat) e.getFloat(i).toDouble else e.getDouble(i))
          keys += r.getArray(2).toLongArray().sorted
        }
      }
      m += 1
    }
    val id = ids.result(); val vec = vecs.result(); val ks = keys.result()
    val rootNorm = vec.map(v => math.sqrt(sumSq(v, v.length)))
    val n = id.length

    new Iterator[InternalRow] {
      private var i = 0
      private var j = 0
      private var nextRow: InternalRow = advance()

      private def advance(): InternalRow = {
        while (i < n) {
          j += 1
          if (j >= n) { i += 1; j = i }
          else if (id(i) != id(j) && smallestShared(ks(i), ks(j)) == key) {
            val (a, b) = (vec(i), vec(j))
            val len = math.min(a.length, b.length)
            var dot = 0.0; var t = 0
            while (t < len) { dot += a(t) * b(t); t += 1 }
            val cos =
              if (a.length == b.length) dot / (rootNorm(i) * rootNorm(j))
              else dot / (math.sqrt(sumSq(a, len)) * math.sqrt(sumSq(b, len)))
            if (SQLOrderingUtil.compareDoubles(cos, tau) >= 0)
              return new GenericInternalRow(Array[Any](
                math.min(id(i), id(j)), math.max(id(i), id(j)), cos))
          }
        }
        null
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        if (nextRow == null) throw new NoSuchElementException("no more pairs")
        val r = nextRow
        nextRow = advance()
        r
      }
    }
  }

  private def sumSq(v: Array[Double], len: Int): Double = {
    var s = 0.0; var t = 0
    while (t < len) { s += v(t) * v(t); t += 1 }
    s
  }

  /** The smallest element of two ascending arrays, or `Long.MinValue`
    * with none shared (no group key can then match: a vector always
    * holds its own group's key). */
  private def smallestShared(a: Array[Long], b: Array[Long]): Long = {
    var x = 0; var y = 0
    while (x < a.length && y < b.length) {
      if (a(x) == b(y)) return a(x)
      if (a(x) < b(y)) x += 1 else y += 1
    }
    Long.MinValue
  }
}
