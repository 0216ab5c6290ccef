package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd kernels for the shingle pipeline (r22, guide §4 — the
  * [[WordNgrams]]/[[MinHashSig]] treatment for the remaining
  * per-row HOF hot paths of the dedup family):
  *
  *  - [[TokenHashes]]  — `transform(split(text, " "), t => xxhash64(t))`
  *  - [[HashShingles]] — `array_distinct` over the zip_with
  *    xxhash64-chain of shifted token-hash copies
  *    (`MinHash.shinglesFromTokenHashes`)
  *  - [[PositionalWindows]] — the n-token window STRINGS
  *    (`Dedup.positionalWindows`), the md5 unit of substringDedup and
  *    the shingle unit of ngramJaccard/containment
  *
  * Each replaces a higher-order function Catalyst evaluates as an
  * interpreted lambda per ELEMENT (HOFs are CodegenFallback) with one
  * tight per-row loop. Hash arithmetic is Spark's own XXH64 kernels in
  * the exact child order the HOF forms produced (`xxhash64(t)` =
  * hashUTF8String(t, 42); the chain step `xxhash64(acc, next)` =
  * hashLong(next, hashLong(acc, 42))); string windows are exact byte
  * concatenation. zip_with's null-padding of the shifted copies only
  * ever touched positions the final slice drops, so the kernels loop
  * over exactly the surviving positions. Bit-equality against the HOF
  * forms is pinned in `ShingleKernelsSpec`. */
object ShingleKernels {
  /** `token_hashes(text)` as a Column. */
  def tokenHashes(text: Column): Column =
    Glue.column(TokenHashes(Glue.expression(text)))

  /** `hash_shingles(th, n)` as a Column (distinct chained shingle
    * hashes; docs shorter than n yield the empty array). */
  def hashShingles(th: Column, n: Int): Column =
    Glue.column(HashShingles(Glue.expression(th), n))

  /** `positional_windows(toks, n)` as a Column (window strings in
    * position order; docs shorter than n yield the empty array). */
  def positionalWindows(toks: Column, n: Int): Column =
    Glue.column(PositionalWindows(Glue.expression(toks), n))

  private[functions] val Space = UTF8String.fromString(" ")
}

/** Per-token xxhash64 over the single-space split of `text`. */
case class TokenHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_hashes requires a string column, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def hashesOf(text: UTF8String): ArrayData = {
    val words = text.split(ShingleKernels.Space, -1)
    val out = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      out(i) = XXH64.hashUTF8String(words(i), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    hashesOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenHashes", this, classOf[TokenHashes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.hashesOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "token_hashes"
}

/** Distinct chained shingle hashes over a token-hash array: shingle i
  * folds th(i..i+n−1) with hashLong(next, hashLong(acc, 42)), first
  * occurrence kept in position order. A null array yields the empty
  * array, as the `array_distinct` form did. */
case class HashShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hash_shingles requires array<bigint> token hashes, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  def shinglesOf(arr: ArrayData): ArrayData = {
    val size = if (arr == null) 0 else arr.numElements()
    val m = size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    // order-preserving primitive dedup: `out` keeps first occurrences
    // in position order and an open-addressing set answers "seen?", so
    // a document costs O(m) whatever its length
    val out = new Array[Long](m)
    val seen = new LongHashSet(m)
    var kept = 0
    var i = 0
    while (i < m) {
      var acc = arr.getLong(i)
      var j = 1
      while (j < n) {
        acc = XXH64.hashLong(arr.getLong(i + j), XXH64.hashLong(acc, 42L))
        j += 1
      }
      if (seen.add(acc)) { out(kept) = acc; kept += 1 }
      i += 1
    }
    new GenericArrayData(
      if (kept == m) out else java.util.Arrays.copyOf(out, kept))
  }

  override def eval(input: InternalRow): Any =
    shinglesOf(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashShingles", this, classOf[HashShingles].getName)
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  $ref.shinglesOf(${c.isNull} ? null : ${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hash_shingles"
}

/** Insert-only open-addressing set of longs sized for `capacity`
  * elements (linear probing at load ≤ ½; slot value 0 marks empty, so
  * the key 0 is tracked apart). */
private[functions] final class LongHashSet(capacity: Int) {
  private val slots = new Array[Long](Integer.highestOneBit(2 * capacity - 1) << 1)
  private val shift = 64 - Integer.numberOfTrailingZeros(slots.length)
  private var hasZero = false

  /** Adds `v`; true when it was not already present. */
  def add(v: Long): Boolean =
    if (v == 0L) { val fresh = !hasZero; hasZero = true; fresh }
    else {
      val mask = slots.length - 1
      var i = ((v * 0x9E3779B97F4A7C15L) >>> shift).toInt
      while (slots(i) != 0L && slots(i) != v) i = (i + 1) & mask
      val fresh = slots(i) == 0L
      if (fresh) slots(i) = v
      fresh
    }
}

/** All n-token window strings of a token array, in position order
  * (non-distinct; the md5 unit of substringDedup). */
case class PositionalWindows(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"positional_windows requires array<string> tokens, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def windowsOf(arr: ArrayData): ArrayData = {
    val size = arr.numElements()
    val m = size - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (n == 1) arr.getUTF8String(i)
        else {
          val parts = new Array[UTF8String](2 * n - 1)
          var j = 0
          while (j < n) {
            parts(2 * j) = arr.getUTF8String(i + j)
            if (j < n - 1) parts(2 * j + 1) = ShingleKernels.Space
            j += 1
          }
          UTF8String.concat(parts: _*)
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    windowsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("positionalWindows", this,
      classOf[PositionalWindows].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.windowsOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "positional_windows"
}
