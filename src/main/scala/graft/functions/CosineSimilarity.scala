package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over `array<float>` / `array<double>`.
  *
  * The hot path of dedup_embedding / ann_* (SURVEY §2): a whole-stage-
  * codegen friendly scalar, not a Scala UDF, so similarity scans stay
  * inside Tungsten codegen at 100 TB.
  *
  * Numerics are pinned for the oracle: sequential double accumulation and
  * the exact form `dot / (sqrt(na) * sqrt(nb))`, which is bit-identical to
  * DuckDB's `list_cosine_similarity` over `DOUBLE[]` (verified empirically;
  * the alternative `dot / sqrt(na*nb)` differs in the last ulp on ~30% of
  * pairs). Float inputs are promoted element-wise (exact).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float|double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left); val rf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.$lGet($i);
         |  double $yi = (double) $b.$rGet($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** DataFrame-facing entry points for graft's custom expressions. */
object GraftFunctions {

  /** `cosine_sim(a, b)` as a Column (no registration needed). */
  def cosineSim(a: Column, b: Column): Column =
    Glue.column(CosineSimilarity(Glue.expression(a), Glue.expression(b)))

  /** `dot_product(a, b)` as a Column (no registration needed). */
  def dotProduct(a: Column, b: Column): Column =
    Glue.column(DotProduct(Glue.expression(a), Glue.expression(b)))

  /** `l2_distance(a, b)` as a Column (no registration needed). */
  def l2Distance(a: Column, b: Column): Column =
    Glue.column(L2Distance(Glue.expression(a), Glue.expression(b)))

  /** `grouped_cosine_pairs(key, members, tau)`, a generator of one
    * probe group's scored pairs — see [[GroupedCosinePairs]]. */
  def groupedCosinePairs(key: Column, members: Column, tau: Double): Column =
    Glue.column(GroupedCosinePairs(Glue.expression(key), Glue.expression(members), tau))

  /** `top_centroids(emb)` against a constant centroid matrix — see
    * [[TopCentroids]]. */
  def topCentroids(emb: Column, cents: Array[Array[Double]], k: Int): Column =
    Glue.column(TopCentroids(Glue.expression(emb), cents, k))

  /** `top_centroids` with the matrix behind a SparkContext broadcast —
    * the large-matrix form (see [[TopCentroidsBcast]]). */
  def topCentroidsBcast(emb: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      k: Int): Column =
    Glue.column(TopCentroidsBcast(Glue.expression(emb), bc, k))

  /** All-queries PQ ADC scores against a constant LUT stack — see
    * [[PqAdcScores]]. `lut(q)(j)(code)` indexing, [[graft.similarity
    * .Ann.pqLut]]'s layout. */
  def pqAdcScores(codes: Column, lut: Seq[Seq[Seq[Double]]]): Column = {
    val (flat, nQ, m, ks) = PqAdc.flatten(lut)
    Glue.column(PqAdcScores(Glue.expression(codes), flat, nQ, m, ks))
  }

  /** Single-query PQ ADC score `pq_adc_score(codes, qi)` — see
    * [[PqAdcScore]]. */
  def pqAdcScore(codes: Column, qi: Column, lut: Seq[Seq[Seq[Double]]]): Column = {
    val (flat, nQ, m, ks) = PqAdc.flatten(lut)
    Glue.column(PqAdcScore(Glue.expression(codes), Glue.expression(qi),
      flat, nQ, m, ks))
  }

  /** Register [[graft.GraftExtensions]]' functions in a session that
    * was not built with them, so `spark.sql("SELECT cosine_sim(...)")`
    * works (SURVEY §2: FunctionRegistry registration). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.functions.foreach { case (id, _, builder) =>
      Glue.registerFunction(spark, id.funcName, builder)
    }
}
