package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DotProduct, L2Distance}

/** graft's one SQL function table. Every [[GraftSession]] session
  * carries it; a spark-submit deployment picks it up with
  * `--conf spark.sql.extensions=graft.GraftExtensions`, and a session
  * built elsewhere gets the same functions from
  * `GraftFunctions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSimilarity(es.head, es(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (es: Seq[Expression]) => DotProduct(es.head, es(1))),
    (FunctionIdentifier("l2_distance"),
      new ExpressionInfo(classOf[L2Distance].getName, "l2_distance"),
      (es: Seq[Expression]) => L2Distance(es.head, es(1))))
}
