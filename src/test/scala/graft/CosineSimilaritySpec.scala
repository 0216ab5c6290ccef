package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

class CosineSimilaritySpec extends SparkSpec {

  test("matches a reference double computation on real embeddings") {
    val emb = Tables.embeddings(spark, sfDir).limit(20).cache()
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", GraftFunctions.cosineSim(col("a"), col("b")))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val a = r.getSeq[Float](1); val b = r.getSeq[Float](3)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble; na += x.toDouble * x.toDouble; nb += y.toDouble * y.toDouble
      }
      val expect = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(r.getDouble(4) == expect, s"pair ${r.getLong(0)}-${r.getLong(2)}")
    }
  }

  test("identical and opposite vectors") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0f, 4.0f, 6.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(-1.0f, 0.0f, 0.0f))).toDF("a", "b")
    val out = df.select(GraftFunctions.cosineSim(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1) + 1.0) < 1e-12)
  }

  private val tableQuery = "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)), " +
    "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)), " +
    "l2_distance(array(0.0D, 0.0D), array(3.0D, 4.0D))"

  test("registered as a SQL function") {
    // `register` is the path for a session built without GraftExtensions:
    // here a fresh session with the factory's functions dropped
    val s = spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val names = GraftExtensions.functions.map(_._1.funcName)
    names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    names.foreach { n =>
      intercept[AnalysisException](s.sql(s"SELECT $n(array(1.0D), array(1.0D))").collect())
    }
    GraftFunctions.register(s)
    val Row(cos: Double, dot: Double, l2: Double) = s.sql(tableQuery).head()
    assert(math.abs(cos - 1.0) < 1e-12 && dot == 11.0 && l2 == 5.0)
  }

  test("dot_product matches reference computation and registers in SQL") {
    val Row(v: Double) = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))").head()
    assert(v == 32.0)
    import spark.implicits._
    val df = Seq((Array(1.5f, -2.0f), Array(2.0f, 0.5f))).toDF("a", "b")
    val out = df.select(GraftFunctions.dotProduct(col("a"), col("b"))).as[Double].head()
    assert(out == (1.5 * 2.0 + -2.0 * 0.5))
  }

  test("a GraftSession session resolves the function table without register") {
    // a new session of the factory's context: its function registry comes
    // from the extensions alone
    val fresh = spark.newSession()
    val Row(cos: Double, dot: Double, l2: Double) = fresh.sql(tableQuery).head()
    assert(math.abs(cos - 1.0) < 1e-12 && dot == 11.0 && l2 == 5.0)
  }

  test("GraftExtensions builders construct the right expressions") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val byName = GraftExtensions.functions
      .map { case (id, _, b) => id.funcName -> b }.toMap
    assert(byName.keySet == Set("cosine_sim", "dot_product", "l2_distance"))
    val args = Seq(Literal.create(Array(1.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      Literal.create(Array(2.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
    assert(byName("cosine_sim")(args).isInstanceOf[graft.functions.CosineSimilarity])
    assert(byName("dot_product")(args).isInstanceOf[graft.functions.DotProduct])
  }

  test("null inputs yield null") {
    val r = spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))").head()
    assert(r.isNullAt(0))
  }
}
