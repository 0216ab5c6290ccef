package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, TopKPairs, TopKPairsMulti}
import graft.similarity.Ann

/** r22 candidate-stage rework (VERDICT r21 #5): the codegen'd ADC
  * kernel ([[graft.functions.PqAdcScores]]/[[graft.functions
  * .PqAdcScore]]) and the multi-query bounded top-k
  * ([[graft.functions.TopKPairsMulti]]) must reproduce the exploded
  * `pqAdcCol` + per-query [[TopKPairs]] form EXACTLY — ann_pq_topk is
  * rows-only at the oracle gate, so equivalence is pinned here. */
class PqAdcSpec extends SparkSpec {

  private def randLut(nQ: Int, m: Int, ks: Int, seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nQ)(Seq.fill(m)(Seq.fill(ks)(rnd.nextGaussian())))
  }

  test("PqAdcScores is bit-identical to the aggregate(...) LUT fold") {
    import spark.implicits._
    val nQ = 7; val m = 16; val ks = 16
    val lut = randLut(nQ, m, ks, 42L)
    val rnd = new java.util.Random(7L)
    val rows = (0 until 200).map(i =>
      (i.toLong, Seq.fill(m)(rnd.nextInt(ks))))
    val df = rows.toDF("cand_id", "codes")
      .select(col("cand_id"), col("codes").cast("array<int>").as("codes"))
    val lutLit = typedlit(lut)
    val oldCols = (0 until nQ).map(q =>
      Ann.pqAdcCol(lutLit, lit(q), col("codes"), m).as(s"o$q"))
    val got = df.select(
        (GraftFunctions.pqAdcScores(col("codes"), lut).as("s")) +: oldCols: _*)
      .collect()
    got.foreach { r =>
      val s = r.getSeq[Double](0)
      (0 until nQ).foreach { q =>
        // bit-identical, not approximately equal: same add order
        assert(java.lang.Double.doubleToLongBits(s(q)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1 + q)))
      }
    }
  }

  test("PqAdcScore (per-row qi) matches the fold too") {
    import spark.implicits._
    val nQ = 5; val m = 8; val ks = 4
    val lut = randLut(nQ, m, ks, 11L)
    val rnd = new java.util.Random(3L)
    val rows = (0 until 100).map(i =>
      (i.toLong, rnd.nextInt(nQ), Seq.fill(m)(rnd.nextInt(ks))))
    val df = rows.toDF("cand_id", "qi", "codes")
      .select(col("cand_id"), col("qi"), col("codes").cast("array<int>").as("codes"))
    val got = df.select(
        GraftFunctions.pqAdcScore(col("codes"), col("qi"), lut).as("a"),
        Ann.pqAdcCol(typedlit(lut), col("qi"), col("codes"), m).as("b"))
      .collect()
    got.foreach(r => assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("TopKPairsMulti equals per-query TopKPairs incl. ties and self-skip") {
    import spark.implicits._
    val nQ = 4; val k = 5
    val queryIds = Array(0L, 1L, 2L, 3L)
    val rnd = new java.util.Random(19L)
    // deliberate ties: scores drawn from a small discrete set
    val rows = (0L until 300L).map(i =>
      (i, Seq.fill(nQ)((rnd.nextInt(7) - 3).toDouble)))
    val df = rows.toDF("id", "scores")
      .select(col("id"), col("scores").cast("array<double>").as("scores"))
    def multi(parts: Int) = df.repartition(parts)
      .agg(TopKPairsMulti.topKAll(col("scores"), col("id"), k, queryIds).as("tops"))
      .select(posexplode(col("tops")).as(Seq("qi", "top")))
      .select(col("qi"), explode(col("top")).as("s"))
      .select(col("qi"), col("s.score"), col("s.id"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toList
    // reference: the old exploded shape with per-query TopKPairs
    val ref = df.select(col("id"),
        posexplode(col("scores")).as(Seq("qi", "sc")))
      .filter(col("id") =!= element_at(typedlit(queryIds.toSeq), col("qi") + 1))
      .groupBy("qi")
      .agg(TopKPairs.topK(col("sc"), col("id"), k).as("top"))
      .select(col("qi"), explode(col("top")).as("s"))
      .select(col("qi"), col("s.score"), col("s.id"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      .sortBy(t => (t._1, -t._2, t._3)).toList
    val a = multi(1)
    assert(a == multi(13)) // partitioning-independent (merge path)
    assert(a.sortBy(t => (t._1, -t._2, t._3)) == ref)
  }

  test("TopKPairsMulti fails naming both lengths on a scores array shorter than the query ids") {
    import spark.implicits._
    val df = Seq((7L, Seq(1.0, 2.0))).toDF("id", "scores")
    val e = intercept[Exception](df
      .agg(TopKPairsMulti.topKAll(col("scores"), col("id"), 2, Array(0L, 1L, 2L)))
      .collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("has 2 elements but there are 3 query ids")), msgs)
  }

  test("pqTopK equals the previous exploded candidate-stage form end-to-end") {
    val emb = Tables.embeddings(spark, sfDir)
    val nQueries = 10; val k = 5; val m = 16; val ks = 16
    val rounds = 2; val refine = 10
    // the previous form, verbatim (pqAdcCol + posexplode + TopKPairs)
    val e64 = col("embedding").cast("array<double>")
    val dim = emb.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    val sub = dim / m
    val cbs = Ann.pqTrainCodebooks(emb, dim, m, ks, rounds)
    val coded = emb.select(col("vec_id").as("cand_id"),
      Ann.pqEncodeCol(e64, cbs, sub).as("codes"))
    val qRows = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), e64.as("e")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val lutLit = typedlit(Ann.pqLut(qRows.map(_._2).toSeq, cbs, sub))
    val qIds = typedlit(qRows.map(_._1).toSeq)
    val oldApprox = coded
      .select(col("cand_id"), col("codes"),
        posexplode(qIds).as(Seq("qi", "query_id")))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"),
        Ann.pqAdcCol(lutLit, col("qi"), col("codes"), m).as("approx"),
        col("cand_id"))
      .groupBy("query_id")
      .agg(TopKPairs.topK(col("approx"), col("cand_id"), refine * k).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("cand_id"))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val rer = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .join(broadcast(oldApprox), Seq("cand_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"),
        GraftFunctions.cosineSim(col("q_emb"), col("c_emb")).as("cos_sim"),
        col("cand_id"))
    val oldOut = rer.groupBy("query_id")
      .agg(TopKPairs.topK(col("cos_sim"), col("cand_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).as("rank"),
        col("s.id").as("cand_id"), col("s.score").as("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val now = Ann.pqTopK(emb, nQueries, k, m, ks, rounds, refine)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(now == oldOut)
    assert(now.size == nQueries * k)
  }
}
