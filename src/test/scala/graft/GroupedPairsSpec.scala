package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.CacheManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.dedup.{Dedup, MinHash}
import graft.functions.GraftFunctions
import graft.similarity.Ann

/** [[graft.functions.GroupedCosinePairs]] through `Dedup.groupedPairs`:
  * the rows equal the probe-key self-join + `dropDuplicates` form the
  * IVF and LSH near-dup paths used before it, bit for bit, and carry
  * each pair once; a zero vector pairs with nothing. Also: the public
  * pair operators leave no cache-manager entry behind. */
class GroupedPairsSpec extends SparkSpec {

  /** The self-join form: every pair sharing a key, deduplicated. */
  private def selfJoinPairs(e: DataFrame, keys: Column, tau: Double): DataFrame = {
    val lists = e.select(col("vec_id"), col("embedding"), explode(keys).as("key"))
    lists.select(col("key"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      .join(lists.select(col("key"), col("vec_id").as("b_id"), col("embedding").as("b_emb")),
        Seq("key"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_sim", GraftFunctions.cosineSim(col("a_emb"), col("b_emb")))
      .filter(col("cos_sim") >= tau && !isnan(col("cos_sim")))
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id", "cos_sim")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))

  private def frame(vecs: Seq[Seq[Double]], float: Boolean): DataFrame = {
    val et = if (float) FloatType else DoubleType
    val data = vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong * 3 + 1, if (float) v.map(_.toFloat) else v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(et)))))
  }

  // coordinates from a small integer set: duplicate vectors, zero
  // vectors (a NaN cosine, which pairs with nothing) and exact ties
  // against centroids are common
  private val coord: Gen[Double] = Gen.oneOf(-2.0, -1.0, 0.0, 0.0, 1.0, 2.0, 0.5)

  private case class Case(vecs: Seq[Seq[Double]], float: Boolean, ivf: Boolean,
      cents: Seq[Seq[Double]], nprobe: Int, nbits: Int, tables: Int, tau: Double)

  private val cases: Gen[Case] = for {
    dim <- Gen.choose(1, 5)
    n <- Gen.frequency(1 -> Gen.choose(0, 1), 6 -> Gen.choose(2, 40))
    vecs <- Gen.listOfN(n, Gen.listOfN(dim, coord))
    dup <- Gen.choose(0, 4) // copies of the first vector under fresh ids
    float <- Gen.oneOf(true, false)
    ivf <- Gen.oneOf(true, false)
    nCent <- Gen.choose(1, 6)
    cents <- Gen.listOfN(nCent, Gen.listOfN(dim, coord))
    nprobe <- Gen.choose(1, 4)
    nbits <- Gen.choose(1, 3)
    tables <- Gen.choose(1, 4)
    tau <- Gen.oneOf(-1.0, 0.0, 0.3, 0.7, 0.95, 1.0)
  } yield Case(vecs ++ Seq.fill(if (vecs.isEmpty) 0 else dup)(vecs.head),
    float, ivf, cents, nprobe, nbits, tables, tau)

  private def keys(c: Case): Column =
    if (c.ivf) GraftFunctions.topCentroids(col("embedding"),
      c.cents.map(_.toArray).toArray, c.nprobe).cast("array<bigint>")
    else {
      val dim = c.vecs.headOption.map(_.length).getOrElse(1)
      array((0 until c.tables).map(t =>
        lit(t.toLong << 32) + Ann.bucketCol(col("embedding"), dim, c.nbits, t)): _*)
    }

  test("grouped pairs equal the self-join + dropDuplicates form bit for bit, each pair once") {
    val prop = Prop.forAll(cases) { c =>
      val e = frame(c.vecs, c.float)
      val got = rows(Dedup.groupedPairs(e, keys(c), c.tau))
      val want = rows(selfJoinPairs(e, keys(c), c.tau))
      val once = got.map(p => (p._1, p._2)).distinct.length == got.length
      if (got.sorted != want.sorted || !once)
        println(s"MISMATCH $c\n got=${got.sorted}\n want=${want.sorted}")
      got.sorted == want.sorted && once
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("the LSH path equals the self-join form on the corpus embeddings") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = array((0 until 8).map(t =>
      lit(t.toLong << 32) + Ann.bucketCol(col("embedding"), 64, 4, t)): _*)
    val want = rows(selfJoinPairs(emb, k, 0.3))
    assert(want.nonEmpty)
    assert(rows(Dedup.embeddingNearDupLsh(emb, 0.3, nbits = 4, tables = 8)).sorted == want.sorted)
  }

  test("a zero vector pairs with nothing on the exact, IVF and LSH paths") {
    // two zero vectors and two parallel ones: a pair with a zero side
    // scores 0/0 = NaN, which SQL orders above every tau, while DuckDB's
    // oracle scores it -1; the parallel pair shows each path still pairs
    val x = Seq.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    val e = frame(Seq(Seq.fill(64)(0.0), Seq.fill(64)(0.0), x, x.map(_ * 2)), float = false)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((7L, 10L)) // frame's ids are 1, 4, 7, 10
    assert(pairs(Dedup.groupedPairs(e, array(lit(0L)), 0.5)) == want, "one key")
    assert(pairs(Dedup.embeddingNearDup(e, 0.5)) == want, "exact")
    assert(pairs(Dedup.embeddingNearDupIvf(e, 0.5)) == want, "IVF")
    assert(pairs(Dedup.embeddingNearDupLsh(e, 0.5, nbits = 1, tables = 8)) == want, "LSH")
  }

  private def cacheEntries: Int = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[_]].length
  }

  test("three calls of each public pair operator leave the cache manager as they found it") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val (old, fresh) = (docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "MinHash.nearDupPairs" -> (() => MinHash.nearDupPairs(docs)),
      "Dedup.ngramJaccard" -> (() => Dedup.ngramJaccard(docs, 3, 0.8)),
      "Dedup.containment" -> (() => Dedup.containment(docs, 3, 0.9)),
      "Dedup.embeddingNearDupAuto" -> (() => Dedup.embeddingNearDupAuto(emb, 0.45)),
      "Dedup.embeddingNearDupIvf" -> (() => Dedup.embeddingNearDupIvf(emb, 0.4)),
      "Dedup.embeddingNearDupLsh" -> (() => Dedup.embeddingNearDupLsh(emb, 0.6)),
      "MinHash.incrementalNearDupPairs" -> (() => MinHash.incrementalNearDupPairs(old, fresh)),
      "Dedup.incrementalNgramJaccard" -> (() => Dedup.incrementalNgramJaccard(old, fresh, 3, 0.8)))
    val leaks = ops.flatMap { case (name, op) =>
      val before = cacheEntries
      (1 to 3).foreach(_ => op().count())
      if (cacheEntries == before) None else Some(s"$name $before -> $cacheEntries")
    }
    assert(leaks.isEmpty, s"cache-manager entries: ${leaks.mkString("; ")}")
  }
}
