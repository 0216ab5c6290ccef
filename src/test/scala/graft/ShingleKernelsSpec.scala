package graft

import org.apache.spark.sql.functions._
import graft.functions.ShingleKernels

/** r22: the [[ShingleKernels]] codegen kernels replace the HOF forms
  * of tokenHashes / shinglesFromTokenHashes / positionalWindows — pin
  * bit-identical output against those forms on the real corpus and on
  * the short/empty/duplicate edges. */
class ShingleKernelsSpec extends SparkSpec {

  private def hofTokenHashes(text: org.apache.spark.sql.Column) =
    transform(split(text, " "), t => xxhash64(t))

  private def hofShingles(th: org.apache.spark.sql.Column, n: Int) = {
    val chained = (1 until n).foldLeft(th) { (acc, j) =>
      zip_with(acc, slice(th, lit(j + 1), greatest(size(th) - j, lit(0))),
        (a, b) => xxhash64(a, b))
    }
    array_distinct(
      when(size(th) >= n, slice(chained, lit(1), size(th) - (n - 1)))
        .otherwise(array().cast("array<bigint>")))
  }

  private def hofWindows(toks: org.apache.spark.sql.Column, n: Int) = {
    val chained = (1 until n).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) >= n, slice(chained, lit(1), size(toks) - (n - 1)))
      .otherwise(array())
  }

  test("token_hashes is bit-identical to the transform-lambda form") {
    val docs = Tables.documents(spark, sfDir)
    val both = docs.select(col("doc_id"),
        ShingleKernels.tokenHashes(col("text")).as("a"),
        hofTokenHashes(col("text")).as("b"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2)))
  }

  test("hash_shingles is bit-identical to the zip_with chain (n = 1, 3, 5)") {
    val docs = Tables.documents(spark, sfDir)
    val th = docs.select(col("doc_id"),
      ShingleKernels.tokenHashes(col("text")).as("th"))
    Seq(1, 3, 5).foreach { n =>
      val both = th.select(col("doc_id"),
          ShingleKernels.hashShingles(col("th"), n).as("a"),
          hofShingles(col("th"), n).as("b"))
        .collect()
      both.foreach(r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"n=$n"))
    }
  }

  test("positional_windows is bit-identical to the zip_with concat chain") {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    Seq(1, 2, 8).foreach { n =>
      val both = toks.select(col("doc_id"),
          ShingleKernels.positionalWindows(col("toks"), n).as("a"),
          hofWindows(col("toks"), n).as("b"))
        .collect()
      both.foreach(r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"n=$n"))
    }
  }

  test("edges: short/empty token arrays and duplicate windows") {
    import spark.implicits._
    val df = Seq("", "a", "a b", "a b a b a b", "x x x").toDF("text")
      .select(col("text"), split(col("text"), " ").as("toks"))
    Seq(1, 2, 3).foreach { n =>
      val k = df.select(
          ShingleKernels.positionalWindows(col("toks"), n).as("a"),
          hofWindows(col("toks"), n).as("b"),
          ShingleKernels.hashShingles(
            ShingleKernels.tokenHashes(col("text")), n).as("c"),
          hofShingles(hofTokenHashes(col("text")), n).as("d"))
        .collect()
      k.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"win n=$n")
        assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"sh n=$n")
      }
    }
  }

  test("hash_shingles on long, duplicate-heavy, empty and null inputs: 50k tokens stay linear") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def doc(len: Int, vocab: Int) = Seq.fill(len)(s"w${rnd.nextInt(vocab)}").mkString(" ")
    val texts: Seq[Option[String]] = Seq(
      Some(doc(50000, 5000)), // nearly every shingle distinct
      Some(doc(50000, 12)),   // ≤ 1728 distinct 3-shingles, each ~29 times
      Some(doc(400, 7)),      // ≤ 343 distinct, mostly repeats
      Some(doc(300, 4)),      // ≤ 64 distinct
      Some(""), None)
    val df = texts.toDF("text").select(hofTokenHashes(col("text")).as("th"))
    Seq(1, 3).foreach { n =>
      val rows = df.select(ShingleKernels.hashShingles(col("th"), n).as("a"),
          hofShingles(col("th"), n).as("b"))
        .collect()
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n"))
      assert(rows.head.getSeq[Long](0).length > (if (n == 1) 4000 else 40000))
      assert(rows.last.getSeq[Long](0) == Seq.empty, "null input gives the empty array")
    }
    // n = 1 keeps the input values themselves: 0 (the set's empty-slot
    // marker) and negative keys, each repeated
    val arr = (1L to 300L).map(i => if (i % 2 == 0) -i else i) ++
      Seq(0L, 5L, 0L, -300L, 0L, 301L)
    val th = Seq(arr).toDF("th")
    val r = th.select(ShingleKernels.hashShingles(col("th"), 1),
      hofShingles(col("th"), 1)).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getSeq[Long](0) == arr.distinct)
  }
}
