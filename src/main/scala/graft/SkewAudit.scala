package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Skew-injected scale audit for the df-bounded min-shingle bucket
  * rule (`Dedup.hotShingleTable`/`dfBoundedMinBuckets`): the
  * decorrelated bench corpora cannot exhibit the Zipfian hot-bucket
  * hazard (max natural 3-gram df is 7-25), so this audit injects one —
  * a lexicographically-minimal shingle carried by 40% of docs, i.e.
  * the shingle the UNBOUNDED min rule would bucket 40% of the corpus
  * on and do occupancy² confirm work. It times the three df-bounded
  * operators on the skewed corpus and counts candidate pairs under
  * both rules (the unbounded rule's pair count is the counterfactual
  * quadratic — counted, not confirmed: confirming it at ×10 would BE
  * the quadratic).
  *
  * Mode `many` additionally gives every carrier a pool-indexed hot
  * RUN — doc_id-grouped prefixes sized so THOUSANDS of distinct
  * shingles exceed maxDf (~0.4·n/20 groups × 18 shingles each,
  * df ≈ 20 per shingle) — the hot-set CARDINALITY hazard that kills a
  * collected gauge (a multi-GB single-row broadcast array on real
  * Zipfian text) but is just another shingle-keyed join input for the
  * join-form bound. Flat many/one time ratios at a given SF, and flat
  * ×10 ratios in many mode, are the evidence the materialization
  * scales with hot-set cardinality.
  *
  * Usage: runMain graft.SkewAudit <sfDir> [maxDf] [one|many]
  * Prints one JSON line; run at sf0.1 and its ×10 ScaleUp derivation
  * and compare times — the SCALING.md df-bound table comes from this.
  */
object SkewAudit {

  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val maxDf = if (args.length > 1) args(1).toLong else 16L
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val mode = if (args.length > 2) args(2) else "one"
    val base = Tables.documents(spark, dir)
    val nAll = base.count()
    // `one` mode: a single 40%-df shingle that is every carrier's min
    // (the occupancy hazard). `many` mode: the same, PLUS a per-group
    // run of 20 pool tokens — groups sized so each run shingle lands at
    // df ≈ 20 (> maxDf=16) and the distinct hot count is ~0.4·n/20·18
    // (thousands at sf0.1 ×10) — the cardinality hazard.
    val nGroups = math.max(8L, nAll * 2 / 5 / 20)
    // carrier index (bijective over doc_id%5<2 docs) mod nGroups: every
    // group is hit evenly, so every run shingle's df clears maxDf
    val carrierIdx = floor(col("doc_id") / 5) * 2 + pmod(col("doc_id"), lit(5))
    val hotRun =
      if (mode == "many")
        concat_ws(" ", (0 until 20).map(j =>
          concat(lit("!g"), pmod(carrierIdx, lit(nGroups)), lit(s"t$j"))): _*)
      else lit("")
    val skewed = base.withColumn("text",
      when(col("doc_id") % 5 < 2,
        concat_ws(" ", lit("!a !b !c"), hotRun, col("text")))
        .otherwise(col("text")))
    val nDocs = nAll

    // candidate-pair counts under both rules (count only — no confirm);
    // null buckets (docs shorter than n tokens shingle to the empty
    // set) never match in the real equi-join, so exclude them here too
    val s = skewed
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), Dedup.shingleSetFromTokens(col("toks"), 3).as("sh"))
      .persist()
    def pairCount(slim: DataFrame): Long =
      slim.filter(col("bucket").isNotNull)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1))).head().getLong(0) / 2
    val hotTable = Dedup.hotShingleTable(s, maxDf).persist()
    val nHot = hotTable.count()
    val unboundedCand = pairCount(
      s.select(array_min(col("sh")).as("bucket"), col("doc_id")))
    val boundedCand = pairCount(Dedup.dfBoundedMinBuckets(s, hotTable))
    s.unpersist()
    spark.catalog.clearCache()

    val (tNg, nNg) = timed(Dedup.ngramJaccard(skewed, 3, 0.8, maxDf).count())
    spark.catalog.clearCache()
    val (tCo, nCo) = timed(Dedup.containment(skewed, 3, 0.9, 4, maxDf).count())
    spark.catalog.clearCache()
    val (tIn, nIn) = timed(Dedup.incrementalNgramJaccard(
      skewed.filter(col("doc_id") % 10 =!= 0),
      skewed.filter(col("doc_id") % 10 === 0), 3, 0.8, maxDf).count())
    spark.catalog.clearCache()

    println(s"""{"audit":"skew_dfbound","dir":"$dir","mode":"$mode","n_docs":$nDocs,"max_df":$maxDf,"n_hot_shingles":$nHot,""" +
      s""""candidates_bounded":$boundedCand,"candidates_unbounded":$unboundedCand,""" +
      s""""ngram_sec":${f"$tNg%.2f"},"ngram_pairs":$nNg,""" +
      s""""containment_sec":${f"$tCo%.2f"},"containment_pairs":$nCo,""" +
      s""""incremental_sec":${f"$tIn%.2f"},"incremental_pairs":$nIn}""")
    spark.stop()
  }
}
