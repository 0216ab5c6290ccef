package graft

import org.apache.spark.sql.functions._

import graft.text.BoolDsl
import graft.text.BoolDsl._

/** Percolator scaling probe (round 13): exhaustive one-pass tree eval
  * vs the term-index-prefiltered form, as the REGISTERED QUERY COUNT
  * grows (the axis ES's candidate-query design exists for — corpus
  * scaling is the same linear scan either way, ×100 audit).
  *
  * Generated stored set: single-term matches over the corpus vocab
  * crossed with n_chars bands — every query extractable, the
  * percolator's common case. Equality of the two forms is asserted at
  * the smallest N each run (the spec pins it corpus-wide; here it
  * guards the probe itself).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.PercProbe [nQueries…]
  */
object PercProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default ceiling 10⁴ (r14): confirms the indexed form's
    // query-count scaling stays sub-linear well past the ≈100
    // crossover measured in r13
    val ns = (if (args.nonEmpty) args.toSeq
      else Seq("10", "50", "200", "800", "3000", "10000")).map(_.toInt)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir).cache()
    docs.count() // warm

    // vocab terms by frequency — enough raw material for any N
    val vocab = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(col("t") =!= "").groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(200)
      .collect().map(_.getString(0)).toSeq

    // `extra` synthetic never-occurring should-terms per query grow the
    // TERM TABLE (queries × terms) without growing the candidate set —
    // the axis that breaks the broadcast bound (r15, verdict #6). The
    // msm=1 should-group keeps match semantics identical to the
    // must-form (synthetic terms match nothing). `realEvery` thins the
    // real (candidate-generating) vocab term to every k-th query, so
    // the big-N rows scale the TABLE ×10 while the candidate volume —
    // the r14-measured cost driver — stays at the previous row's level.
    def mkQueries(n: Int, extra: Int = 0, realEvery: Int = 1): Seq[(String, Query)] =
      (0 until n).map { i =>
        val band = (i / vocab.size) * 40
        val synth = (0 until extra).map(j => MatchQ(s"zzsynth${i}x$j"))
        val should =
          if (i % realEvery == 0) MatchQ(vocab(i % vocab.size)) +: synth
          else synth
        s"pq$i" -> Bool(
          should = should, minimumShouldMatch = 1,
          filter = Seq(RangeQ("n_chars", gte = Some(band.toDouble))))
      }

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // warm all three plans once (untimed) at the smallest N so the
    // first timed row excludes JIT/plan-compile noise (r13 ADVICE: the
    // comment claimed this without the run existing)
    locally {
      val warmQs = mkQueries(ns.min)
      BoolDsl.percolateDsl(docs, warmQs).count()
      BoolDsl.percolateDslIndexed(docs, warmQs).count()
      BoolDsl.percolateDslIndexedAtScale(docs, warmQs).count()
    }

    // the exhaustive and CASE-chain forms die in the analyzer
    // (Column→Expression recursion stack overflow) between 800 and
    // 3000 stored queries — measured r14; only the at-scale
    // interpreter form runs past the cliff
    val chainCeiling = 800

    println(f"${"N"}%6s ${"exhaustive(s)"}%14s ${"indexed(s)"}%12s ${"atscale(s)"}%12s matches")
    ns.foreach { n =>
      val qs = mkQueries(n)
      val (tAt, nAt) = time(BoolDsl.percolateDslIndexedAtScale(docs, qs).count())
      if (n <= chainCeiling) {
        val (tEx, nEx) = time(BoolDsl.percolateDsl(docs, qs).count())
        val (tIx, nIx) = time(BoolDsl.percolateDslIndexed(docs, qs).count())
        require(nEx == nIx && nEx == nAt,
          s"form disagreement at N=$n: $nEx vs $nIx vs $nAt")
        println(f"$n%6d $tEx%14.2f $tIx%12.2f $tAt%12.2f $nEx")
      } else
        println(f"$n%6d ${"-"}%14s ${"-"}%12s $tAt%12.2f $nAt")
    }

    // term-TABLE scaling (r15, verdict #6): queries × terms grows to
    // 10⁷ while candidates stay fixed — the broadcast form ships the
    // whole table to every executor; the shuffle-hash form partitions
    // it. Equality asserted at the 10⁶ row where both forms run.
    println()
    println(f"${"Q×T"}%9s ${"bcast(s)"}%10s ${"shuffle(s)"}%12s matches")
    Seq((10000, 99, 1), (100000, 99, 10)).foreach { case (n, extra, realEvery) =>
      val qs = mkQueries(n, extra, realEvery)
      val rows = n * (extra + 1)
      val (tSh, nSh) = time(
        BoolDsl.percolateDslIndexedAtScale(docs, qs, termIndexShuffle = true)
          .count())
      if (rows <= BoolDsl.TermIndexBroadcastMaxRows) {
        val (tBc, nBc) = time(
          BoolDsl.percolateDslIndexedAtScale(docs, qs).count())
        require(nBc == nSh, s"form disagreement at Q×T=$rows: $nBc vs $nSh")
        println(f"$rows%9d $tBc%10.2f $tSh%12.2f $nSh")
      } else
        println(f"$rows%9d ${"-"}%10s $tSh%12.2f $nSh")
    }
    spark.stop()
  }
}
