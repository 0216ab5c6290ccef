package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{Ann, AnnIndex}

/** ≥10⁵-vector validation of the ANN family (VERDICT r17 #1 — carried
  * from r15 #2: every recall / candidate-ratio / occupancy claim in
  * SURVEY §2 was measured on the 500-vector verify corpus, where a
  * probe cannot separate quantizer noise from design error).
  *
  * Synthesizes a deterministic unit-norm corpus (hash-seeded Gaussian
  * per vec_id — partitioning-independent, no RNG state; uniform
  * directions = the quantizer WORST case, so every floor measured here
  * is conservative) plus PLANTED near-duplicate pairs for the dedup
  * branch (noisy copies with known exact cosine — the only tractable
  * ground truth at 10⁵: the all-pairs exact near-dup baseline is 5·10⁹
  * cosines), then re-measures, at nCentroids ∝ √n:
  *
  *  - IVF recall@5 + rank-1 exactness + candidate ratio per nprobe;
  *  - flat-PQ recall@5, codebooks trained FULL vs on a 10% SAMPLE
  *    (the faiss discipline §2 promises at scale);
  *  - IVFADC (maintained index) recall@5 + probed-candidate ratio;
  *  - int8 / int8-refined / binary-BBQ recall@5 vs their spec floors;
  *  - the LSH-vs-IVF τ-dispatch boundary on planted-pair recall and
  *    wall time.
  *
  * Results land in SCALING.md ("ANN at 10⁵ vectors", r17). Probe-only
  * code: correctness still gates on the driver's parquet via Verify.
  *
  * Usage: runMain graft.AnnScaleProbe <n> [probe...]
  *   probes: ivf pq ivfadc quant dedup cliff
  *     (default: all of the above)
  *   extra, NOT in the default set (run by name):
  *     pq40      — the flat-PQ ks=256/refine=40 working point alone,
  *                 a cheap re-check without the full `pq` grid;
  *     ivfadc256 — the IVFADC ks=256-word rung (r17's named next
  *                 step): full index build + probe sweep, expensive;
  *     nprobelaw — probe-width law constant on uniform vs
  *                 zipf-clustered corpora at matched k=⌈√n⌉ (r20,
  *                 VERDICT r19 #1): plain-IVF recall per nprobe
  *                 including the autoNprobe default;
  *     coarsebound — sampled-COARSE penalty vs the r19 full-coarse
  *                 ks=256 reference at matched k/nprobe/refine (r20,
  *                 VERDICT r19 #2 — bounds the 10⁷ rung's confound);
  *     semdedup  — SemDeDup centroid-source comparison (r19, VERDICT
  *                 r18 #1): occupancy skew (max/mean), within-cluster
  *                 pair work Σn_c² vs the n²/k model, prune wall, and
  *                 planted-pair prune agreement for frozen-random k=8
  *                 (the r18 wiring), frozen-random k=⌈√n⌉, and
  *                 Lloyd-trained k=⌈√n⌉ — on the uniform corpus AND a
  *                 Zipf-clustered one (real embeddings concentrate;
  *                 random centroids make hot cells there).
  */
object AnnScaleProbe {

  private val Dim = 64
  private val NQueries = 100
  private val K = 5

  /** splitmix64 — deterministic per-(id, lane) stream seed. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Unit-norm deterministic Gaussian direction for one id. */
  private def unitVec(id: Long, lane: Long): Array[Float] = {
    val rnd = new java.util.Random(mix(id * 1315423911L + lane))
    val v = Array.fill(Dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** The noisy twin of base vector `baseId` — ONE definition shared by
    * the Spark-side generator and the driver-side planted-pair ground
    * truth, so the cosines are bit-exact by construction. */
  private def twinVec(baseId: Long, eps: Double): Array[Float] = {
    val v = unitVec(baseId, 0)
    val rnd = new java.util.Random(mix(baseId * 7778777L + 5))
    val noisy = v.map(x => x.toDouble + eps * rnd.nextGaussian())
    val nn = math.sqrt(noisy.map(x => x * x).sum)
    noisy.map(x => (x / nn).toFloat)
  }

  /** Graded twin noise: eps(j) spans ~[0.03, 0.15] so planted cosines
    * spread ≈ 0.97 … 0.6 (cos ≈ 1/√(1+dim·eps²)) — the near-dup
    * hardness range a real corpus carries, not a single point. */
  private def epsOf(j: Long, planted: Int): Double =
    0.03 + 0.12 * j.toDouble / math.max(1, planted - 1)

  /** n uniform unit vectors + `planted` noisy twins: twin j (vec_id
    * n+j) copies base j·(n/planted) with graded Gaussian noise
    * (re-normalized). */
  private def corpus(spark: SparkSession, n: Long, planted: Int): DataFrame = {
    import spark.implicits._
    val step = n / math.max(1, planted)
    val base = spark.range(0, n, 1, 32)
      .map(id => (id.longValue, unitVec(id.longValue, 0).toSeq))
    val twins = spark.range(0, planted.toLong, 1, 8).map { j =>
      (n + j.longValue, twinVec(j.longValue * step, epsOf(j.longValue, planted)).toSeq)
    }
    base.union(twins).toDF("vec_id", "embedding")
  }

  /** Planted (a_id, b_id, exact cosine) triples — cosine computed on
    * the SAME float arrays the corpus stores, in double (the engines'
    * cosine domain). */
  private def plantedPairs(n: Long, planted: Int): Seq[(Long, Long, Double)] = {
    val step = n / math.max(1, planted)
    (0 until planted).map { j =>
      val baseId = j * step
      val vf = unitVec(baseId, 0).map(_.toDouble)
      val wf = twinVec(baseId, epsOf(j.toLong, planted)).map(_.toDouble)
      val dot = vf.zip(wf).map { case (a, b) => a * b }.sum
      val na = math.sqrt(vf.map(x => x * x).sum)
      val nb = math.sqrt(wf.map(x => x * x).sum)
      (baseId, n + j, dot / (na * nb))
    }
  }

  /** Zipf-clustered corpus: 128 hash-seeded centers, cell mass
    * ∝ 1/√rank (u² index), spread 0.08 (within-blob cosine ≈ 0.66 —
    * coherent topics): the CONCENTRATED regime real embedding models
    * produce, where random centroids make hot cells. Written once per
    * n, shared by the semdedup and nprobelaw probes. */
  private def clusteredCorpus(spark: SparkSession, n: Long): DataFrame = {
    val g = 128
    val spread = 0.08
    val dirC = s"/tmp/annscale/v3c$n"
    if (!new java.io.File(s"$dirC/_SUCCESS").exists()) {
      import spark.implicits._
      spark.range(0, n, 1, 32).map { idL =>
        val id = idL.longValue
        val u = (mix(id * 31L + 17L) >>> 11).toDouble / (1L << 53).toDouble
        val c = math.min(g - 1, (u * u * g).toInt)
        val cent = unitVec(1000003L + c, 7)
        val rnd = new java.util.Random(mix(id * 2654435761L + 3))
        val v = cent.map(x => x + spread * rnd.nextGaussian())
        val nn = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(x => (x / nn).toFloat).toSeq)
      }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dirC)
    }
    spark.read.parquet(dirC)
  }

  private def groundTruth(emb: DataFrame): Map[Long, Set[Long]] =
    Ann.bruteForceTopKAgg(emb, NQueries, K).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  private def recallOf(got: DataFrame, truth: Map[Long, Set[Long]]): Double = {
    val g = got.select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val hits = truth.toSeq.map { case (q, t) =>
      g.getOrElse(q, Set.empty).count(t) }.sum
    hits.toDouble / (truth.size * K)
  }

  private def rank1Of(got: DataFrame, emb: DataFrame): Double = {
    val exact1 = Ann.bruteForceTopKAgg(emb, NQueries, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got1 = got.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    exact1.count { case (q, c) => got1.get(q).contains(c) }.toDouble / exact1.size
  }

  private def timeIt[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val probes = if (args.length > 1) args.drop(1).toSet
      else Set("ivf", "pq", "ivfadc", "quant", "dedup", "cliff")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    def log(s: String): Unit = println(s"[annscale] $s")

    val planted = 500
    val dir = s"/tmp/annscale/v2u$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      corpus(spark, n, planted).write.mode("overwrite").parquet(dir)
      log(s"corpus written: $n uniform + $planted planted twins -> $dir")
    }
    val emb = spark.read.parquet(dir).persist()
    log(s"corpus rows: ${emb.count()}")

    val nCent = math.ceil(math.sqrt(n.toDouble)).toInt // ∝ √n — the §2 discipline
    lazy val truth = groundTruth(emb)

    if (probes("ivf")) {
      log(s"--- IVF: nCentroids=$nCent (=ceil sqrt n), Lloyd 3 rounds ---")
      for (nprobe <- Seq(4, 8, 16)) {
        val (got, t) = timeIt(
          Ann.ivfTopK(emb, NQueries, K, nCent, nprobe, 3).persist())
        got.count()
        val r = recallOf(got, truth)
        val r1 = rank1Of(got, emb)
        log(f"ivf nprobe=$nprobe%2d expected-cand-ratio=${nprobe.toDouble / nCent}%.4f recall@5=$r%.3f rank1=$r1%.3f wall=${t}%.1f s")
        got.unpersist()
      }
    }

    if (probes("pq40")) {
      // the 10⁶ working-point rung alone: ks=256 codes + refine=40
      val (got, t) = timeIt(Ann.pqTopK(emb, NQueries, K, ks = 256,
        refine = 40).persist())
      got.count()
      log(f"pq m16 ks256 refine40 full    recall@5=${recallOf(got, truth)}%.3f wall=$t%.1f s")
      got.unpersist()
    }

    if (probes("pq")) {
      log("--- flat PQ: parameterization sweep at scale ---")
      // 10% sample, ids remapped dense so the deterministic seeding
      // keeps its ks seeds (vec_id < ks must exist in the sample)
      val sample = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", (col("vec_id") / 10).cast("long"))
      for ((label, ks, refine, trainOn) <- Seq(
          ("m16 ks16  refine10 full   ", 16, 10, null: DataFrame),
          ("m16 ks16  refine10 sampled", 16, 10, sample),
          ("m16 ks16  refine40 full   ", 16, 40, null: DataFrame),
          ("m16 ks256 refine10 full   ", 256, 10, null: DataFrame),
          ("m16 ks256 refine10 sampled", 256, 10, sample))) {
        val (got, t) = timeIt(Ann.pqTopK(emb, NQueries, K, ks = ks,
          refine = refine, trainOn = trainOn).persist())
        got.count()
        log(f"pq $label recall@5=${recallOf(got, truth)}%.3f wall=$t%.1f s")
        got.unpersist()
      }
    }

    if (probes("ivfadc")) {
      log(s"--- IVFADC maintained index: nCentroids=$nCent, pqM=16, 3 ingest batches ---")
      val root = s"/tmp/annscale/idx$n"
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val (_, tTrain) = timeIt(
        AnnIndex.trainCentroids(emb, 0L, root, nCent, 3, pqM = 16))
      val (_, tIngest) = timeIt(
        (0L until 3L).foreach(b =>
          AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, root)))
      log(f"index build: train=$tTrain%.1f s ingest(3 batches)=$tIngest%.1f s")
      val sizes = AnnIndex.assignments(spark, root)
        .groupBy("cent_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = sizes.values.sum
      for ((nprobe, refine) <- Seq((8, 10), (16, 10), (8, 40), (16, 40))) {
        val (got, t) = timeIt(
          AnnIndex.ivfpqTopKIndexed(spark, root, emb, NQueries, K,
            nprobe, refine).persist())
        got.count()
        val ratio = nprobe.toDouble / nCent // expected probed-list mass / corpus
        log(f"ivfadc nprobe=$nprobe%2d refine=$refine%2d recall@5=${recallOf(got, truth)}%.3f cand-ratio≈$ratio%.4f wall=$t%.1f s (corpus mass $total)")
        got.unpersist()
      }
      // sampled-CODEBOOK variant (the faiss discipline): coarse
      // centroids still train on the full frame, only the PQ codebooks
      // train on the 10% sample — r17 round-1 probe trained BOTH on
      // the sample and halved recall (centroid under-training, 31
      // vectors a list; recorded in SCALING.md)
      val sample = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", (col("vec_id") / 10).cast("long"))
      val rootS = s"/tmp/annscale/idxs$n"
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(rootS), true)
      AnnIndex.trainCentroids(emb, 0L, rootS, nCent, 3, pqM = 16,
        pqTrainOn = sample)
      (0L until 3L).foreach(b =>
        AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, rootS))
      val (gotS, tS) = timeIt(
        AnnIndex.ivfpqTopKIndexed(spark, rootS, emb, NQueries, K, 8,
          40).persist())
      gotS.count()
      log(f"ivfadc sampled-CODEBOOKS nprobe=8 refine=40 recall@5=${recallOf(gotS, truth)}%.3f wall=$tS%.1f s")
      gotS.unpersist()
    }

    if (probes("ivfadc256")) {
      // the 10⁶ rung the r17 probe named: IVFADC with ks=256 words —
      // flat PQ at 10⁶ needed ks=256 to hold 0.946 (ks=16 collapsed to
      // 0.34), and the same word-count rung should lift IVFADC off its
      // 10⁶ floor of 0.774 measured at ks=16. Codebooks train on the
      // 10% sample (faiss discipline, decoupled from the full-frame
      // coarse centroids via pqTrainOn).
      log(s"--- IVFADC ks=256 rung: nCentroids=$nCent, pqM=16, sampled codebooks ---")
      val sample256 = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", (col("vec_id") / 10).cast("long"))
      val root256 = s"/tmp/annscale/idx256s$n"
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root256), true)
      // At 10⁷ the COARSE quantizer also trains on the 10% sample: the
      // r17 under-training finding (coarse needs ≥ ~100 vectors/list;
      // the 10⁵ sample gave 31/list and halved recall) INVERTS once the
      // sample itself is big — 10⁶ sampled vectors over ⌈√10⁷⌉=3163
      // lists is 316/list, above the floor — and full-frame coarse
      // Lloyd at n·k = 10⁷·3163 extrapolates to ~3 h on this box (the
      // r19 first attempt ran >1.7 h without completing; the n·k cost
      // law measured at 10⁶ predicts ×31.6). Sampled-coarse is also
      // the faiss default at this scale.
      val coarseOn = if (n >= 10000000L) sample256 else emb
      val (_, tTrain256) = timeIt(
        AnnIndex.trainCentroids(coarseOn, 0L, root256, nCent, 3, pqM = 16,
          pqKs = 256, pqTrainOn = sample256))
      val (_, tIngest256) = timeIt(
        (0L until 3L).foreach(b =>
          AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, root256)))
      log(f"index build: train=$tTrain256%.1f s ingest(3 batches)=$tIngest256%.1f s")
      for ((nprobe, refine) <- Seq((8, 10), (8, 40), (16, 40))) {
        val (got, t) = timeIt(
          AnnIndex.ivfpqTopKIndexed(spark, root256, emb, NQueries, K,
            nprobe, refine).persist())
        got.count()
        log(f"ivfadc256 nprobe=$nprobe%2d refine=$refine%2d recall@5=${recallOf(got, truth)}%.3f wall=$t%.1f s")
        got.unpersist()
      }
    }

    if (probes("ivfadc256probe")) {
      // probe an ALREADY-BUILT ks=256 index (skip the 50-min build):
      // the refine ladder at 10⁷ — the r17 law says refine must scale
      // with the corpus (ADC noise admits more false candidates as the
      // sphere densifies; a fixed survivor budget then evicts true
      // neighbors before the exact rescore sees them)
      val root256 = s"/tmp/annscale/idx256s$n"
      for ((nprobe, refine) <- Seq((64, 400), (128, 400), (64, 40))) {
        val (got, t) = timeIt(
          AnnIndex.ivfpqTopKIndexed(spark, root256, emb, NQueries, K,
            nprobe, refine).persist())
        got.count()
        log(f"ivfadc256 nprobe=$nprobe%2d refine=$refine%3d recall@5=${recallOf(got, truth)}%.3f wall=$t%.1f s")
        got.unpersist()
      }
    }

    if (probes("quant")) {
      log("--- scalar/binary quantization floors ---")
      val (i8, t8) = timeIt(Ann.int8TopK(emb, NQueries, K).persist())
      i8.count()
      log(f"int8 (no refine)      recall@5=${recallOf(i8, truth)}%.3f wall=$t8%.1f s (floor 0.8)")
      i8.unpersist()
      val (i8r, t8r) = timeIt(Ann.int8RefinedTopK(emb, NQueries, K).persist())
      i8r.count()
      log(f"int8 refined (x4)     recall@5=${recallOf(i8r, truth)}%.3f wall=$t8r%.1f s")
      i8r.unpersist()
      for (os <- Seq(10, 50, 200)) {
        val (b, tb) = timeIt(Ann.binaryTopK(emb, NQueries, K, os).persist())
        b.count()
        log(f"binary BBQ osample=$os%3d recall@5=${recallOf(b, truth)}%.3f wall=$tb%.1f s (r16 floor 0.5 at x10)")
        b.unpersist()
      }
    }

    if (probes("cliff")) {
      // TopCentroids literal-vs-broadcast dispatch (the
      // TermIndexBroadcastMaxRows-class size cliff, maxLiteralValues =
      // 1e6 doubles ≈ 15.6k dim-64 centroids): one full-corpus
      // assignment pass under each dispatch — equality is AnnSpec's
      // job, this measures the COST of each side at scale so the
      // cliff's placement is a measurement, not a guess
      val mat = emb.filter(col("vec_id") < nCent)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .orderBy("vec_id").collect()
        .map(_.getSeq[Double](1).toArray)
      for ((label, limit) <- Seq(("literal  ", Long.MaxValue), ("broadcast", 0L))) {
        val assign = Ann.centroidAssigner(spark, mat, literalLimit = limit)
        val (cnt, t) = timeIt(
          emb.select(assign(col("embedding"), 1).getItem(0).as("c"))
            .groupBy("c").count().count())
        log(f"assign $label nCent=$nCent lists-hit=$cnt wall=$t%.1f s")
      }
    }

    if (probes("semdedup")) {
      import graft.pipeline.Pipeline
      log("--- SemDeDup centroid sources: occupancy / pair work / prune ---")
      val tau = 0.6
      // centroid sources under test: the r18 frozen wiring (k=8), the
      // same frozen RNG at the production k, and Lloyd at production k
      def frozenSrc(k: Int): Seq[(Int, Seq[Double])] =
        Pipeline.frozenCentroids(k, Dim).zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }
      def occStats(e: DataFrame, cents: Seq[(Int, Seq[Double])]):
          (Long, Double, Long) = {
        val assign = Ann.centroidAssigner(spark, Ann.centMatrix(cents))
        val occ = e.select(assign(col("embedding"), 1).getItem(0).as("c"))
          .groupBy("c").count().collect().map(_.getLong(1))
        // r20 (ADVICE r19): a degenerate source (empty frame or null
        // clusters from a bad centroid set) must log zeros, not abort
        // the whole sweep on occ.max over an empty array
        if (occ.isEmpty) {
          log("occStats: DEGENERATE source (no assignments) — zeros")
          (0L, 0.0, 0L)
        } else {
          val tot = occ.sum
          val mean = tot.toDouble / cents.size // empty cells count: k is the model divisor
          val pairWork = occ.map(m => m * (m - 1) / 2).sum
          (occ.max, occ.max / mean, pairWork)
        }
      }
      def probeSrc(name: String, e: DataFrame, nRows: Long,
          cents: Seq[(Int, Seq[Double])],
          planted: Seq[(Long, Long, Double)]): Unit = {
        val k = cents.size
        val (maxOcc, skew, pairWork) = occStats(e, cents)
        val model = nRows.toDouble * nRows / (2.0 * k)
        log(f"$name k=$k%5d max-occ=$maxOcc%7d skew(max/mean)=$skew%6.1f " +
          f"pair-work=$pairWork%12d n2/2k-model=$model%.3e ratio=${pairWork / model}%5.2f")
        // prune wall only where the candidate volume is affordable on
        // this box — a skip line IS the measurement (that volume is the
        // operator's cost)
        if (pairWork <= 2_000_000_000L) {
          val pruned = Pipeline.semDedupWith(e, cents, tau).persist()
          // the count MATERIALIZES the prune (assignment + within-
          // cluster join) — that is the wall being measured
          val (nPruned, t) = timeIt(pruned.count())
          val rec =
            if (planted.isEmpty) -1.0
            else {
              val eligible = planted.filter(_._3 > tau)
              val prunedIds = pruned.select("doc_id").collect()
                .map(_.getLong(0)).toSet
              eligible.count(p => prunedIds(p._2)).toDouble /
                math.max(1, eligible.size)
            }
          log(f"$name prune: wall=$t%7.1f s pruned=$nPruned%7d " +
            (if (rec >= 0) f"planted-prune-recall=$rec%.3f" else ""))
          pruned.unpersist()
        } else
          log(f"$name prune: SKIPPED (pair work $pairWork%d past the 2e9 box bound)")
      }
      val planted0 = plantedPairs(n, planted)
      log(s"[uniform corpus, n=${n + planted}] tau=$tau " +
        s"(${planted0.count(_._3 > tau)} planted pairs eligible)")
      probeSrc("frozen-r18 ", emb, n + planted, frozenSrc(8), planted0)
      probeSrc("frozen-prod", emb, n + planted, frozenSrc(nCent), planted0)
      val (lloydU, tLU) = timeIt(Ann.lloydCentroids(
        emb.select(col("vec_id"), col("embedding")), nCent, 2))
      log(f"lloyd train (uniform): k=$nCent wall=$tLU%.1f s")
      probeSrc("lloyd-prod ", emb, n + planted, lloydU, planted0)

      val embC = clusteredCorpus(spark, n).persist()
      log(s"[zipf-clustered corpus, n=${embC.count()}, 128 latent centers] tau=$tau")
      probeSrc("frozen-r18 ", embC, n, frozenSrc(8), Seq.empty)
      probeSrc("frozen-prod", embC, n, frozenSrc(nCent), Seq.empty)
      // r5 ≈ r2 on occupancy (measured 10⁴–10⁶); pay it only below 10⁶
      for (rounds <- if (n >= 1000000L) Seq(2) else Seq(2, 5)) {
        val (lloydC, tLC) = timeIt(Ann.lloydCentroids(
          embC.select(col("vec_id"), col("embedding")), nCent, rounds))
        log(f"lloyd train (clustered): k=$nCent rounds=$rounds wall=$tLC%.1f s")
        probeSrc(f"lloyd-r$rounds%-3d ", embC, n, lloydC, Seq.empty)
      }
      embC.unpersist()
    }

    if (probes("nprobelaw")) {
      // r20 (VERDICT r19 #1): the probe-width law's constant on
      // CLUSTERED data vs the uniform worst case, at matched k=⌈√n⌉ —
      // uniform derived nprobe ∝ k from the shrinking-angular-cap
      // argument; a concentrated corpus keeps a query's neighbors in
      // nearby cells, so the law's constant should be the cheap side.
      // Plain IVF (exact cosine inside probed lists): isolates COARSE
      // PROBE MASS, the knob the 10⁷ finding says binds.
      log(s"--- nprobe law: uniform vs zipf-clustered, k=$nCent ---")
      val auto = AnnIndex.autoNprobe(nCent)
      def lawRun(name: String, e: DataFrame, root: String): Unit = {
        org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(root), true)
        // ≥ 10⁷: sampled coarse (the 10⁷ discipline — full-frame Lloyd
        // is the ~3 h n·k wall; the sample keeps ≥ ~300 vectors/list)
        val coarseOn = if (n >= 10000000L) e.filter(col("vec_id") % 10 === 0) else e
        val (_, tT) = timeIt(AnnIndex.trainCentroids(coarseOn, 0L, root, nCent, 3))
        val (_, tI) = timeIt((0L until 3L).foreach(b =>
          AnnIndex.appendBatch(e.filter(col("vec_id") % 3 === b), b, root)))
        val (tr, tG) = timeIt(groundTruth(e))
        log(f"$name build: train=$tT%.1f s ingest=$tI%.1f s truth=$tG%.1f s")
        for (np <- Seq(8, 16, auto, 2 * auto).distinct) {
          val (got, t) = timeIt(
            AnnIndex.ivfTopKIndexed(spark, root, e, NQueries, K, np).persist())
          got.count()
          val tag = if (np == auto) " <- autoNprobe" else ""
          log(f"$name ivf k=$nCent nprobe=$np%3d coverage=${np.toDouble / nCent}%.4f " +
            f"recall@5=${recallOf(got, tr)}%.3f wall=$t%.1f s$tag")
          got.unpersist()
        }
      }
      lawRun("uniform  ", emb, s"/tmp/annscale/law$n")
      val embC = clusteredCorpus(spark, n).persist()
      embC.count()
      lawRun("clustered", embC, s"/tmp/annscale/lawc$n")
      embC.unpersist()
    }

    if (probes("nprobelaw7")) {
      // the law at the FIFTH decade (r20): uniform reuses the r19
      // ks=256 IVFADC index (same k=⌈√n⌉ sampled-coarse centroids, same
      // corpus — ivfTopKIndexed reads its embedding column, codes
      // ignored, so this IS the plain-IVF read of that index: exact
      // cosine inside probed lists isolates coarse probe mass from ADC
      // noise); clustered builds a plain IVF index on the Zipf corpus
      // with the same sampled-coarse discipline.
      val auto = AnnIndex.autoNprobe(nCent)
      val grid = Seq(8, auto / 4, auto / 2, auto, 2 * auto)
        .map(math.max(8, _)).distinct.sorted
      def lawProbe(name: String, e: DataFrame, root: String): Unit = {
        val (tr, tG) = timeIt(groundTruth(e))
        log(f"$name truth wall=$tG%.1f s")
        for (np <- grid) {
          val (got, t) = timeIt(
            AnnIndex.ivfTopKIndexed(spark, root, e, NQueries, K, np).persist())
          got.count()
          val tag = if (np == auto) " <- autoNprobe" else ""
          log(f"$name ivf k=$nCent nprobe=$np%3d coverage=${np.toDouble / nCent}%.4f " +
            f"recall@5=${recallOf(got, tr)}%.3f wall=$t%.1f s$tag")
          got.unpersist()
        }
      }
      log(s"--- nprobe law, fifth decade: k=$nCent grid=${grid.mkString("/")} ---")
      val root256 = s"/tmp/annscale/idx256s$n"
      if (new java.io.File(root256).exists())
        lawProbe("uniform/r19-index", emb, root256)
      else log(s"uniform: $root256 absent — run ivfadc256 first (skipping)")
      val embC = clusteredCorpus(spark, n).persist()
      log(s"clustered corpus rows: ${embC.count()}")
      val rootC = s"/tmp/annscale/lawc$n"
      if (!new java.io.File(s"$rootC/centroids/v=0/_SUCCESS").exists()) {
        val coarseOn =
          if (n >= 10000000L) embC.filter(col("vec_id") % 10 === 0) else embC
        val (_, tT) = timeIt(AnnIndex.trainCentroids(coarseOn, 0L, rootC, nCent, 3))
        val (_, tI) = timeIt((0L until 3L).foreach(b =>
          AnnIndex.appendBatch(embC.filter(col("vec_id") % 3 === b), b, rootC)))
        log(f"clustered build (sampled coarse at ≥1e7): train=$tT%.1f s ingest=$tI%.1f s")
      }
      lawProbe("clustered", embC, rootC)
      embC.unpersist()
    }

    if (probes("coarsebound")) {
      // r20 (VERDICT r19 #2): bound the sampled-COARSE confound the 10⁷
      // rung named — the r19 10⁶ ks=256 reference trained coarse on the
      // FULL frame (recall 0.962 at nprobe=8/refine=40); this builds the
      // identical index with coarse trained on the 10% sample (what the
      // 10⁷ rung was forced into) and probes at the matched grid. The
      // recall delta IS the confound's bound at this decade.
      log(s"--- sampled-coarse bound: k=$nCent, pqM=16 ks=256, codebooks sampled ---")
      val sample = emb.filter(col("vec_id") % 10 === 0)
      // two coarse-training masses: the 10% sample (what a naive scale-up
      // uses — n/10/k vectors per list) and a per-list-MATCHED sample
      // giving ~316 vectors/list, the training mass the 10⁷ rung's 10%
      // sample actually provided — the confound bound at the metric that
      // matters (vectors per trained list), not the sample fraction
      val perListMatched = math.min(n, 316L * nCent)
      val frac = math.max(1L, n / perListMatched) // keep 1-in-frac ids
      val sample316 = emb.filter(col("vec_id") % frac === 0)
      for ((tag, coarseOn) <- Seq(
          (f"10%%-sample (${n / 10 / nCent}%d vec/list)", sample),
          // label from the ACTUAL kept-row estimate n/frac, not the
          // perListMatched target: frac truncates, so 1-in-frac keeps
          // more than the target (333 vs 316 at 10⁶ — r20 ADVICE, the
          // log under-reported the training mass the delta is blamed on)
          (f"matched (${n / frac / nCent}%d vec/list)", sample316),
          // brackets the parity point between the matched leg and the
          // full frame (r20: 333/list read −0.47; where does it heal?)
          (f"two-thirds (${n * 2 / 3 / nCent}%d vec/list)",
            emb.filter(col("vec_id") % 3 =!= 0)))) {
        val root = s"/tmp/annscale/idxsc${n}_${frac}_$tag".replaceAll("[^A-Za-z0-9/_]", "")
        // reuse a completed build (re-runs only probe new legs)
        if (!new java.io.File(s"$root/centroids/v=0/_SUCCESS").exists()) {
          org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(root), true)
          val (_, tT) = timeIt(AnnIndex.trainCentroids(coarseOn, 0L, root, nCent, 3,
            pqM = 16, pqKs = 256, pqTrainOn = sample))
          val (_, tI) = timeIt((0L until 3L).foreach(b =>
            AnnIndex.appendBatch(emb.filter(col("vec_id") % 3 === b), b, root)))
          log(f"index build (coarse on $tag, codebooks sampled): " +
            f"train=$tT%.1f s ingest=$tI%.1f s")
        } else log(s"index for '$tag' reused from a prior run")
        for ((nprobe, refine) <- Seq((8, 40), (16, 40), (8, 10))) {
          val (got, t) = timeIt(
            AnnIndex.ivfpqTopKIndexed(spark, root, emb, NQueries, K,
              nprobe, refine).persist())
          got.count()
          log(f"ivfadc256 COARSE-ON-$tag nprobe=$nprobe%2d refine=$refine%2d " +
            f"recall@5=${recallOf(got, truth)}%.3f wall=$t%.1f s")
          got.unpersist()
        }
      }
    }

    if (probes("maintcost")) {
      // maintain() cost under CONCURRENT ingest+probe (r19, VERDICT r18
      // #6 stretch): the serving story is spec'd for correctness
      // (probe-during-retrain sees complete committed eras, never a
      // torn mix) — this measures its COST: probe latency while an
      // appendBatch ingests a 10% delta, vs quiet-index latency.
      log(s"--- maintain() under concurrent ingest+probe: nCentroids=$nCent ---")
      val root = s"/tmp/annscale/mc$n"
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val corpus90 = emb.filter(col("vec_id") % 10 =!= 3)
      val delta10 = emb.filter(col("vec_id") % 10 === 3)
      val (_, tTrain) = timeIt(AnnIndex.trainCentroids(corpus90, 0L, root, nCent, 3))
      val (_, tIngest0) = timeIt(AnnIndex.appendBatch(corpus90, 0L, root))
      log(f"build: train=$tTrain%.1f s ingest(90%%)=$tIngest0%.1f s")
      def probeOnce(): Double = {
        val (_, t) = timeIt(
          AnnIndex.ivfTopKIndexed(spark, root, emb, NQueries, K, nprobe = 8).count())
        t
      }
      val quiet = (1 to 3).map(_ => probeOnce())
      log(f"probe latency quiet index: ${quiet.map(t => f"$t%.1f").mkString("/")} s")
      // concurrent: one thread ingests the delta while probes loop
      @volatile var ingestWall = -1.0
      val ingester = new Thread(() => {
        val (_, t) = timeIt(AnnIndex.appendBatch(delta10, 1L, root))
        ingestWall = t
      })
      ingester.start()
      val during = scala.collection.mutable.ArrayBuffer[Double]()
      while (ingester.isAlive) during += probeOnce()
      ingester.join()
      log(f"ingest(10%% delta) under probes: wall=$ingestWall%.1f s; " +
        f"probe latency during: ${during.map(t => f"$t%.1f").mkString("/")} s " +
        f"(quiet best ${quiet.min}%.1f s)")
      val after = (1 to 2).map(_ => probeOnce())
      log(f"probe latency after commit: ${after.map(t => f"$t%.1f").mkString("/")} s " +
        s"(index rows ${AnnIndex.assignments(spark, root).count()})")
    }

    if (probes("dedup")) {
      log("--- LSH-vs-IVF τ dispatch on planted twins ---")
      val pairs = plantedPairs(n, planted)
      log(f"planted cosines: min=${pairs.map(_._3).min}%.3f max=${pairs.map(_._3).max}%.3f")
      def plantedRecall(got: DataFrame, tau: Double): (Double, Long) = {
        val eligible = pairs.filter(_._3 >= tau)
        val gotSet = got.select("a_id", "b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val hit = eligible.count(p => gotSet((p._1, p._2)))
        (hit.toDouble / math.max(1, eligible.size), eligible.size.toLong)
      }
      for (tau <- Seq(0.45, 0.6, 0.8)) {
        for (np <- Seq(2, 4)) {
          val (ivf, tIvf) = timeIt(
            graft.dedup.Dedup.embeddingNearDupIvf(emb, tau, nprobe = np).persist())
          val nIvf = ivf.count()
          val (rI, elig) = plantedRecall(ivf, tau)
          log(f"tau=$tau IVF np=$np planted-recall=$rI%.3f ($elig eligible) pairs-out=$nIvf wall=$tIvf%.1f s")
          ivf.unpersist()
        }
        val (lsh, tLsh) = timeIt(
          graft.dedup.Dedup.embeddingNearDupLsh(emb, tau).persist())
        val nLsh = lsh.count()
        val (rL, _) = plantedRecall(lsh, tau)
        log(f"tau=$tau LSH  planted-recall=$rL%.3f pairs-out=$nLsh wall=$tLsh%.1f s")
        lsh.unpersist()
      }
    }

    spark.stop()
  }
}
