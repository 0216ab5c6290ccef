package graft
import scala.collection.mutable

/** Benchmark main: times every SparkEntry query end-to-end at
  * SPARK_GRAFT_SF_DIR, writing each result to the `noop` sink so the
  * full plan executes (a bare count() would let Catalyst prune the
  * projections under test). Prints one JSON line for the driver.
  *
  * Host-noise guard, v3. History: round 6's file was invalidated by a
  * host stall the per-query best-of-2 couldn't see; round 7 added
  * endpoint calibrations, and a MID-suite stall slipped between them
  * and invalidated the file again. So the guard is now segment-grained
  * and self-referenced:
  *
  *  - a fixed CALIBRATION query (`q6_revenue_delta`, a sub-second
  *    filter+agg whose cost is stable across rounds) is timed every
  *    [[segSize]] queries, not just at the endpoints;
  *  - the idle floor is MEASURED, not hardcoded: ref = min over all
  *    calibration readings (and SPARK_GRAFT_CALIB_REF, if set, joins
  *    that min) — no machine-specific constant keyed to a directory
  *    name, so the guard arms itself correctly on any host/SF;
  *  - a segment whose bracketing calibrations exceed 2× ref is dirty:
  *    its queries RE-QUEUE and re-time at suite end (up to two extra
  *    bracketed passes), and every query's reported value is the MIN
  *    across all its timings — the SCALING.md estimator, embedded in
  *    the artifact;
  *  - queries still dirty after the re-passes are stamped in the JSON
  *    (`n_dirty` + names) and `contaminated` is set — the file then
  *    says exactly which numbers not to grade, instead of shipping
  *    silent garbage;
  *  - a FAILED calibration run (e.g. a diagnostic SF dir without
  *    lineitem) disarms the guard for that bracket rather than
  *    contaminating the suite.
  *
  * v4 (r16 verdict #3): the v3 bracket rule cannot see a stall
  * SHORTER than one calibration segment — it inflates mid-segment
  * queries while both bracketing calibrations read clean (four >2×
  * phantom movers shipped in BENCH_r16 that way). Two changes:
  *
  *  - segSize 15 → 8: halves the blind window a sub-segment stall
  *    can hide in (calibration overhead stays <2% of the suite);
  *  - the BRACKET dirty rule gates on a DATA-INDEPENDENT host probe
  *    (fixed-size range sum) instead of q6: q6's cost scales with the
  *    SF, and at sf1 its idle-host spread reads ×3.5 — two full sf1
  *    runs stamped contaminated on that gate artifact (r17). A real
  *    stall inflates the range sum identically; data-volume variance
  *    cannot. q6 stays as the cross-round floor (bench_ref
  *    normalization + it sees I/O-path conditions);
  *  - a cross-round REFERENCE pass ([[BenchGuard.refOutliers]]):
  *    after the suite, every reading is compared against its
  *    committed reference (tools/bench_ref.json — written by a clean
  *    local run via SPARK_GRAFT_WRITE_REF, floor-normalized to this
  *    host by the calibration ratio); readings past 1.8× re-time
  *    ISOLATED (bracketed by calibrations) before the file stamps,
  *    and anything STILL past the factor ships named in
  *    `ref_outliers` — a candidate real regression for the movers
  *    table, not silent garbage.
  *
  * Residual risk, on record: a stall spanning EVERY calibration of the
  * suite inflates ref itself and passes undetected — that is only
  * catchable against an external reference (set SPARK_GRAFT_CALIB_REF)
  * or round history; the JSON carries calib_min/calib_max so a grader
  * can see the spread. */
object Bench {

  private val calibQuery = "q6_revenue_delta"
  private val segSize = 8
  private val refFactor = 1.8

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val envRef: Option[Double] =
      sys.env.get("SPARK_GRAFT_CALIB_REF").map(_.toDouble)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // JVM + parquet-footer warm-up so per-query times measure the query
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    // optional args: run only the named queries (diagnostics; the driver
    // invokes with no args → full suite)
    val only = args.toSet

    def once(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      // operators persist intermediates (and the clustering loop
      // localCheckpoints, which clearCache does NOT reclaim); drop every
      // persisted block so 130+ back-to-back executions don't accumulate
      // heap pressure that bleeds into later queries' times
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }

    def timed(name: String): Double = {
      // best of 2 (single runs are dominated by JIT/GC noise), plus a
      // tie-break third run when the two disagree > 2x — a transient
      // host stall spanning both runs would otherwise stand as the
      // measurement
      val base = Seq(once(name), once(name))
      val times =
        if (base.exists(_ < 0) || base.max <= 2 * base.min) base
        else base :+ once(name)
      System.err.println(s"[bench] $name runs: ${times.map(t => f"$t%.2f").mkString(", ")}")
      if (times.exists(_ < 0)) -1.0 else times.min
    }

    // per-query minimum across every timing this invocation takes — the
    // cross-attempt estimator SCALING.md uses, now IN the artifact
    val best = mutable.Map[String, Double]()
    val errored = mutable.Set[String]()
    def record(name: String, t: Double): Unit =
      if (t < 0) errored += name
      else best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)

    val calibs = mutable.ArrayBuffer[Double]()
    val hostCalibs = mutable.ArrayBuffer[Double]()
    // Data-INDEPENDENT host probe (r17 sf1 follow-up): q6's cost
    // scales with the SF — at sf1 its own spread reads ×3.5 on an
    // idle host and the bracket gate false-positives (two full sf1
    // runs stamped contaminated that way). A fixed-size range sum
    // measures the HOST at any SF: a genuine stall inflates it the
    // same way, data-volume variance cannot. The q6 calibration stays
    // for the cross-round floor (bench_ref continuity + it also sees
    // I/O-path conditions); the BRACKET dirty rule gates on this one.
    def hostProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200_000_000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calibrate(tag: String): Double = {
      // the calibration must measure the HOST, not the suite's own GC
      // debt: a heavy query block leaves enough garbage that the next
      // reading absorbs a multi-second collection pause (observed
      // 0.15 s floor → 3.9 s right after the dedup/ANN block) and the
      // guard false-positives on a perfectly idle host. Collect BEFORE
      // timing so the reading starts from a clean heap.
      System.gc()
      val t = timed(calibQuery)
      if (t >= 0) calibs += t
      val h = math.min(hostProbe(), hostProbe()) // best-of-2, JIT-warm below
      hostCalibs += h
      System.err.println(f"[bench-calib] $tag: $t%.3f s host: $h%.3f s")
      h
    }
    // the best calibration seen (plus the optional external reference)
    // IS the idle-floor estimate — q6-based, used for the cross-round
    // reference normalization and the JSON's calib_ref
    def ref: Option[Double] = {
      val all: Seq[Double] = envRef.toSeq ++ calibs
      all.reduceOption(_ min _)
    }
    // the HOST floor gates the brackets (data-independent)
    def hostRef: Option[Double] = hostCalibs.reduceOption(_ min _)
    // margin adapts to THIS run's probe spread (r18 ADVICE: the 0.2 s
    // constant was calibrated to one box's distribution; the estimator
    // only ever widens past that floor)
    def margin: Double = BenchGuard.absMargin(hostCalibs.toSeq)
    def dirtyCalib(c: Double): Boolean =
      BenchGuard.dirtyCalib(c, hostRef, margin)

    // untimed warm pass of the calibration query + host probe: the
    // very first execution pays whole-stage-codegen JIT (~1 s), which
    // would trip the gate and force pointless re-runs on a perfectly
    // idle host (observed: cold 1.3 s → warm 0.22 s)
    once(calibQuery)
    hostProbe()

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))

    // the FIRST suite query uniquely pays first-use costs every later
    // query amortizes (vector-op whole-stage-codegen JIT, broadcast
    // machinery, window/aggregate buffers): the r13→r15 forensics on
    // alphabetically-first ann_bruteforce_topk read 0.36–1.20 s cold
    // vs 0.15–0.25 warm — sub-second wobble that kept tripping the
    // cross-round movers table without any code change (r14 VERDICT
    // tripwire, audited r15: no code cause, mechanism pinned here).
    // Warm it untimed, exactly like the calibration query above, so
    // its measurement starts from the same warm state as the rest.
    names.headOption.foreach(once)

    // one bracketed pass over `todo`: calibration → segment → calibration
    // → … ; returns (segment, calib-before, calib-after) triples. The
    // in-loop dirty filter below is only a RE-QUEUE heuristic (it sees
    // ref as of that pass); the authoritative dirty verdict re-evaluates
    // every recorded bracket against the FINAL ref after the loop, so a
    // stall that inflates an early reading can't whitewash its own
    // segment even when a later pass lowers ref retroactively.
    def pass(todo: Seq[String]): Seq[BenchGuard.Bracket] = {
      val out = mutable.ArrayBuffer[BenchGuard.Bracket]()
      var cPrev = calibrate("seg-start")
      for (seg <- todo.grouped(segSize)) {
        seg.foreach(n => record(n, timed(n)))
        val cNext = calibrate("seg-end")
        out += BenchGuard.Bracket(seg, cPrev, cNext)
        cPrev = cNext
      }
      out.toSeq
    }
    def dirtyOf(bs: Seq[BenchGuard.Bracket]): Seq[String] =
      bs.filter(b => dirtyCalib(b.calibBefore) || dirtyCalib(b.calibAfter))
        .flatMap(b => b.queries)

    var attempts = 1
    val allBrackets = mutable.ArrayBuffer[BenchGuard.Bracket]()
    var brackets = pass(names)
    allBrackets ++= brackets
    var pending = dirtyOf(brackets)
    while (pending.nonEmpty && attempts < 3) {
      System.err.println(
        s"[bench-calib] ${pending.size} queries in dirty segments — re-timing")
      attempts += 1
      brackets = pass(pending)
      allBrackets ++= brackets
      pending = dirtyOf(brackets)
    }

    // v4 cross-round reference pass: the bracket rule above cannot see
    // a stall SHORTER than a segment — compare every reading against
    // its committed cross-round reference (floor-normalized) and
    // re-time outliers ISOLATED, bracketed, before the file stamps
    val refFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "tools/bench_ref.json")
    val committedRef: Option[(Double, Map[String, Double])] = {
      val p = java.nio.file.Paths.get(refFile)
      if (!java.nio.file.Files.exists(p)) None
      else {
        val body = new String(java.nio.file.Files.readAllBytes(p))
        // the reference is only meaningful at ITS OWN scale factor:
        // per-query cost is not floor-proportional across SFs (data
        // grows 10x, the calib floor barely moves), so an sf0.1 ref
        // against an sf1 run would flag the whole suite — disarm on
        // mismatch (the calib-bracket rule still guards that run)
        val refSf = """"sf"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(body).map(_.group(1))
        if (refSf.exists(_ != sfDir)) {
          System.err.println(s"[bench-ref] reference is for ${refSf.get}, " +
            s"this run is $sfDir — reference guard disarmed")
          None
        } else BenchGuard.parseRef(body)
      }
    }
    def outliersNow: Seq[String] = (committedRef, ref) match {
      case (Some((rf, rq)), Some(cur)) if rf > 0 && cur > 0 =>
        BenchGuard.refOutliers(best.toMap, rq, rf, cur, refFactor)
      case _ => Seq.empty
    }
    var refOut = outliersNow
    var refPasses = 0
    while (refOut.nonEmpty && refPasses < 2) {
      refPasses += 1
      System.err.println(s"[bench-ref] ${refOut.size} readings past " +
        s"${refFactor}x their committed reference — isolated re-time: " +
        refOut.mkString(", "))
      allBrackets ++= pass(refOut) // records mins; brackets join the v3 verdict
      refOut = outliersNow
    }

    // Final dirty verdict against the FINAL floor: a later pass can
    // lower the floor below what an earlier pass's filter saw, so every
    // recorded bracket is re-evaluated here — a query is clean only if
    // at least one of its brackets is clean under the final (lowest)
    // floor, which closes the retroactively-dirty-segment hole the
    // in-loop filter (a re-queue heuristic, nothing more) cannot see.
    // The brackets record HOST-PROBE readings (calibrate returns the
    // probe time), so the verdict must gate on hostRef — gating on the
    // q6-based ref would compare a ~0.04 s probe against a ~0.13 s
    // query floor and let host stalls up to ~2×(ref/hostRef) the probe
    // floor stamp clean (and the gap widens with SF, since q6 scales
    // with data and the probe does not).
    val dirtyNames = BenchGuard.dirtyQueries(allBrackets.toSeq, names,
      hostRef, margin)
    val contaminated = dirtyNames.nonEmpty

    // The driver captures only the last 2000 chars of the build log
    // (BENCH_r01/r02 tails), so the stdout JSON line must stay well
    // under that or it lands unparsed. The line carries the suite
    // total plus a fixed HEADLINE subset at 3 decimals; the full
    // per-query map still goes to stderr for the log the judge reads.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val headline = Set(
      "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
      "q6_revenue_delta", "q10_returned_items", "q18_large_orders",
      "q_order_priority", "q_top_customers", "q_supplier_window",
      "q_events_sessionize", "q_date_histogram", "q_salted_join",
      "q_trailing_window", "q_percentile_facet", "q_percentile_facet_dist",
      "river_incremental_scan", "river_full_pipeline", "river_batching",
      "hbase_source_scan", "text_tokencount", "text_tfidf",
      "text_top_terms", "dedup_exact", "dedup_minhash_lsh",
      "dedup_clusters", "dedup_embedding_lsh", "ann_bruteforce_topk",
      "ann_ivf_topk", "mm_feature_stub", "pipe_pack_sequences",
      "pipe_decontaminate", "q_geohash_grid",
      // r22 additions (VERDICT r21 #2): the suite's actual cost centers
      // — the optimization targets were invisible in the driver's
      // basket-sized stamp. Additions only; no renames, no removals.
      "ann_pq_topk", "pipe_dedup_report", "pipe_release_manifest_v3",
      "dedup_embedding_ivf", "pipe_bpe_train", "q_mad_dist",
      "dedup_substring")
    val results = names.map(n => n -> best.getOrElse(n, -1.0))
    System.err.println(s"[bench-full] ${jmap(results)}")
    // SPARK_GRAFT_FULL_QUERIES: anchor runs carry EVERY per-query wall
    // in the stamped JSON (r20 — VERDICT r19 #5: the r19 sf1 artifact
    // regressed to the 32-query headline basket, losing the map the
    // judge audits expensive-query plans against; the driver's own
    // stamps stay basket-sized — it does not set the env).
    val stamped =
      if (sys.env.contains("SPARK_GRAFT_FULL_QUERIES")) results
      else results.filter(r => headline(r._1))
    val total = results.map(_._2).filter(_ >= 0).sum
    val calibStats =
      if (calibs.isEmpty) "\"calib_min\":null,\"calib_max\":null"
      else s""""calib_min":${f3(calibs.min)},"calib_max":${f3(calibs.max)}"""
    val dirtyJson = dirtyNames.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val refOutJson = refOut.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val hostStats =
      if (hostCalibs.isEmpty) "\"host_ref\":null,\"host_max\":null"
      else s""""host_ref":${f3(hostCalibs.min)},"host_max":${f3(hostCalibs.max)}"""
    def stampJson(qs: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${jmap(qs)},"sf":"$sfDir","calib_ref":${ref.map(f3).getOrElse("null")},$calibStats,$hostStats,"n_calibs":${calibs.size},"n_dirty":${dirtyNames.size},"dirty":$dirtyJson,"n_errored":${errored.size},"contaminated":$contaminated,"attempts":$attempts,"ref_armed":${committedRef.nonEmpty},"n_ref_outliers":${refOut.size},"ref_outliers":$refOutJson}"""
    // The stamp goes to a file first, with the FULL per-query map (no
    // tail-size bound there; VERDICT r21 #1), then to stdout as the
    // LAST line, after the session has stopped: the forked run writes
    // straight to stdout (`run / outputStrategy` in build.sbt, no
    // `[info] ` prefix) and nothing follows it on stderr, so the last
    // line of a log tail parses as JSON. Format unchanged.
    try {
      val stampPath = sys.env.getOrElse("SPARK_GRAFT_STAMP", "BENCH_STAMP.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(stampPath),
        stampJson(results).getBytes("UTF-8"))
      System.err.println(s"[bench] stamp written to $stampPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stamp file write failed: ${e.getMessage}")
    }
    // SPARK_GRAFT_WRITE_REF=<path>: commit this (clean local) run as the
    // cross-round reference the v4 guard compares against
    sys.env.get("SPARK_GRAFT_WRITE_REF").foreach { p =>
      val qs = results.filter(_._2 >= 0)
      // commit THIS RUN's measured q6 floor, not `ref`: ref folds in the
      // external SPARK_GRAFT_CALIB_REF env floor, and committing that
      // would misscale refOutliers' currentFloor/refFloor normalization
      // on every later run (masking regressions or minting false
      // outliers) whenever the env var was set at write time
      val measuredFloor = calibs.reduceOption(_ min _)
      val body = s"""{"calib_ref":${measuredFloor.map(f3).getOrElse("null")},"sf":"$sfDir","queries":${jmap(qs)}}"""
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          body.getBytes("UTF-8"))
        System.err.println(s"[bench-ref] wrote reference ($p, ${qs.size} queries)")
      } catch { case e: Throwable =>
        System.err.println(s"[bench-ref] reference write failed: ${e.getMessage}")
      }
    }
    spark.stop()
    println(stampJson(stamped))
  }
}
