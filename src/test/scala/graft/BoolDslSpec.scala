package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.BoolDsl
import graft.text.BoolDsl._

/** The bool-query AST compiler vs hand-written Column composition,
  * the ES should/minimum_should_match rules, and filter-context
  * pushdown visible in the physical plan. */
class BoolDslSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  private val srcList = (0 to 9).map("src" + _) :+ "src13"

  // the q_bool_dsl tree
  private val tree = Bool(
    must = Seq(MatchQ("hash", 1.0),
      Bool(should = Seq(MatchQ("join", 2.0), MatchQ("vector", 0.5)))),
    should = Seq(TermQ("lang", "en", 0.25)),
    mustNot = Seq(TermQ("source", "src13")),
    filter = Seq(RangeQ("n_chars", gte = Some(150), lte = Some(450)),
      TermsQ("source", srcList)))

  private def tf(t: String): Column =
    size(filter(split(lower(col("text")), "\\s+"), x => x === t)).cast("long")

  test("compiled tree equals the hand-written Column composition") {
    val got = BoolDsl.search(docs, tree, 100000).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val hand = docs
      .withColumn("tf_hash", tf("hash"))
      .withColumn("tf_join", tf("join"))
      .withColumn("tf_vec", tf("vector"))
      .filter(col("tf_hash") > 0 && (col("tf_join") > 0 || col("tf_vec") > 0) &&
        !(col("source") === "src13") &&
        col("n_chars") >= 150 && col("n_chars") <= 450 &&
        col("source").isin(srcList: _*))
      .select(col("doc_id"),
        (col("tf_hash").cast("double") * 1.0
          + when(col("tf_join") > 0, col("tf_join").cast("double") * 2.0).otherwise(0.0)
          + when(col("tf_vec") > 0, col("tf_vec").cast("double") * 0.5).otherwise(0.0)
          + when(col("lang") === "en", 0.25).otherwise(0.0)).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got.nonEmpty && got === hand)
  }

  test("bare-should bool requires one match; a must makes shoulds optional") {
    val bare = BoolDsl.search(docs,
      Bool(should = Seq(MatchQ("join"), MatchQ("vector"))), 100000)
      .collect().map(_.getLong(0)).toSet
    val naive = docs.filter(tf("join") > 0 || tf("vector") > 0)
      .collect().map(_.getLong(0)).toSet
    assert(bare === naive)

    val withMust = BoolDsl.search(docs,
      Bool(must = Seq(MatchQ("hash")), should = Seq(MatchQ("join"))), 100000)
      .collect().map(_.getLong(0)).toSet
    val hashOnly = docs.filter(tf("hash") > 0 && tf("join") === 0)
      .collect().map(_.getLong(0)).toSet
    assert(hashOnly.nonEmpty && hashOnly.subsetOf(withMust),
      "docs matching the must but no should must still match")
  }

  test("minimumShouldMatch binds") {
    val got = BoolDsl.search(docs,
      Bool(should = Seq(MatchQ("join"), MatchQ("vector"), TermQ("lang", "en")),
        minimumShouldMatch = 2), 100000)
      .collect().map(_.getLong(0)).toSet
    val naive = docs
      .withColumn("nm",
        when(tf("join") > 0, 1).otherwise(0) +
        when(tf("vector") > 0, 1).otherwise(0) +
        when(col("lang") === "en", 1).otherwise(0))
      .filter(col("nm") >= 2)
      .collect().map(_.getLong(0)).toSet
    assert(got === naive)
    val any = BoolDsl.search(docs,
      Bool(should = Seq(MatchQ("join"), MatchQ("vector"), TermQ("lang", "en"))),
      100000).count()
    assert(got.size < any, "msm=2 must be stricter than the default msm=1")
  }

  test("must_not is load-bearing against the filter terms list") {
    val without = BoolDsl.search(docs, tree.copy(mustNot = Nil), 100000)
      .count()
    val withNot = BoolDsl.search(docs, tree, 100000).count()
    assert(withNot < without, "src13 docs must be excluded by must_not alone")
  }

  test("geo clauses: every clause of the q_bool_dsl_geo tree binds") {
    val pts = graft.operators.Geo.withCoords(Tables.events(spark, sfDir))
    val geoTree = Bool(
      must = Seq(TermsQ("event_type", Seq("click", "view"), boost = 2.0)),
      filter = Seq(
        GeoBoundingBoxQ("lat", "lon", -20.0, 40.0, -90.0, 30.0),
        RangeQ("value", gte = Some(10.0))),
      mustNot = Seq(RangeQ("value", gte = Some(200.0))),
      should = Seq(GeoDistanceQ("lat", "lon", 10.0, -30.0, 400.0, boost = 0.5)))
    val all = BoolDsl.search(pts, geoTree, 1000000, idCol = "event_id")
    val matched = all.count()
    assert(matched > 0)
    // dropping each clause changes the result — nothing is vacuous
    assert(BoolDsl.search(pts, geoTree.copy(filter = geoTree.filter.tail),
      1000000, idCol = "event_id").count() > matched, "bounding box binds")
    assert(BoolDsl.search(pts, geoTree.copy(mustNot = Nil),
      1000000, idCol = "event_id").count() > matched, "must_not binds")
    // the distance SHOULD splits the score domain: both 2.5 and 2.0 present
    val scores = all.select("score").distinct().collect().map(_.getDouble(0)).toSet
    assert(scores == Set(2.5, 2.0), s"scores=$scores")
    // equality with a hand-written composition
    val hand = pts.filter(col("event_type").isin("click", "view") &&
        col("lat").between(-20.0, 40.0) && col("lon").between(-90.0, 30.0) &&
        col("value") >= 10.0 && !(col("value") >= 200.0))
      .select(col("event_id"),
        (lit(2.0) + when((col("lat") - 10.0) * (col("lat") - 10.0) +
          (col("lon") - -30.0) * (col("lon") - -30.0) <= 400.0, 0.5)
          .otherwise(0.0)).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(all.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == hand)
  }

  test("geo_polygon clause composes like bounding_box and equals the standalone predicate") {
    val poly = Seq((0.0, -50.0), (40.0, -10.0), (5.0, 5.0),
      (10.0, 60.0), (-30.0, 40.0), (-45.0, -25.0))
    val pts = graft.operators.Geo.withCoords(Tables.events(spark, sfDir))
    // clause-in-filter-context == standalone Geo.pointInPolygon filter
    val viaDsl = BoolDsl.search(pts,
      Bool(filter = Seq(GeoPolygonQ("lat", "lon", poly))),
      1000000, idCol = "event_id")
    val direct = pts.filter(graft.operators.Geo.pointInPolygon(
      col("lat"), col("lon"), poly))
    val n = viaDsl.count()
    assert(n > 0 && n == direct.count())
    // composes: polygon filter + terms must narrows the polygon set
    val composed = BoolDsl.search(pts,
      Bool(must = Seq(TermsQ("event_type", Seq("click"), boost = 2.0)),
        filter = Seq(GeoPolygonQ("lat", "lon", poly))),
      1000000, idCol = "event_id").count()
    assert(composed > 0 && composed < n)
  }

  test("filter-context conjuncts reach the parquet scan") {
    val (pred, _) = BoolDsl.compile(tree)
    // the scan's metadata string truncates at 100 chars by default —
    // widen so every pushed conjunct is visible to the assertions
    val plan = withConf("spark.sql.maxMetadataStringLength" -> "2000") {
      docs.filter(pred).queryExecution.executedPlan.toString
    }
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(n_chars,150)"), plan)
    assert(plan.contains("LessThanOrEqual(n_chars,450)"), plan)
    assert(plan.contains("In(source"), plan)
  }

  test("QueryString: the wired q= compiles to the expected bool tree") {
    import graft.text.QueryString
    val got = QueryString.parse(
      "hash AND (join OR vector) AND -source:src13 AND n_chars:>=150")
    val want = Bool(must = Seq(
      MatchQ("hash"),
      Bool(should = Seq(MatchQ("join"), MatchQ("vector")), minimumShouldMatch = 1),
      Bool(mustNot = Seq(TermQ("source", "src13"))),
      RangeQ("n_chars", gte = Some(150.0))))
    assert(got == want)
  }

  test("QueryString: precedence, default operator, negation, prefix and strict ranges") {
    import graft.text.QueryString._
    // AND binds tighter than OR
    assert(parse("a AND b OR c") ==
      Bool(should = Seq(Bool(must = Seq(MatchQ("a"), MatchQ("b"))), MatchQ("c")),
        minimumShouldMatch = 1))
    // bare juxtaposition = the ES default operator OR
    assert(parse("a b") ==
      Bool(should = Seq(MatchQ("a"), MatchQ("b")), minimumShouldMatch = 1))
    // NOT spellings agree
    assert(parse("NOT lang:de") == parse("-lang:de"))
    // prefix and strict-range atoms (integral fields: >149 ≡ >=150)
    assert(parse("source:src1*") == PrefixQ("source", "src1"))
    assert(parse("n_chars:>149") == RangeQ("n_chars", gte = Some(150.0)))
    assert(parse("n_chars:<151") == RangeQ("n_chars", lte = Some(150.0)))
    // range atoms reject non-numeric fields rather than mis-typing
    intercept[IllegalArgumentException](parse("lang:>=150"))
    intercept[IllegalArgumentException](parse("a AND (b"))
  }

  test("QueryString: pure-negative clauses at the OR level are conjunctive " +
      "(Lucene has no OR-NOT — the r12 ADVICE class)") {
    import graft.text.QueryString._
    // 'a NOT b' ≡ a AND NOT b, never should(a, mustNot(b))
    assert(parse("a NOT b") ==
      Bool(must = Seq(MatchQ("a")), mustNot = Seq(MatchQ("b"))))
    assert(parse("a -lang:de") ==
      Bool(must = Seq(MatchQ("a")), mustNot = Seq(TermQ("lang", "de"))))
    // with 2+ positives the negatives still bind to the whole level
    assert(parse("a b NOT c") ==
      Bool(should = Seq(MatchQ("a"), MatchQ("b")),
        mustNot = Seq(MatchQ("c")), minimumShouldMatch = 1))
    // all-negative level
    assert(parse("NOT a NOT b") ==
      Bool(mustNot = Seq(MatchQ("a"), MatchQ("b"))))
    // '-(group)' negates the group; a dangling dash is rejected
    assert(parse("-(a OR b)") ==
      Bool(mustNot = Seq(Bool(should = Seq(MatchQ("a"), MatchQ("b")),
        minimumShouldMatch = 1))))
    intercept[IllegalArgumentException](parse("a - "))
  }

  test("percolateDslIndexed: prefilter complete (candidates ⊇ matches), " +
      "output equals the exhaustive form, unextractable queries still served") {
    val qs = Seq(
      "pq1" -> Bool(must = Seq(MatchQ("hash")),
        filter = Seq(RangeQ("n_chars", gte = Some(200)))),
      "pq2" -> Bool(should = Seq(MatchQ("join"), MatchQ("vector")),
        filter = Seq(TermQ("lang", "en")), minimumShouldMatch = 1),
      "pq3" -> Bool(must = Seq(MatchQ("scan")),
        mustNot = Seq(TermQ("source", "src13"))),
      // pure keyword filter: nothing to extract → always-candidate path
      "pq4" -> Bool(filter = Seq(TermQ("lang", "de"))))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exhaustive = pairs(BoolDsl.percolateDsl(docs, qs))
    val indexed = pairs(BoolDsl.percolateDslIndexed(docs, qs))
    val cands = pairs(BoolDsl.percolatorCandidates(docs, qs))
    assert(exhaustive.subsetOf(cands), "prefilter must never drop a match")
    assert(indexed == exhaustive, "indexed form must equal the exhaustive form")
    assert(Seq("pq1", "pq2", "pq3", "pq4").forall(id => exhaustive.exists(_._2 == id)),
      "every stored query (incl. the unextractable one) must match somewhere")
    // extraction rules pinned: conjunct set, should-union, unextractable
    assert(BoolDsl.extractTerms(qs(0)._2) == Some(Seq("hash")))
    assert(BoolDsl.extractTerms(qs(1)._2) == Some(Seq("join", "vector")))
    assert(BoolDsl.extractTerms(qs(2)._2) == Some(Seq("scan")))
    assert(BoolDsl.extractTerms(qs(3)._2).isEmpty)
    // and the prefilter genuinely prunes vs all-pairs (minus the
    // always-candidate query's full column)
    val allPairs = docs.count() * qs.size
    assert(cands.size < allPairs, s"prefilter must prune: $cands vs $allPairs")
  }

  test("percolateDslIndexedAtScale equals both other forms on every leaf kind") {
    val qs = Seq(
      "pq1" -> Bool(must = Seq(MatchQ("hash")),
        filter = Seq(RangeQ("n_chars", gte = Some(200)))),
      "pq2" -> Bool(should = Seq(MatchQ("join"), MatchQ("vector")),
        filter = Seq(TermQ("lang", "en")), minimumShouldMatch = 1),
      "pq3" -> Bool(must = Seq(MatchQ("scan")),
        mustNot = Seq(TermQ("source", "src13"))),
      "pq4" -> Bool(filter = Seq(TermQ("lang", "de"))),
      "pq5" -> Bool(must = Seq(MatchQ("merge")),
        filter = Seq(TermsQ("source", Seq("src1", "src2", "src3")),
          PrefixQ("lang", "e"), ExistsQ("n_chars"),
          RangeQ("n_chars", gte = Some(100), lte = Some(400)))))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exhaustive = pairs(BoolDsl.percolateDsl(docs, qs))
    val atScale = pairs(BoolDsl.percolateDslIndexedAtScale(docs, qs))
    assert(atScale == exhaustive,
      s"missing=${(exhaustive -- atScale).take(3)} extra=${(atScale -- exhaustive).take(3)}")
    assert(atScale == pairs(BoolDsl.percolateDslIndexed(docs, qs)))
    assert(Seq("pq1", "pq2", "pq3", "pq4", "pq5").forall(id =>
      atScale.exists(_._2 == id)), "every stored query must match somewhere")
  }

  test("percolator term-index shuffle-join form: equals the broadcast " +
      "form (and the exhaustive), and the term join genuinely shuffles") {
    val qs = Seq(
      "pq1" -> Bool(must = Seq(MatchQ("hash")),
        filter = Seq(RangeQ("n_chars", gte = Some(200)))),
      "pq2" -> Bool(should = Seq(MatchQ("join"), MatchQ("vector")),
        filter = Seq(TermQ("lang", "en")), minimumShouldMatch = 1),
      "pq3" -> Bool(must = Seq(MatchQ("scan")),
        mustNot = Seq(TermQ("source", "src13"))),
      // unextractable: exercises the always-candidate union leg too
      "pq4" -> Bool(filter = Seq(TermQ("lang", "de"))))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val shuffled = BoolDsl.percolateDslIndexedAtScale(docs, qs,
      termIndexShuffle = true)
    assert(pairs(shuffled) == pairs(BoolDsl.percolateDslIndexedAtScale(docs, qs)))
    assert(pairs(shuffled) == pairs(BoolDsl.percolateDsl(docs, qs)))
    // the forced form must put the term join through a shuffled hash
    // join, not a broadcast (the always-candidate leg still broadcasts
    // its tiny id list — that's fine; we assert the HASH join exists)
    val plan = BoolDsl.percolatorCandidates(docs, qs, termIndexShuffle = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"term join must be a shuffled hash join, plan:\n$plan")
  }

  test("QueryString: parsed search equals the hand-built tree's search") {
    import graft.text.QueryString
    val q = "hash AND (join OR vector) AND -source:src13 AND n_chars:>=150"
    val parsed = BoolDsl.search(docs, QueryString.parse(q), 20).collect().toSeq.map(_.toSeq)
    val hand = BoolDsl.search(docs, Bool(must = Seq(
      MatchQ("hash"),
      Bool(should = Seq(MatchQ("join"), MatchQ("vector")), minimumShouldMatch = 1),
      Bool(mustNot = Seq(TermQ("source", "src13"))),
      RangeQ("n_chars", gte = Some(150.0)))), 20).collect().toSeq.map(_.toSeq)
    assert(parsed == hand && parsed.nonEmpty)
  }
}
