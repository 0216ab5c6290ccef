package graft

import org.apache.spark.sql.functions._

import graft.operators.JoinField

/** ES join-field queries (has_child / has_parent): naive existence
  * recomputes + the two plan properties the scale story rests on —
  * LEFT SEMI (no row explosion) and the inner predicate reaching the
  * inner side's parquet scan. */
class JoinFieldSpec extends SparkSpec {

  private lazy val orders = Tables.orders(spark, sfDir)
  private lazy val lineitem = Tables.lineitem(spark, sfDir)

  test("has_child facet equals a naive existence recompute") {
    val got = JoinField.hasChildFacet(orders, lineitem, 48.0, 0.05)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val keys = lineitem.filter(col("l_quantity") >= 48.0 && col("l_discount") >= 0.05)
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    val naive = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
      .collect().filter(r => keys(r.getLong(0)))
      .groupBy(_.getString(1)).view.mapValues { rs =>
        (rs.length.toLong,
          rs.map(r => BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      }.toMap
    assert(got == naive && got.values.map(_._1).sum > 0)
  }

  test("has_parent facet equals a naive existence recompute") {
    val got = JoinField.hasParentFacet(orders, lineitem, 300000.0,
        "1996-01-01", "1997-01-01")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val keys = orders.filter(col("o_totalprice") >= 300000.0 &&
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1997-01-01")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val naive = lineitem.select("l_orderkey", "l_returnflag", "l_quantity")
      .collect().filter(r => keys(r.getLong(0)))
      .groupBy(_.getString(1)).view.mapValues { rs =>
        (rs.length.toLong,
          rs.map(r => BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
      }.toMap
    assert(got == naive && got.values.map(_._1).sum > 0)
  }

  test("semi-join plan: no row explosion, child predicate at the child scan") {
    withConf("spark.sql.maxMetadataStringLength" -> "2000") {
      val plan = JoinField.hasChildFacet(orders, lineitem, 48.0, 0.05)
        .queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), plan.take(600))
      assert(plan.contains("GreaterThanOrEqual(l_quantity,48.0)"),
        "child predicate must reach the lineitem scan's PushedFilters")
      val plan2 = JoinField.hasParentFacet(orders, lineitem, 300000.0,
          "1996-01-01", "1997-01-01")
        .queryExecution.executedPlan.toString
      assert(plan2.contains("LeftSemi"))
      assert(plan2.contains("GreaterThanOrEqual(o_totalprice,300000.0)"),
        "parent predicate must reach the orders scan's PushedFilters")
    }
  }

  test("parentIdQuery: exactly one parent's children, predicate pushed " +
      "to the scan (r15)") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sfDir)
    val df = graft.operators.JoinField.parentIdQuery(li, 7L)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) == 7L))
    val want = li.filter(col("l_orderkey") === 7L).count()
    assert(rows.length.toLong == want)
    // the equality predicate must reach the SCAN node — parquet
    // PushedFilters, or the InMemoryTableScan predicate when a cached
    // relation is substituted (shared-session cache manager matches
    // any logically-equal read, even a fresh one)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(l_orderkey,7)") ||
      (plan.contains("InMemoryTableScan") && plan.contains("= 7")),
      s"parent-key predicate must reach the scan node:\n$plan")
  }
}
