package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Storage-layout levers for the 100 TB deployment (SURVEY §5):
  * bucketed tables make fact-fact joins co-located (no exchange on the
  * bucketed sides), and date-partitioned layouts let the incremental
  * scan prune whole partitions. Verified against the physical plan. */
class ScaleLayoutSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    // each table under its own temp path, not in the session's warehouse
    val dir = Files.createTempDirectory("graft-wh").toString
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force the issue
      try {
        Tables.orders(spark, sfDir).write.mode("overwrite").option("path", s"$dir/orders_b")
          .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
        Tables.lineitem(spark, sfDir).write.mode("overwrite").option("path", s"$dir/lineitem_b")
          .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
        val joined = spark.table("lineitem_b")
          .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() ==
          Tables.lineitem(spark, sfDir).join(Tables.orders(spark, sfDir),
            col("l_orderkey") === col("o_orderkey")).count())
      } finally {
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        // the tables are external: DROP TABLE leaves their files
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("date-partitioned layout prunes partitions for the watermark scan") {
    val dir = Files.createTempDirectory("graft-part").toString + "/events"
    val raw = Tables.eventsRaw(spark, sfDir)
    val ev = raw // UTC day index via exact integer div, whatever encoding the file carries
      .withColumn("__us", graft.util.Det.tsMicrosOf(raw, "ts"))
      .withColumn("day", expr("__us div 86400000000")).drop("__us")
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)

    // partition values are directory names; inferred as int here
    val days = spark.read.parquet(dir).select(col("day").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cut = days(days.length / 2)
    val scan = spark.read.parquet(dir).filter(col("day") > cut)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"), plan)
    // pruned scan reads only the matching partitions' rows
    val expect = ev.filter(col("day") > cut).count()
    assert(scan.count() == expect && expect > 0)
  }
}
