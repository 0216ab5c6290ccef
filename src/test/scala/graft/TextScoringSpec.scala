package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.text.TextOps

/** Each significance operator's contingency branches share their token
  * scan: after `collect()` its final adaptive plan reads `documents` at
  * most twice, and the other branches read a reused exchange. (Their
  * registry calls start no job: `EsMixJobsSpec`.) */
class TextScoringSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val docs = Tables.documents(spark, sfDir)

  private val significance: Seq[(String, () => DataFrame)] = Seq(
    "significantTerms" -> (() => TextOps.significantTerms(docs, 5L, 20)),
    "significantTermsChi2" -> (() => TextOps.significantTermsChi2(docs, 5L, 20)),
    "significantTermsMi" -> (() => TextOps.significantTermsMi(docs, 5L, 20)),
    "significantTermsJlh" -> (() => TextOps.significantTermsJlh(docs, 5L, 20)),
    "significantTermsBackground" ->
      (() => TextOps.significantTermsBackground(docs, "src3", "en", 2L, 20)),
    "significantText" -> (() => TextOps.significantText(docs, "hash", 5L, 20)))

  significance.foreach { case (name, op) =>
    test(s"$name: the final plan reads documents at most twice") {
      val df = op()
      assert(df.collect().nonEmpty)
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty && scans.length <= 2,
        s"$name reads documents ${scans.length} times")
    }
  }
}
