package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.registry.Query

/** Pins the query registry: its size, its rows-only count, and the exact
  * bytes of the `oracle_sql.json` the correctness gate reads. A changed
  * hash means some oracle's SQL text changed: re-pin only after checking
  * that the change is meant (`cmp` against a dump of the parent). */
class RegistrySpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  test("oracle_sql.json keeps its pinned bytes") {
    assert(sha256(Verify.oracleJson) ==
      "65aadba8f507953a0b679c232c32971b059887f406ec1f1e507ee9514004dd1d")
  }

  test("301 queries with unique names: 284 with an oracle, 17 rows-only") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 301 && names.distinct.size == 301)
    assert(SparkEntry.registry.count(_.oracle.isEmpty) == 17)
    assert(SparkEntry.oracleSql.size == 284)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("the registry rejects two entries that share a name, naming it") {
    val run: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](Query.unique(Seq(
      Query("a", run, None), Query("b", run, Some("SELECT 1")), Query("a", run, None))))
    assert(e.getMessage.contains("duplicate query names: a"))
    assert(Query.unique(Seq(Query("a", run, None), Query("b", run, None))).size == 2)
  }
}
