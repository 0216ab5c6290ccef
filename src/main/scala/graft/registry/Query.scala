package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its Spark program over a data dir, and the
  * DuckDB SQL that computes the same rows from the same parquet
  * tables. `oracle = None` means the query is rows-only by design: a
  * candidate-generation operator checked by a recall or
  * subset-of-exact spec instead. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Query {

  /** `queries` unchanged, or fails naming every name that two or more
    * entries share: a map built from them would keep only the last. */
  def unique(queries: Seq[Query]): Seq[Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    queries
  }
}
