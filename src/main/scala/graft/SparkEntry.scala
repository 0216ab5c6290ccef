package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.registry._

/** Driver contract (SURVEY.md §2): every query the correctness gate
  * and the benchmarks run.
  *
  * `registry` holds one [[registry.Query]] per query: a thin wiring of
  * a library operator (graft.river / graft.operators / graft.text /
  * graft.dedup / graft.similarity / graft.multimodal / graft.pipeline)
  * with fixed deterministic parameters, next to its DuckDB oracle SQL
  * for the driver's correctness gate. The entries live in one object
  * per SURVEY §2 group under `graft.registry`, each with the builders
  * only its own queries use; `registry.Shared` holds the few that two
  * groups share. `queries` and `oracleSql` are maps derived from
  * `registry`: every query's program, and the oracle of every query
  * that has one.
  *
  * Determinism conventions (shared with the SQL side — see graft.util.Det):
  *  - event timestamps surface as epoch-micros BIGINT (`ts_us`); the oracle
  *    uses epoch_us(ts) to mirror Spark's ns→µs truncation;
  *  - double aggregates are computed on exact BIGINT/DECIMAL domains and
  *    cast to double once;
  *  - every window/top-k ordering carries a unique tie-break column.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("river_full_pipeline")(spark, "/root/testdata/sf0.001")

  /** Every query, SURVEY §2 group by group; fails on a repeated name. */
  lazy val registry: Seq[Query] = Query.unique(
    RiverQueries.queries ++ AnalyticsQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      MultimodalQueries.queries ++ PipelineQueries.queries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
