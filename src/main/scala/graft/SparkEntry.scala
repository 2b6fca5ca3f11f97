package graft

import graft.queries.{CurationQueries, PipelineQueries, Relational, ReferenceOps, TextQueries, VectorQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's oracle-testable surface: every operator
  * from SURVEY.md §2 gets a named entry here and a DuckDB-equivalent
  * SQL string in `oracleSql` (same column names, deterministic ORDER
  * BY on both sides). A repeated call returns the session's kept frame
  * (`Tables.query`: key, lifetime and what is never kept).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ ReferenceOps.queries ++
      TextQueries.queries ++ VectorQueries.queries ++ PipelineQueries.queries ++
      CurationQueries.queries).map { case (name, build) =>
        name -> ((spark: SparkSession, dir: String) =>
          Tables.query(spark, dir, name)(build(spark, dir)))
      }

  val oracleSql: Map[String, String] =
    Relational.oracles ++ ReferenceOps.oracles ++
      TextQueries.oracles ++ VectorQueries.oracles ++ PipelineQueries.oracles ++
      CurationQueries.oracles
}
