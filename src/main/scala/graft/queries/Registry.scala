package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered capability query.
  *
  * @param name   stable key, used by the driver's Verify/Bench harness
  * @param ops    SURVEY.md §2 operator ids (or pipeline-op family) covered
  * @param oracle equivalent DuckDB SQL over the same tables; every
  *               query has one, and the checker diffs its rows
  *               against the query's
  */
final case class Q(name: String, ops: String, oracle: String,
                   fn: (SparkSession, String) => DataFrame)

object Registry {
  lazy val all: Seq[Q] = Parity.queries ++ Pipeline.queries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap
}
