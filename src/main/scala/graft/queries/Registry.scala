package graft.queries

import graft.engine.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered capability query. [[fn]] runs `build` in a
  * [[Checkpoints.query]] scope, which frees every cache and pin the
  * build takes after the first action over the returned frame: a
  * returned frame serves one action; build again for another.
  *
  * @param name   stable key, used by the driver's Verify/Bench harness
  * @param ops    SURVEY.md §2 operator ids (or pipeline-op family) covered
  * @param oracle equivalent DuckDB SQL over the same tables; every
  *               query has one, and the checker diffs its rows
  *               against the query's
  */
final class Q(val name: String, val ops: String, val oracle: String,
              build: (SparkSession, String) => DataFrame) {
  val fn: (SparkSession, String) => DataFrame =
    (spark, dir) => Checkpoints.query(spark)(build(spark, dir))
}

object Q {
  def apply(name: String, ops: String, oracle: String,
            build: (SparkSession, String) => DataFrame): Q =
    new Q(name, ops, oracle, build)
}

object Registry {
  lazy val all: Seq[Q] = Parity.queries ++ Pipeline.queries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap
}
