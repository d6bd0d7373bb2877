package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark plan that answers it over
  * a test-data directory, and the DuckDB SQL that checks that answer.
  * Aliases and ordering are kept identical on both sides (the oracle
  * compare sorts columns by name before hashing values). */
final case class Query(
    name: String,
    plan: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** A module of registered queries. `registry` is the one declaration;
  * `queries` is its name → plan view for lookups by name. */
trait QueryFamily {
  def registry: Seq[Query]

  final lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.plan).toMap
}
