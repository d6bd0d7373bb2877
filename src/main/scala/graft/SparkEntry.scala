package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.multimodal.MediaOps
import graft.queries.{CorpusOps, EventOps, HybridOps, PipelineOps, Query, QueryFamily, Relational, ScaleOps, SearchOps, TextOps, VectorOps}

/** The engine's query surface: the flagship `entry`, every registered
  * query of the ten families (`registry`, with its name → plan view
  * `queries`), and each query's DuckDB oracle SQL (`oracleSql`).
  */
object SparkEntry extends QueryFamily {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every registered query, family by family. */
  lazy val registry: Seq[Query] =
    Seq(Relational, EventOps, TextOps, VectorOps, ScaleOps, CorpusOps,
      SearchOps, HybridOps, PipelineOps, MediaOps).flatMap(_.registry)

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** Large-SF oracle materialization hints — (setup DDL, served SQL)
    * per query whose oracle shares an expensive CTE chain. Local
    * tooling only (`tools/check_oracle.py --use-hints`); the driver's
    * compare reads the self-contained `oracleSql`. */
  def oracleHints: Map[String, (String, String)] =
    PipelineOps.oracleHints ++ CorpusOps.oracleHints
}
