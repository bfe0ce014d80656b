package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.Cdc
import graft.queries.Query

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is one
  * `graft.queries.Query`: its Spark plan (`queries`) and its DuckDB
  * oracle (`oracleSql`), declared side by side in the family files under
  * `graft/queries/`. Both maps here are derived from that one registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full CDC hot path (SURVEY §3.1): WAL-shaped scan → broadcast
    * chunk→hypertable resolution → op gates → envelope projection.
    */
  def entry(spark: SparkSession): DataFrame =
    Cdc.envelopePipeline(spark, "/root/testdata/sf0.001")

  /** Spark plan of every query, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.registry.map { case (name, q) => name -> q.build }

  /** DuckDB-runnable oracle SQL, column-aliased identically to `queries`. */
  lazy val oracleSql: Map[String, String] =
    Query.registry.map { case (name, q) => name -> q.oracle }
}
