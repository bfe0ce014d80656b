package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One batch query of the driver contract: `build(spark, dataDir)` is the
  * Spark plan, `oracle` the DuckDB SQL that must return the same rows
  * over the same parquet tables. Column names are aliased identically on
  * both sides — the driver sorts columns by name before hashing.
  *
  * Numeric discipline for oracle parity:
  *   - money: integer cents at the leaves (`QueryHelpers.cents` /
  *     `centsSql`), aggregated as BIGINT;
  *   - other double aggregations: cast to DECIMAL at the leaves, aggregate
  *     in decimal (exact, engine-independent; double-sum association order
  *     is not);
  *   - dot products / folds: sequential left folds via
  *     `aggregate(zip_with(...))` ≙ DuckDB `list_reduce` — bit-identical;
  *   - timestamps: never emitted raw; always converted to epoch
  *     millis/micros BIGINT or a formatted string.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracle: String)

object Query {

  /** Every family, each a name prefix or a few related ones. */
  def families: Seq[Seq[Query]] = Seq(
    AnalyticsQueries.all, CdcQueries.all, CdcFilterQueries.all, ConvQueries.all,
    EventsQueries.all, TextQueries.all, WebQueries.all, DedupQueries.all,
    SimilarityQueries.all, CurationQueries.all)

  /** Queries by name; fails if a name appears twice. */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }

  /** The one registry the driver contract is derived from. */
  lazy val registry: Map[String, Query] = index(families.flatten)
}
