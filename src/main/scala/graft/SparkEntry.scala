package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, Parity, TrainingData}

/** One registered query: its name, the Spark query over an sf dir, and
  * the DuckDB oracle SQL over the same parquet tables. */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracle: String)

/** The query contract — see SURVEY.md §7.
  *
  * Every entry in `queries` has its DuckDB oracle in `oracleSql`.
  * Column names/aliases are identical on both sides — the oracle check
  * sorts columns by name before hashing values. A query runs in a
  * session built with `spark.sql.extensions=graft.GraftExtensions`
  * ([[Session.local]] sets it), which holds graft's native functions.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Star-join rollup: revenue by region/nation (Pattern D denormalize
    * feeding an aggregate).
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.regionRevenueQ(spark, "/root/testdata/sf0.001")

  private val registry: Seq[Query] = {
    val all = Parity.queries ++ Analytics.queries ++ TrainingData.queries
    val names = all.map(_.name)
    val dups = names.diff(names.distinct)
    require(dups.isEmpty, s"query declared twice: ${dups.mkString(", ")}")
    all
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
