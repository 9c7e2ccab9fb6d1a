package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are organized in [[graft.queries.QueryGroup]]s, one per operator
  * family from SURVEY.md §2; this object is the flat aggregation the driver
  * harness consumes.
  */
object SparkEntry {

  private[graft] def groups: Seq[QueryGroup] = Seq(
    CoreQueries,
    RelationalQueries,
    PanelQueries,
    EngineQueries,
    EventsQueries,
    TextQueries,
    DedupQueries,
    SimilarityQueries,
    SamplingQueries,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.entry(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracle).toMap

  /** Named shared-frame builders across all groups — the bench runner
    * materializes these first and reports their build times separately.
    * A Seq, not a Map: declaration order within each group is dependency
    * order (shingles before pair sets before clusters), so each build
    * time is attributable to its own stage rather than to whichever
    * dependent frame happened to run first. */
  def sharedFrames: Seq[(String, (SparkSession, String) => DataFrame)] =
    groups.flatMap(_.shared.toSeq)
}
