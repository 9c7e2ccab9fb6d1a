package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Scoring, Tables}

/** The entity×year panel — the engine's core IR.
  *
  * The reference holds `{entity: {year: {field: value}}}` nested dicts
  * (`Hummingbird_Master_engine_990.py:599`, `..._ipeds_v5.py:283`) to enable
  * prior-year lookups. Here the panel stays *relational*: one long
  * `DataFrame(entity_id, year, metrics...)`, and every prior-year /
  * trend / latest-per-entity operation is a window over
  * `partitionBy(entity_id).orderBy(year)` (SURVEY.md §2.5 W1–W9).
  *
  * Scale note: the panel aggregation and all windows share ONE shuffle on
  * entity_id (hash-partition for the groupBy; the window reuses the same
  * partitioning), so at 100 TB this is a single exchange, skew-safe because
  * entity cardinality is high and per-entity history is short (years).
  */
object Panel {

  /** Build the customer×year panel from `orders`: revenue + order count.
    * Monetary sums go through DECIMAL(18,2) so the value is exact (and
    * identical to the DuckDB oracle) before returning to double for
    * ratio/trend math. */
  def customerYear(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // hash-partition on the entity alone: HashPartitioning(entity)
    // satisfies the (entity, year) aggregation's clustering AND the
    // entity-keyed windows downstream, so the whole panel pipeline runs on
    // one exchange instead of three
    o.repartition(col("o_custkey"))
      .groupBy(
        col("o_custkey").as("entity_id"),
        year(col("o_orderdate")).as("year"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("revenue_dec"),
        count(lit(1)).as("n_orders"))
      .withColumn("revenue", col("revenue_dec").cast("double"))
      .drop("revenue_dec")
  }

  private def w = Window.partitionBy("entity_id").orderBy("year")

  /** W1: gap-aware prior-year lookup — lag of each metric plus the year gap. */
  def withPrior(panel: DataFrame, metrics: Seq[String]): DataFrame = {
    val withLag = metrics.foldLeft(panel) { (df, m) =>
      df.withColumn(s"prior_$m", lag(col(m), 1).over(w))
    }
    withLag
      .withColumn("prior_year", lag(col("year"), 1).over(w))
      .withColumn("gap", col("year") - col("prior_year"))
  }

  /** W2: annualized CAGR trend columns for each metric (requires withPrior). */
  def withCagr(panel: DataFrame, metrics: Seq[String]): DataFrame =
    metrics.foldLeft(panel) { (df, m) =>
      df.withColumn(s"${m}_cagr",
        Scoring.cagr(col(m), col(s"prior_$m"), col("gap")))
    }

  /** The customer CAGR panel (revenue + order-count priors and trends),
    * built ONCE per (session, dir): the flagship distress query, both
    * engine queries and the panel-trend query all consume this same
    * aggregate-then-window subtree, so it goes through SharedFrames like
    * the dedup pair frames do. One exchange on the entity key serves the
    * aggregation and every window. */
  def sharedCustCagrPanel(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(spark, s"custcagr:$dir") {
      withCagr(
        withPrior(customerYear(spark, dir)
            .withColumn("orders_d", col("n_orders").cast("double")),
          Seq("revenue", "orders_d")),
        Seq("revenue", "orders_d"))
    }

  /** W5: first-year value over an unbounded-preceding frame. */
  def withFirst(panel: DataFrame, metric: String): DataFrame =
    panel.withColumn(s"first_$metric",
      first(col(metric)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** W8: latest row per entity (row_number over desc year). */
  def latestPerEntity(panel: DataFrame): DataFrame =
    panel
      .withColumn("rn",
        row_number().over(Window.partitionBy("entity_id").orderBy(col("year").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
}
