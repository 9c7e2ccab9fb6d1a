package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Layer

/** J3: grouped self-comparison — parent/subsidiary balance-sheet
  * contamination detection (reference `detect_subsidiaries`,
  * `Hummingbird_Master_engine_ipeds_v5.py:375-437`).
  *
  * Reference semantics: group rows sharing a key (EIN); the parent is the
  * row with max metric (`idxmax` = first occurrence on ties — made
  * deterministic here with an explicit id tiebreak); every sibling whose
  * compare-metric is within `tol` (1%) of the parent's is flagged
  * contaminated.
  *
  * One window over one hash-partition of the group key — a single shuffle,
  * no self-join, which is the scalable form (the naive groupBy + join-back
  * would shuffle twice).
  */
object Subsidiary {

  def detect(df: DataFrame, groupKey: String, rankMetric: String,
             compareMetric: String, idCol: String,
             tol: Double = 0.01): DataFrame = {
    val w = Window.partitionBy(groupKey)
      .orderBy(col(rankMetric).desc, col(idCol).asc)
    val ranked = Layer(df, Seq(
      "rn" -> row_number().over(w),
      "parent_id" -> first(col(idCol)).over(w),
      "parent_metric" -> first(col(compareMetric)).over(w)))
    Layer(ranked, Seq(
      "is_parent" -> (col("rn") === 1),
      "is_subsidiary" ->
        (col("rn") > 1 && col(compareMetric).isNotNull &&
          col("parent_metric").isNotNull && abs(col("parent_metric")) > 0d &&
          abs(col(compareMetric) - col("parent_metric"))
            <= lit(tol) * abs(col("parent_metric")))),
      drop = Seq("rn"))
  }
}
