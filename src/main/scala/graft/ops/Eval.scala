package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation statistics in exact distributed arithmetic. */
object Eval {

  /** Precision/recall curve at every distinct score threshold
    * ("predict positive when score >= t"): the same collapse-to-
    * distinct-scores shape as [[aucByScore]] — cumulative true/false
    * positives accumulate DOWN the score order on the tiny frame, and
    * precision/recall stay exact integer ratios until one final rounded
    * division per row. Output: (threshold, n_pred, tp, precision,
    * recall), one row per distinct score. */
  def prCurve(df: DataFrame, score: String, isPos: String): DataFrame = {
    val byScore = df.groupBy(col(score).as("threshold"))
      .agg(sum(when(col(isPos), 1L).otherwise(0L)).as("np"),
        sum(when(!col(isPos), 1L).otherwise(0L)).as("nn"))
    val down = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = byScore.agg(sum(col("np")).as("n_pos"))
    byScore
      .withColumn("tp", sum(col("np")).over(down))
      .withColumn("fp", sum(col("nn")).over(down))
      .crossJoin(broadcast(tot))
      .select(col("threshold"),
        (col("tp") + col("fp")).as("n_pred"), col("tp"),
        round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"),
          6).as("precision"),
        round(col("tp").cast("double") / col("n_pos").cast("double"), 6)
          .as("recall"))
  }

  /** Rank-free exact AUC (Mann–Whitney U): `P(s_pos > s_neg) + ½·P(=)`.
    *
    * One aggregation collapses the data to its DISTINCT score values
    * (bounded by the score domain, not the row count — integer
    * classifier margins; grid-bucket first via [[OrderStats]] if the
    * score were near-continuous), then U accumulates over that tiny
    * frame with a cumulative-negatives window. Ties carry the standard
    * half credit, kept integral via the doubled form
    * `2U = Σ 2·np·cum_nn + np·nn` (law-tested against the O(n²)
    * pairwise definition in PerceptronSpec). The partition-less window
    * runs on the distinct-score frame only — the same envelope as
    * OrderStats' offsets; interior products ride DECIMAL(38,0) because
    * n_pos·n_neg crosses 2^63 at corpus scale.
    *
    * Input: `score` (integral), `isPos` (boolean) columns. Output: one
    * row (n_pos, n_neg, u2, auc). */
  def aucByScore(df: DataFrame, score: String, isPos: String): DataFrame = {
    val byScore = df
      .groupBy(col(score).as("s"))
      .agg(sum(when(col(isPos), 1L).otherwise(0L)).as("np"),
        sum(when(!col(isPos), 1L).otherwise(0L)).as("nn"))
    val wdw = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(wdw), lit(0L)))
      .agg(
        sum(col("np").cast("decimal(38,0)") * col("cum_nn") * 2 +
          col("np").cast("decimal(38,0)") * col("nn")).as("u2d"),
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        col("u2d").cast("long").as("u2"),
        round(col("u2d").cast("double") /
          (col("n_pos").cast("double") * col("n_neg").cast("double") * 2),
          6).as("auc"))
  }
}
