package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Layer

/** The reference's merge semantics, relationalized:
  *
  *  - "only update if better" + per-cell changelog
  *    (`master_acreage_merge.py:121-142, 192-215`): a compare-and-select
  *    join that emits both the merged table and a CDC DataFrame;
  *  - idempotency by design: running the merge twice yields the same
  *    output and an empty second changelog.
  *
  * The master side stays partitioned by its key; updates arrive as a
  * (usually much smaller) keyed DataFrame — at scale the update side is
  * broadcast or shuffles once on the shared key.
  */
object Merge {

  /** J1/J2 wide integrate: merge a scores frame into the master table by
    * key, overwriting the given columns where the update side has a value
    * (coalesce(new, old)) — the relational rewrite of the reference's
    * ~30-column `at[idx, col]` write-back loops (`...990.py:1353-1365`,
    * `..._ipeds_v5.py:1493-1552`). Master keeps all its other columns;
    * update columns absent from master are appended. */
  def integrate(master: DataFrame, updates: DataFrame, key: String,
                cols: Seq[String]): DataFrame = {
    val upd = updates.select(col(key) +: cols.map(c => col(c).as(s"__u_$c")): _*)
    val inMaster = master.columns.toSet
    Layer(master.join(upd, Seq(key), "left"),
      cols.map { c =>
        c -> (if (inMaster(c)) coalesce(col(s"__u_$c"), col(c)) else col(s"__u_$c"))
      },
      drop = cols.map(c => s"__u_$c"))
  }

  /** Merge `updates(key, value)` into `master(key, value)`, taking the new
    * value only when `better(new, old)` holds (or old is null). Returns the
    * merged frame with old/new/action columns (the changelog is the
    * `action === "updated"` slice). */
  def updateIfBetter(master: DataFrame, updates: DataFrame, key: String,
                     valueCol: String,
                     better: (Column, Column) => Column): DataFrame = {
    val joined = master.withColumnRenamed(valueCol, "old_value")
      .join(updates.withColumnRenamed(valueCol, "new_value"), Seq(key), "left")
    val decided = Layer(joined, Seq("take_new" ->
      (col("new_value").isNotNull &&
        (col("old_value").isNull || better(col("new_value"), col("old_value"))))))
    Layer(decided, Seq(
      valueCol -> when(col("take_new"), col("new_value")).otherwise(col("old_value")),
      "action" -> when(col("take_new"), "updated").otherwise("kept")),
      drop = Seq("take_new"))
  }

  /** Incremental maintenance of a grouped (count, sums...) view under a
    * SIGNED changelog: `view` rows are (keys..., cnt, measure sums...)
    * as currently materialized; `delta` rows are the SAME schema with
    * cnt = +1/-1 per inserted/retracted base row (or pre-aggregated
    * signed sums) and each measure column carrying the signed sum. One
    * union + re-aggregate merges them, and groups whose maintained
    * count reaches zero are DROPPED — a retraction-only group must
    * vanish from the view, not linger as a zero row (MergeSpec pins
    * this and merge == rebuild).
    *
    * The output carries the INPUT's column names — (keys..., cnt,
    * measures...) in, the same out — so the maintained view folds
    * directly into the next batch's `view` argument and registers
    * as-is in [[graft.plans.SummaryCatalog]]; no per-call renaming.
    * Every non-key column except `cnt` is treated as a summed measure.
    * For a schema-stable fold, cast measures to their widest sum type
    * (DECIMAL(38,2) for money) up front: SUM already returns its input
    * decimal type once at max precision, so the fold reaches a fixed
    * point immediately.
    *
    * O(|delta| + |view|), never a base-table rescan; both inputs arrive
    * map-side combined, so the merge is one view-width shuffle. Exact
    * when measures are DECIMAL (addition/negation are exact, so the
    * incremental path cannot drift from a rebuild — q_ivm_agg's oracle
    * proves it against the direct aggregation, and q_summary_ivm_e2e
    * proves the maintained view then SERVES queries through the
    * summary rewrite).
    *
    * Scope note — the classic IVM asymmetry: SUM and COUNT are
    * SELF-MAINTAINABLE under inserts AND deletes (a signed delta undoes
    * exactly); MIN/MAX are self-maintainable under inserts only —
    * retracting the current minimum requires a rescan of the group (or
    * an auxiliary top-k structure), so a summary that carries min/max
    * columns for [[graft.plans.SummaryRewrite]] must either rebuild
    * them per batch or restrict its changelog to inserts (the catalog
    * enforces this at registration via `insertOnly`). */
  def ivmMerge(view: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val measures = view.columns.filterNot(c => keys.contains(c) || c == "cnt")
    require(view.columns.contains("cnt"),
      "ivmMerge: the view must carry a signed 'cnt' column")
    view.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum("cnt").as("cnt"),
        measures.map(c => sum(col(c)).as(c)).toSeq: _*)
      .where(col("cnt") > 0)
  }

  def ivmMerge(view: DataFrame, delta: DataFrame, key: String): DataFrame =
    ivmMerge(view, delta, Seq(key))
}
