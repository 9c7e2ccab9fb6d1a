package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming maintenance of a grouped (count, sums...) summary from a
  * SIGNED changelog — the stream-side form of
  * [[graft.ops.Merge.ivmMerge]], closing the IVM family's loop:
  * `q_ivm_agg` proves the batch merge, `q_summary_ivm_e2e` proves maintain-then-serve through the
  * [[graft.plans.SummaryRewrite]], and this runs the maintenance as a
  * checkpointed stream.
  *
  * Store shape — APPEND-ONLY signed-delta segments, never
  * read-modify-write: each micro-batch collapses its own changelog rows
  * to a |changed groups|-bounded signed rollup (map-side combined) and
  * writes it to `deltas/lineage=<h>/batch=<id>` with OVERWRITE, where
  * `h` hashes the checkpoint location:
  *  - a foreachBatch retry or a crash-replay resumed FROM THE SAME
  *    CHECKPOINT re-delivers the same batch id in the same lineage and
  *    overwrites its own directory with byte-identical content —
  *    replays are idempotent (the CurationStream per-batch-dir ledger
  *    discipline);
  *  - a NEW checkpoint is a new lineage: its batch ids restart at 0 and
  *    must not clobber an earlier lineage's segments (MemoryStream
  *    cannot span sessions, so the resume law necessarily starts a
  *    fresh checkpoint for the post-boundary batches — and production
  *    re-pointing a new stream at an existing store has the same
  *    shape). Delivering the same changelog ROWS twice under two
  *    lineages is producer-side duplication, which no sink can undo.
  *
  * A batch therefore costs ONE aggregation over its own rows — O(batch),
  * never O(view), never a base rescan. [[loadView]] folds every segment
  * by group-sum (associative, so segment count only affects read cost —
  * the small-file compaction `q_compact_plan` already plans for) and
  * drops count-zero groups, exactly [[graft.ops.Merge.ivmMerge]]'s law;
  * the loaded view registers directly in
  * [[graft.plans.SummaryCatalog]] (`insertOnly = false` — a signed
  * changelog bears retractions, so no min/max columns). Money must
  * arrive DECIMAL so sum-merge == rebuild exactly (StreamingSpec pins
  * maintain == direct rebuild across batches, retractions, and a
  * session boundary). */
object SummaryStream {

  private def lineage(checkpoint: String): String =
    MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes(StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString

  /** Run to completion (AvailableNow) over a streaming signed changelog
    * `(keys..., cnt, measures...)` — cnt = +1/-1 per inserted/retracted
    * base row (or pre-aggregated signed counts), measures carrying the
    * signed sums — folding each micro-batch into the delta store. */
  def runSummaryMaintenance(changelog: DataFrame, keys: Seq[String],
                            storeDir: String, checkpoint: String): Unit = {
    val h = lineage(checkpoint)
    val q = changelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val measures = batch.columns
          .filterNot(c => keys.contains(c) || c == "cnt")
        batch.groupBy(keys.map(col): _*)
          .agg(sum(col("cnt")).as("cnt"),
            measures.map(c => sum(col(c)).as(c)).toSeq: _*)
          .write.mode("overwrite")
          .parquet(s"$storeDir/deltas/lineage=$h/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Fold the delta store into the maintained view `(keys..., cnt,
    * measures...)`: one group-sum over every segment (associative — the
    * per-batch rollups are partial aggregates of the same grouping),
    * count-zero groups dropped. Law-equal to the direct aggregation of
    * (every insert ever streamed) minus (every retraction), and schema-
    * compatible with [[graft.ops.Merge.ivmMerge]]'s view argument, so a
    * batch job can keep folding where the stream left off. */
  def loadView(spark: SparkSession, storeDir: String,
               keys: Seq[String]): DataFrame = {
    val d = spark.read.parquet(s"$storeDir/deltas")
      .drop("lineage", "batch")
    val measures = d.columns.filterNot(c => keys.contains(c) || c == "cnt")
    d.groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        measures.map(c => sum(col(c)).as(c)).toSeq: _*)
      .where(col("cnt") > 0)
  }
}
