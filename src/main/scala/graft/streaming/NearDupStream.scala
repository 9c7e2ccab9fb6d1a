package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Dedup

/** Near-dup suppression AT INGEST: a streaming document source is
  * fingerprinted per micro-batch and joined against a PERSISTED banded
  * SimHash index ([[Dedup.simhashIndex]]) — the streaming complement of
  * the batch `incrementalSimhashPairs` plan, with the on-disk index
  * playing the role state stores play for built-in stateful ops (doc
  * fingerprints must outlive any watermark horizon, so a state store
  * would grow unbounded; the index is the right home for them).
  *
  * Per batch:
  *  1. fingerprint the batch (narrow map);
  *  2. pairs = batch-vs-index + batch-vs-batch per band
  *     ([[Dedup.incrementalSimhashPairs]] — never index x index);
  *  3. a batch doc is suppressed if it near-duplicates ANY indexed doc
  *     (either pair orientation — the corpus doc always wins), or if it
  *     is the larger id of an intra-batch pair (first-in-batch wins);
  *  4. survivors are appended to the index, so later batches dedup
  *     against them.
  *
  * Checkpointing makes the batch sequence exactly-once at the sink level;
  * re-running a batch re-derives the same survivors because the
  * suppression rule is deterministic. At 100 TB the parquet index becomes
  * a Delta/Iceberg table and the append a MERGE, but the join shape per
  * batch is identical. */
object NearDupStream {

  /** Run the ingest-dedup stream to completion (AvailableNow) over a
    * streaming `docs(doc_id, text)` frame. `indexPath` holds the banded
    * fingerprint index as parquet; `keptPath` accumulates the surviving
    * doc_id rows. */
  def runIngestDedup(spark: SparkSession, docs: DataFrame, indexPath: String,
                     keptPath: String, checkpoint: String,
                     maxHamming: Int = 3): Unit = {
    val q = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val batchIdx = Dedup.simhashIndex(batch).persist()
        try {
          val oldIdx =
            if (new java.io.File(indexPath).exists()) s.read.parquet(indexPath)
            else s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batchIdx.schema)
          val pairs =
            Dedup.incrementalSimhashPairs(oldIdx, batchIdx, maxHamming).persist()
          val batchIds = batchIdx.select("doc_id")
          val oldIds = oldIdx.select("doc_id")
          // vs the index: the batch doc may sit on EITHER side of the
          // oriented (least, greatest) pair — catch both
          val vsOldA = pairs
            .join(oldIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
            .select(col("id_a").as("doc_id"))
          val vsOldB = pairs
            .join(oldIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
            .select(col("id_b").as("doc_id"))
          // intra-batch: the larger id loses (edge-based, deterministic)
          val intra = pairs
            .join(batchIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
            .join(batchIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
            .select(col("id_b").as("doc_id"))
          val suppressed = vsOldA.unionByName(vsOldB).unionByName(intra)
            .join(batchIds, Seq("doc_id"), "left_semi")
            .distinct()
          // PIN both outputs before any write: the index append below
          // changes what `oldIdx` would re-read, so the kept/keptIdx
          // lineage must not be re-evaluated across the two writes (a
          // transactional table format makes this snapshot-safe at scale;
          // for the parquet index the cache is the snapshot)
          val kept = batchIds.join(suppressed, Seq("doc_id"), "left_anti").persist()
          val keptIdx = batchIdx.join(kept, Seq("doc_id"), "left_semi").persist()
          kept.count(); keptIdx.count()
          keptIdx.write.mode("append").parquet(indexPath)
          kept.write.mode("append").parquet(keptPath)
          pairs.unpersist(); kept.unpersist(); keptIdx.unpersist()
          ()
        } finally { batchIdx.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
