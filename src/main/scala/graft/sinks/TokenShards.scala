package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Megatron-style tokenized training shards — the LAST step of a
  * training-data pipeline: token-id sequences materialized as flat
  * little-endian int32 binary shards plus a queryable parquet index
  * (what a data loader memory-maps and random-accesses at train time).
  *
  * Layout under `path`:
  *  - `shard-<k>.bin` — back-to-back int32 ids of every doc on shard k,
  *    docs concatenated in ascending doc_id order;
  *  - `index/` — parquet `(doc_id, shard, offset_ids, n_ids)`; byte
  *    offset into the shard is `offset_ids * 4`.
  *
  * Scale shape: docs land on shards by `pmod(doc_id, nShards)` (uniform,
  * deterministic — shard count is the parallelism knob, sized so a shard
  * fits a loader's mmap); per-shard offsets are a window cumsum
  * PARTITIONED BY shard (bounded by one shard's row count, never a
  * global window); the binary encode runs per partition after ONE
  * repartition on the shard key — ids cross the shuffle once as arrays
  * and the byte stream is a partition-local fold (payload bytes never
  * shuffle). Both sides talk to the
  * filesystem with the DRIVER's Hadoop configuration (serialized to
  * executors as key/value pairs), so non-default FS settings apply on
  * every task, not just the driver.
  *
  * Reference analog: the reference pipeline's terminal step is a master
  * CSV handed to a dashboard (`Hummingbird_Master_engine_990.py` write
  * step); for an LLM-corpus engine the terminal artifact is the token
  * shard, hence this sink next to the CSV/parquet/ORC/JSONL family. */
object TokenShards {

  /** The driver's resolved Hadoop conf as plain pairs — the serializable
    * form a task closure can carry (Configuration itself is not
    * Serializable). */
  private def confProps(spark: SparkSession): Array[(String, String)] = {
    import scala.jdk.CollectionConverters._
    spark.sessionState.newHadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
  }

  private def confOf(props: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Write `(doc_id: long, ids: array<int>)` as `nShards` binary shards
    * + index. Returns the number of docs written.
    *
    * Size `nShards` so each shard stays under 2 GiB (< 2^29 ids): the
    * shard is the loader's mmap/ByteBuffer unit and byte buffers are
    * int-addressed — the same bound every mmap-based loader imposes.
    * Hash partitioning may co-locate a few shard values in one task
    * (handled by the contiguous-run file roll below); with production
    * shard counts in the thousands that is a minor parallelism ripple,
    * never a correctness issue.
    *
    * Task-retry safety: each task writes its shards to attempt-scoped
    * `.shard-<k>.bin.<attemptId>.tmp` names and commits complete files
    * by delete+rename at task end — a speculative or retried attempt
    * can therefore never interleave bytes with a live attempt on the
    * final name. Two attempts racing the commit both hold COMPLETE,
    * byte-identical files (the input is deterministically sorted), so
    * whichever rename lands is correct; a loser whose rename finds the
    * final name re-created simply discards its tmp. Stale tmps from
    * killed attempts are swept at the next overwrite. */
  def write(docs: DataFrame, nShards: Int, path: String): Long = {
    require(nShards >= 1, "nShards must be >= 1")
    val spark = docs.sparkSession
    val props = confProps(spark)
    // overwrite contract, driver-side: drop previous shard files and any
    // orphaned attempt tmps before producing the new epoch
    locally {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.matches("shard-\\d+\\.bin") || n.matches("\\.shard-\\d+\\.bin\\..*\\.tmp"))
          fs.delete(st.getPath, false)
      }
    }
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sharded = graft.core.SharedFrames.register(docs
      .select(col("doc_id"), col("ids"))
      .withColumn("n_ids", size(col("ids")).cast("long"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast("int"))
      .withColumn("offset_ids", coalesce(sum(col("n_ids")).over(w), lit(0L))))
    sharded.select("doc_id", "shard", "offset_ids", "n_ids")
      .write.mode("overwrite").parquet(s"$path/index")
    sharded.select("shard", "doc_id", "ids")
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .foreachPartition { (it: Iterator[Row]) =>
        // hash partitioning can co-locate several shard values in one
        // task; rows arrive sorted by (shard, doc_id), so shard runs are
        // contiguous — switch output files at run boundaries
        val conf = confOf(props)
        val attemptId = Option(TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var cur: Int = -1
        var out: java.io.OutputStream = null
        val pending =
          scala.collection.mutable.ArrayBuffer.empty[(org.apache.hadoop.fs.Path,
            org.apache.hadoop.fs.Path)]
        def roll(shard: Int): Unit = {
          if (out != null) out.close()
          val tmp = new org.apache.hadoop.fs.Path(
            s"$path/.shard-$shard.bin.$attemptId.tmp")
          out = tmp.getFileSystem(conf).create(tmp, true)
          pending += ((tmp, new org.apache.hadoop.fs.Path(s"$path/shard-$shard.bin")))
          cur = shard
        }
        var committed = false
        try {
          it.foreach { r =>
            val shard = r.getInt(0)
            if (shard != cur) roll(shard)
            val ids = r.getSeq[Int](2)
            val buf = ByteBuffer.allocate(ids.length * 4)
              .order(ByteOrder.LITTLE_ENDIAN)
            ids.foreach(buf.putInt)
            out.write(buf.array())
          }
          if (out != null) { out.close(); out = null }
          // commit: every file is complete before ANY final name changes
          pending.foreach { case (tmp, fin) =>
            val fs = tmp.getFileSystem(conf)
            fs.delete(fin, false)
            if (!fs.rename(tmp, fin) && !fs.exists(fin))
              throw new java.io.IOException(s"commit failed: $tmp -> $fin")
            fs.delete(tmp, false) // no-op unless a racing attempt won
          }
          committed = true
        } finally {
          if (out != null) out.close()
          if (!committed) {
            val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
            pending.foreach { case (tmp, _) =>
              try fs.delete(tmp, false) catch { case _: Throwable => () }
            }
          }
        }
      }
    sharded.count()
  }

  /** Read shards + index back into `(doc_id, ids)` — the law-side
    * inverse ([[write]] then [[reconstruct]] is the identity; also the
    * shape of a distributed re-reader). The index repartitions on the
    * shard key and each task opens its shard file(s) ONCE, issuing one
    * positioned read per doc in ascending offset order (so the access
    * pattern is sequential) — shard payload bytes NEVER enter row
    * processing, exactly the write side's discipline. No join, no
    * binaryFile row holding a whole shard: per-row memory is one doc's
    * ids, so the 2 GiB shard sizing bounds file handles, not rows. */
  def reconstruct(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val idx = spark.read.parquet(s"$path/index")
    // an empty corpus writes an index with zero rows and NO shard files;
    // short-circuit to the empty frame with the contract schema
    if (idx.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("ids", ArrayType(IntegerType)))))
    val props = confProps(spark)
    import spark.implicits._
    idx.select(col("shard"), col("doc_id"), col("offset_ids"), col("n_ids"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "offset_ids")
      .as[(Int, Long, Long, Long)]
      .mapPartitions { it =>
        val conf = confOf(props)
        var cur: Int = -1
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        def roll(shard: Int): Unit = {
          if (in != null) in.close()
          val p = new org.apache.hadoop.fs.Path(s"$path/shard-$shard.bin")
          in = p.getFileSystem(conf).open(p)
          cur = shard
        }
        // the last stream outlives the iterator — close at task end
        // (fires on failure too)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => if (in != null) in.close()))
        it.map { case (shard, docId, off, n) =>
          if (shard != cur) roll(shard)
          val bytes = new Array[Byte](n.toInt * 4)
          in.readFully(off * 4, bytes)
          val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          (docId, Seq.fill(n.toInt)(buf.getInt()))
        }
      }.toDF("doc_id", "ids")
  }
}
