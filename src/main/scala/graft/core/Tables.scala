package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * Columns are pruned and predicates pushed by Catalyst automatically —
  * this mirrors the reference's manual projection-at-read
  * (`hv_master_data/data/Hummingbird_Master_engine_990.py:657-671`) for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** When true, base-table scans are persisted once per (session, path)
    * via [[SharedFrames.cached]] and shared across queries. Off by default
    * — production plans should keep the parquet scan visible to Catalyst
    * so filter/column pushdown reaches the file reader. The bench harness
    * turns it on: re-running 64 queries over the same ten tables pays the
    * footer-parse + decode cost once instead of per query. */
  @volatile var cacheScans: Boolean = false

  /** Bytes of parquet per cached-scan partition (see [[t]]). */
  private val CacheSliceBytes = 128L << 10

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    def read = spark.read.parquet(s"$dir/$name.parquet")
    if (cacheScans) SharedFrames.cached(spark, s"table:$dir/$name") {
      // The generated single-file tables carry ONE parquet row group, so
      // a bare cached scan materializes as ONE partition — and every
      // query's pre-exchange map work (explodes, hashing, partial
      // aggregation: the expensive half of most plans) then runs on one
      // core regardless of the session's core count. Spread the CACHE
      // over the cores once at build time, sized by file bytes so tiny
      // dimension tables stay single-partition (a 25-row nation in 32
      // slices is pure scheduling overhead). Production (cacheScans =
      // false) is untouched: scans stay visible to Catalyst, and real
      // multi-row-group files already split by maxPartitionBytes.
      val bytes =
        try new java.io.File(s"$dir/$name.parquet").length() catch {
          case NonFatal(_) => 0L
        }
      val cap = spark.sparkContext.defaultParallelism
      val parts = math.max(1L, math.min(cap.toLong, bytes / CacheSliceBytes))
      if (parts > 1) read.repartition(parts.toInt) else read
    }
    else read
  }

  /** Memoized base-table row count — one job per (session, dir, name),
    * shared by every op that sizes its round planning on a corpus-wide
    * frame (see [[SharedFrames.memoCount]]). Keyed like the scan cache,
    * so the bench's between-passes clear keeps it exactly when it keeps
    * the scan. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    SharedFrames.memoCount(spark, s"table:$dir/$name")(t(spark, dir, name))

  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  /** Normalize the events `ts` column to session-zoned TIMESTAMP regardless
    * of the on-disk encoding. Older generated data stored TIMESTAMP(NANOS)
    * (which Spark 4 only reads as raw longs under the legacy conf — truncate
    * ns->us, the same truncation DuckDB applies internally); newer data
    * stores TIMESTAMP(MICROS) NTZ directly. Session TZ is UTC everywhere, so
    * the NTZ->TZ cast is value-identity and keeps watermark/window code on
    * one type. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
