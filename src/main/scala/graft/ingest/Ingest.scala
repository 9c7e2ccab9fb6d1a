package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Layer

/** CSV ingest + schema standardization (SURVEY.md §2.1 S1-S4, §1.3).
  *
  * The reference reads heterogeneous CSVs (3 IRS-990 filing types ×
  * 5 years, 5 IPEDS wide files) and standardizes them onto a common metric
  * vocabulary two ways:
  *  - exact rename maps per filing type (`STANDARD_990_MAP` et al.,
  *    `Hummingbird_Master_engine_990.py:230-403`);
  *  - case-insensitive substring *discovery* with per-field exclusion
  *    lists, first-match-wins, for the year-prefixed IPEDS headers
  *    (`..._ipeds_v5.py:342-368`).
  *
  * Both are plain Scala over `df.columns` followed by one `select` with
  * aliases, so Catalyst still sees a static projection and prunes the scan.
  */
object Ingest {

  /** S1: CSV scan — header, latin-1, all-string (coercion is explicit,
    * mirroring `pd.to_numeric(errors='coerce')`). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
      .csv(path)

  /** S8 (in-engine half): page-corpus source — one row per document with
    * its name, modeling the reference's scraped-page stream
    * (`chat_acreage_bot.py:537-630`) as (page_name, page_text). The
    * network fetch itself stays outside the engine (external I/O); what
    * the engine owns is everything downstream: the wholetext read, the
    * filename provenance, and the regex extraction/classification queries
    * that consume the text. Reads every file under `dir` as ONE row
    * (wholetext), so page boundaries survive regardless of line
    * structure. */
  def pageSource(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .text(dir)
      .withColumn("page_name",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
      .select(col("page_name"), col("value").as("page_text"))

  /** Exact rename-map standardization (P2). Missing raw columns are
    * tolerated and come back as typed NULL columns (indicator -> NaN in the
    * reference). */
  def standardize(df: DataFrame, renameMap: Seq[(String, String)]): DataFrame = {
    val present = df.columns.toSet
    val cols = renameMap.map { case (raw, std) =>
      if (present(raw)) col(raw).as(std) else lit(null).cast("string").as(std)
    }
    df.select(cols: _*)
  }

  /** S3: substring column resolver. For each field spec, scan the raw
    * headers in order and take the FIRST whose lowercase form contains the
    * search term and none of the exclusions (order sensitivity is part of
    * the reference contract, `..._ipeds_v5.py:362-367`). */
  case class FieldSpec(std: String, search: String, exclude: Seq[String] = Nil)

  def resolve(columns: Seq[String], specs: Seq[FieldSpec]): Map[String, String] =
    specs.flatMap { spec =>
      columns.find { c =>
        val lc = c.toLowerCase
        lc.contains(spec.search.toLowerCase) &&
          !spec.exclude.exists(e => lc.contains(e.toLowerCase))
      }.map(raw => spec.std -> raw)
    }.toMap

  def selectResolved(df: DataFrame, specs: Seq[FieldSpec]): DataFrame = {
    val m = resolve(df.columns.toSeq, specs)
    val cols = specs.map { s =>
      m.get(s.std) match {
        case Some(raw) => col(s"`$raw`").as(s.std)
        case None => lit(null).cast("string").as(s.std)
      }
    }
    df.select(cols: _*)
  }

  /** F1: entity-key normalization — trim + strip leading zeros. */
  def normalizeKey(c: Column): Column =
    regexp_replace(trim(c), "^0+", "")

  /** Numeric coercion, `pd.to_numeric(errors='coerce')` parity: invalid
    * strings -> NULL. `try_cast`, because Spark 4 runs ANSI mode by default
    * and a plain cast throws on malformed input. */
  def toDouble(c: Column): Column = c.try_cast("double")

  /** [[toDouble]] over the named columns, in place, as one projection. */
  def coerceNumeric(df: DataFrame, cols: Seq[String]): DataFrame =
    Layer(df, cols.distinct.map(c => c -> toDouble(col(s"`$c`"))))

  /** F4: filing year from YYYYMM tax period. */
  def yearFromTaxPeriod(c: Column): Column =
    (c.cast("int") / 100).cast("int")

  /** Richer-form upgrade + latest-filing dedup (documented
    * `990_analysis.py` semantics, README.md:58-60): one row per
    * (entity, year), preferring the richest filing type then the largest
    * tax period. */
  def dedupRicherForm(df: DataFrame, entityCol: String, yearCol: String,
                      formRank: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(entityCol, yearCol)
      .orderBy(formRank.asc, tieBreak.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** S2: multi-file multi-year scan — per-year CSVs unioned with a
    * provenance column. */
  /** Small-files compaction: rewrite a (possibly partitioned) parquet
    * dataset with bounded file sizes. At corpus scale an incremental
    * ingest accretes thousands of tiny files per partition, and every
    * downstream scan pays the per-file open/footer cost; periodically
    * rewriting with one shuffle on the partition columns (so each output
    * partition is produced by as few tasks as the data needs) plus
    * `maxRecordsPerFile` restores healthy file sizes. Overwrites
    * `outDir`. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              partitionCols: Seq[String], maxRecordsPerFile: Long): Unit = {
    val df = spark.read.parquet(inDir)
    // REBALANCE (AQE) merges undersized shuffle partitions and splits
    // oversized ones to target size — unlike coalesce(n)/repartition(n)
    // it needs no row-count guess and stays parallel at any data volume;
    // maxRecordsPerFile bounds what one task writes per file on top
    val balanced =
      if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols: _*)
      else df.hint("rebalance")
    val writer = balanced.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(outDir)
  }

  def loadYears(spark: SparkSession, paths: Seq[(Int, String)]): DataFrame =
    paths.map { case (y, p) =>
      readCsv(spark, p).withColumn("file_year", lit(y))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
}
