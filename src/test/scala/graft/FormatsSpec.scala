package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source/sink format breadth beyond CSV+parquet: ORC and JSON-lines
  * round-trips preserving schema and values. (Avro is not bundled in this
  * Spark distribution's jars, so it is intentionally not claimed.) */
class FormatsSpec extends SparkSuite {

  private def sample = core.Tables.lineitem(spark, sf)
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    .filter(col("l_quantity") >= 45)

  test("ORC sink/source round-trip preserves schema and values") {
    val dir = Files.createTempDirectory("graftorc").toFile.getAbsolutePath
    val in = sample
    in.write.mode("overwrite").orc(s"$dir/li.orc")
    val back = spark.read.orc(s"$dir/li.orc")
    assert(back.schema == in.schema)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(1))
    assert(back.collect().map(key).sorted.toSeq == in.collect().map(key).sorted.toSeq)
  }

  test("parquet mergeSchema reads a column-drifted dataset (late columns null)") {
    import org.apache.spark.sql.functions._
    // batch 1 lacks the column batch 2 adds — the accretive-corpus shape
    val dir = java.nio.file.Files.createTempDirectory("graftdrift").toString
    spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "text")
      .write.parquet(s"$dir/b=1")
    spark.createDataFrame(Seq((3L, "c", 0.9))).toDF("id", "text", "quality")
      .write.parquet(s"$dir/b=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "text", "quality", "b"))
    val byId = merged.collect()
      .map(r => r.getLong(r.fieldIndex("id")) ->
        Option(r.get(r.fieldIndex("quality")))).toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty, "pre-drift rows must read null")
    assert(byId(3L).contains(0.9))
  }

  test("compaction rewrites many small files into bounded large ones") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graftsmall").toString
    val out = java.nio.file.Files.createTempDirectory("graftcompact").toString
    // 40 tiny files across 2 partitions
    spark.range(2000)
      .withColumn("part", (col("id") % 2).cast("int"))
      .repartition(20)
      .write.mode("overwrite").partitionBy("part").parquet(in)
    def parquetFiles(p: String) = {
      val d = new java.io.File(p)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(d)
    }
    val before = parquetFiles(in).size
    assert(before >= 20, s"fixture should be fragmented, got $before files")
    graft.ingest.Ingest.compact(spark, in, out, Seq("part"), maxRecordsPerFile = 10000)
    val after = parquetFiles(out).size
    assert(after <= 2, s"expected one file per partition, got $after")
    assert(spark.read.parquet(out).count() == 2000)
  }

  test("JSON-lines sink/source round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graftjson").toFile.getAbsolutePath
    val in = sample
    in.write.mode("overwrite").json(s"$dir/li.json")
    // schema-bound read (inference is a scan of its own — never at scale)
    val back = spark.read.schema(in.schema).json(s"$dir/li.json")
    assert(back.schema == in.schema)
    assert(back.count() == in.count())
    val s1 = back.agg(sum(col("l_quantity"))).head().getDouble(0)
    val s2 = in.agg(sum(col("l_quantity"))).head().getDouble(0)
    assert(s1 == s2)
  }
}
