package graft

import org.apache.spark.sql.functions._
import graft.core.Layer

class LayerSpec extends SparkSuite {
  import spark.implicits._

  test("a layer replaces columns in place, appends new ones in order, drops the named") {
    val df = Seq((1, 2.0, "a"), (2, -1.0, null)).toDF("k", "Val", "s")
    // names match as withColumn matches them (case-insensitively by
    // default), and every output reads the input's columns
    val got = Layer(df, Seq(
      "val" -> (col("Val") * 2),
      "t" -> upper(col("s")),
      "k2" -> (col("k") + col("Val"))),
      drop = Seq("S"))
    val want = df.select(col("k"), (col("Val") * 2).as("val"), upper(col("s")).as("t"),
      (col("k") + col("Val")).as("k2"))
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
    intercept[IllegalArgumentException](Layer(df, Seq("x" -> lit(1), "X" -> lit(2))))
  }
}
