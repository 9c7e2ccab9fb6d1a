package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.OrderStats

/** Laws for the two-level exact value rank ([[graft.ops.OrderStats]]). */
class OrderStatsSpec extends SparkSuite {
  import spark.implicits._

  private def globalRank(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("truth_rank",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))

  test("valueRanked is bit-identical to the global row_number window") {
    val rnd = new scala.util.Random(11)
    // heavy ties (mod 17) + spread values + negatives
    val rows = (0 until 5000).map(i =>
      (i.toLong, if (i % 3 == 0) (rnd.nextInt(17) - 8).toLong
                 else rnd.nextInt(1000000).toLong - 500000))
    for (cells <- Seq(1, 16, 512)) {
      val df = rows.toDF("id", "v").repartition(7)
      val got = OrderStats.valueRanked(df, "v", "id", cells)
      val diff = globalRank(df).join(got, Seq("id", "v"))
        .filter(col("truth_rank") =!= col("val_rank")).count()
      assert(diff == 0L, s"cells=$cells: $diff ranks differ")
    }
  }

  test("valueRankedBy matches the per-group row_number window") {
    val rnd = new scala.util.Random(19)
    val rows = (0 until 4000).map(i =>
      (i.toLong, s"g${i % 5}", rnd.nextInt(200).toLong - 100))
    val df = rows.toDF("id", "g", "v").repartition(6)
    val truth = df.withColumn("truth_rank",
      row_number().over(
        Window.partitionBy("g").orderBy(col("v"), col("id"))).cast("long"))
    val got = OrderStats.valueRankedBy(df, Seq("g"), "v", "id", cells = 64)
    val diff = truth.join(got, Seq("id", "g", "v"))
      .filter(col("truth_rank") =!= col("val_rank")).count()
    assert(diff == 0L)
  }

  test("all-equal values: ranks are the id order") {
    val df = (1L to 100L).map(i => (i, 42L)).toDF("id", "v")
    val got = OrderStats.valueRanked(df, "v", "id")
      .select("id", "val_rank").as[(Long, Long)].collect().toMap
    assert((1L to 100L).forall(i => got(i) == i))
  }

  test("equi-depth buckets differ in size by at most 1 and cover value order") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 1003).map(i => (i.toLong, rnd.nextInt(5000).toLong))
      .toDF("id", "v")
    val h = OrderStats.equiDepthHistogram(df, "v", "id", knownSize = 1003L,
        buckets = 10)
      .orderBy("bucket").collect()
    assert(h.map(_.getAs[Long]("n_rows")).sum == 1003L)
    val sizes = h.map(_.getAs[Long]("n_rows"))
    assert(sizes.max - sizes.min <= 1L)
    // bucket value envelopes are non-overlapping in order
    val bounds = h.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    bounds.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("empty input: consumers get schema-correct empty results, not an AnalysisException") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(OrderStats.equiDepthHistogram(empty, "v", "id", knownSize = 0L)
      .count() == 0L)
    val allNull = Seq((1L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "v")
    assert(OrderStats.equiDepthHistogram(allNull.filter(col("v").isNotNull),
      "v", "id", knownSize = 0L).count() == 0L)
    // the stratified form resolves its strata columns on the empty offsets
    val emptyG = Seq.empty[(Long, String, Long)].toDF("id", "g", "v")
    assert(OrderStats.valueRankedBy(emptyG, Seq("g"), "v", "id").count() == 0L)
  }

  test("plan: the only partition-less window runs on the tiny cell frame") {
    val df = (0 until 1000).map(i => (i.toLong, (i % 37).toLong)).toDF("id", "v")
    val plan = OrderStats.valueRanked(df, "v", "id")
      .queryExecution.executedPlan.toString
    // the data-side window must be keyed by the grid cell
    assert(plan.contains("__cell"))
  }

  test("rankElements == formula-over-full-rank (global and per-stratum)") {
    val rnd = new scala.util.Random(7)
    // heavy ties + negatives, two strata of very different size
    val rows = (0 until 4000).map(i =>
      (i.toLong, if (i % 7 == 0) "big" else "small",
        rnd.nextInt(300).toLong - 150))
    val df = rows.toDF("id", "g", "v").repartition(6)
    val formulas = Seq(
      "p1" -> "(n - 1) div 100 + 1",
      "med1" -> "(n + 1) div 2",
      "med2" -> "n div 2 + 1",
      "p99" -> "(99 * (n - 1)) div 100 + 1")
    for (strata <- Seq(Nil, Seq("g"))) {
      val got = OrderStats.rankElements(df, strata, "v", "id", formulas,
          knownSize = 4000L, cells = 64)
        .collect()
        .map(r => (if (strata.isEmpty) "" else r.getAs[String]("g"),
          r.getAs[String]("tag"), r.getAs[Long]("rank_target"),
          r.getAs[Long]("v"), r.getAs[Long]("id"), r.getAs[Long]("n"))).toSet
      val ranked = OrderStats.valueRankedBy(df, strata, "v", "id", cells = 64)
      val sizes = df.groupBy(strata.map(col): _*).agg(count(lit(1)).as("n"))
      val joined = if (strata.isEmpty) ranked.crossJoin(broadcast(sizes))
        else ranked.join(broadcast(sizes), strata)
      val truth = formulas.flatMap { case (tag, f) =>
        joined.filter(col("val_rank") === expr(f))
          .collect()
          .map(r => (if (strata.isEmpty) "" else r.getAs[String]("g"),
            tag, r.getAs[Long]("val_rank"), r.getAs[Long]("v"),
            r.getAs[Long]("id"), r.getAs[Long]("n")))
      }.toSet
      assert(got == truth, s"strata=$strata: " +
        s"missing=${truth -- got} extra=${got -- truth}")
    }
    // empty input → schema-correct empty frame
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    val e = OrderStats.rankElements(empty, Nil, "v", "id",
      Seq("m" -> "(n + 1) div 2"), knownSize = 0L)
    assert(e.columns.toSeq == Seq("tag", "rank_target", "v", "id", "n"))
    assert(e.count() == 0L)
  }

  test("hash-sample quantiles: rank error within the sampling envelope") {
    // q_approx_quantiles' estimate vs the EXACT full-data quantile: the
    // estimated value's true rank must sit within a few sampling standard
    // deviations (sd = sqrt(q(1-q)N/p)) of the target rank.
    val approx = graft.queries.RelationalQueries
      .queries("q_approx_quantiles")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(approx.keySet == Set(1, 5, 25, 50, 75, 90, 95, 99))
    val cents = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)").cast("long").as("cents"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toDouble
    approx.foreach { case (pct, est) =>
      val q = pct / 100.0
      val target = (n - 1) * q + 1
      val trueRank = cents.count(_ <= est).toDouble // upper rank of est
      val sd = math.sqrt(q * (1 - q) * n * 8) // p = 1/8 sampling
      assert(math.abs(trueRank - target) <= 5 * sd + 8,
        s"pct=$pct est=$est rank=$trueRank target=$target sd=$sd")
    }
  }
}
