package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Same-JVM A/B for the OrderStats boundary-lookup rewrite: the OLD
  * full-rank-window formulation vs the NEW rankElements boundary lookup,
  * alternated in one JVM so host drift cannot masquerade as a result
  * (same-JVM measurement). Covers the three consumer shapes:
  * global thresholds (winsorized), per-stratum labels (len-decile rollup),
  * and the chained labeler (RFM quintiles). */
object AbRank {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.cacheScans = true
    import graft.core.Tables
    import graft.ops.OrderStats
    try {
      Tables.t(spark, sfDir, "lineitem").count()
      Tables.t(spark, sfDir, "orders").count()
      def timed(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
      }
      def vLine = Tables.t(spark, sfDir, "lineitem")
        .select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)").cast("long").as("cents"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("rid"))
      def winsOld(): Long = {
        val v = vLine
        val (ranked, offsets) = OrderStats.rankedWithOffsets(v, Nil, "cents", "rid")
        val thr = ranked
          .crossJoin(broadcast(offsets.agg(sum("__cell_n").as("n"))))
          .filter(col("val_rank") === expr("(n - 1) div 100 + 1") ||
            col("val_rank") === expr("(99 * (n - 1)) div 100 + 1"))
          .agg(min(when(col("val_rank") === expr("(n - 1) div 100 + 1"),
            col("cents"))).as("lo"),
            max(when(col("val_rank") === expr("(99 * (n - 1)) div 100 + 1"),
              col("cents"))).as("hi"))
        v.crossJoin(broadcast(thr))
          .withColumn("clipped", greatest(least(col("cents"), col("hi")), col("lo")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"), sum(col("clipped")).cast("long").as("s"))
          .count()
      }
      def winsNew(): Long = {
        val v = vLine
        val el = OrderStats.rankElements(v, Nil, "cents", "rid",
          Seq("lo" -> "(n - 1) div 100 + 1",
            "hi" -> "(99 * (n - 1)) div 100 + 1"))
        val thr = el
          .agg(min(when(col("tag") === "lo", col("cents"))).as("lo"),
            max(when(col("tag") === "hi", col("cents"))).as("hi"))
        v.crossJoin(broadcast(thr))
          .withColumn("clipped", greatest(least(col("cents"), col("hi")), col("lo")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"), sum(col("clipped")).cast("long").as("s"))
          .count()
      }
      def custFrame = Tables.t(spark, sfDir, "orders")
        .groupBy("o_custkey")
        .agg(max(col("o_orderkey")).as("r_days"),
          count(lit(1)).as("f_cnt"),
          sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)")).cast("long").as("m_cents"))
      def rfmOld(): Long = {
        def quintile(df0: DataFrame, v: String, q: String): DataFrame = {
          val df = graft.core.SharedFrames.register(df0)
          val (ranked, offsets) = OrderStats.rankedWithOffsets(df, Nil, v, "o_custkey")
          ranked.crossJoin(broadcast(offsets.agg(sum("__cell_n").as("__n"))))
            .withColumn(q, expr("((val_rank - 1) * 5) div __n + 1").cast("int"))
            .drop("val_rank", "__n")
        }
        quintile(quintile(quintile(custFrame, "r_days", "r_q"), "f_cnt", "f_q"),
          "m_cents", "m_q").count()
      }
      def rfmNew(): Long = {
        val cp = graft.core.SharedFrames.register(custFrame)
        val stacked = cp.select(col("o_custkey"), expr(
          "stack(3, 'r', r_days, 'f', f_cnt, 'm', m_cents) AS (dim, v)"))
        val bRows = OrderStats.rankElements(stacked, Seq("dim"), "v",
            "o_custkey", (1 to 4).map(i => (s"$i", s"($i * n + 4) div 5")))
          .collect()
        def label(dim: String, v: String) = (1 to 4).map { i =>
          bRows.find(r => r.getAs[String]("dim") == dim &&
            r.getAs[String]("tag") == s"$i") match {
            case Some(r) =>
              val (bv, bid) = (r.getAs[Long]("v"), r.getAs[Long]("o_custkey"))
              when(col(v) > lit(bv) ||
                (col(v) === lit(bv) && col("o_custkey") > lit(bid)), 1)
                .otherwise(0)
            case None => lit(0)
          }
        }.foldLeft(lit(1))(_ + _).cast("int")
        cp.withColumn("r_q", label("r", "r_days"))
          .withColumn("f_q", label("f", "f_cnt"))
          .withColumn("m_q", label("m", "m_cents"))
          .count()
      }
      for (r <- 1 to 3) {
        timed(s"rep$r winsorized OLD")(winsOld())
        timed(s"rep$r winsorized NEW")(winsNew())
        timed(s"rep$r rfm OLD")(rfmOld())
        timed(s"rep$r rfm NEW")(rfmNew())
      }
    } finally {
      graft.core.SharedFrames.clear()
      graft.core.Tables.cacheScans = false
      spark.stop()
    }
  }
}
