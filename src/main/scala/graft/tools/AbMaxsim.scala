package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Same-JVM decomposition of q_maxsim_rerank's cost: times each interior
  * frame of [[graft.ops.Retrieval.maxSimRerank]] separately (candidates
  * cut, involved-token vectors, the pair join) against the shared
  * tf/scores frames, so the expensive stage is attributable instead of
  * guessed. Throwaway measurement harness. */
object AbMaxsim {
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
    import graft.ops.Retrieval
    try {
      graft.core.Tables.documents(spark, sfDir).count()
      val docs = graft.core.Tables.documents(spark, sfDir)
      def timed(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
      }
      // shared frames the query rides
      val tfM = graft.SparkEntry.sharedFrames.toMap
      timed("shared bm25_tf") { tfM("bm25_tf")(spark, sfDir).count() }
      timed("shared bm25_dl") { tfM("bm25_dl")(spark, sfDir).count() }
      timed("shared bm25_df") { tfM("bm25_df")(spark, sfDir).count() }
      timed("shared bm25_stats") { tfM("bm25_stats")(spark, sfDir).count() }
      timed("shared bm25_scores") { tfM("bm25_scores")(spark, sfDir).count() }
      val tf = tfM("bm25_tf")(spark, sfDir)
      val scored = tfM("bm25_scores")(spark, sfDir)
      for (r <- 1 to 3) {
        timed(s"rep$r cands(topk)") {
          Retrieval.bm25TopKFromScores(scored, 10).count()
        }
        timed(s"rep$r full maxsim") {
          Retrieval.maxSimRerank(docs, col("doc_id") < 3,
            tfOpt = Some(tf), scoredOpt = Some(scored)).count()
        }
      }
      // interference probe: materialize EVERY shared frame (the bench
      // runner's steady state), then re-measure the same warm query
      timed("prewarm ALL shared") {
        graft.SparkEntry.sharedFrames.map { case (_, fn) =>
          try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        }.sum
      }
      for (r <- 4 to 6)
        timed(s"rep$r full maxsim (all shared)") {
          Retrieval.maxSimRerank(docs, col("doc_id") < 3,
            tfOpt = Some(tf), scoredOpt = Some(scored)).count()
        }
      val qfn = graft.SparkEntry.queries("q_maxsim_rerank")
      for (r <- 7 to 9)
        timed(s"rep$r REGISTERED query") { qfn(spark, sfDir).count() }
      for (r <- 10 to 12)
        timed(s"rep$r direct + orderBy") {
          Retrieval.maxSimRerank(docs, col("doc_id") < 3,
            tfOpt = Some(tf), scoredOpt = Some(scored))
            .orderBy("query_id", "new_rank").count()
        }
      for (r <- 13 to 15)
        timed(s"rep$r coalesce(1)+sortWithin") {
          Retrieval.maxSimRerank(docs, col("doc_id") < 3,
            tfOpt = Some(tf), scoredOpt = Some(scored))
            .coalesce(1).sortWithinPartitions("query_id", "new_rank").count()
        }
      for (r <- 16 to 18)
        timed(s"rep$r repartition(1)+sortWithin") {
          Retrieval.maxSimRerank(docs, col("doc_id") < 3,
            tfOpt = Some(tf), scoredOpt = Some(scored))
            .repartition(1).sortWithinPartitions("query_id", "new_rank").count()
        }
    } finally {
      graft.core.SharedFrames.clear()
      graft.core.Tables.cacheScans = false
      spark.stop()
    }
  }
}
