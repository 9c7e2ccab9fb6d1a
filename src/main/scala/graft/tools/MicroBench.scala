package graft.tools

import org.apache.spark.sql.SparkSession

/** Repeated-run timer for a subset of SparkEntry queries.
  *
  * Usage: runMain graft.tools.MicroBench <n_reps> <query substring>...
  * Times each matching query n_reps times in one JVM so first-run costs
  * (cache build, codegen) separate from steady-state cost, so a regression
  * can be attributed to one or the other. Session: local[SPARK_GRAFT_CPUS]
  * (default 32) with as many shuffle partitions, ANSI off, UI off, scan
  * caching on; the lineitem and documents scans and every shared frame are
  * warmed before the first timed run. Data dir: SPARK_GRAFT_SF_DIR.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val pats = args.drop(1).toSeq
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
    try {
      // warm the two big scans and every shared frame before timing
      graft.core.Tables.t(spark, sfDir, "lineitem").count()
      graft.core.Tables.documents(spark, sfDir).count()
      graft.SparkEntry.sharedFrames.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        println(f"shared $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
      }
      val qs = graft.SparkEntry.queries.filter { case (n, _) =>
        pats.isEmpty || pats.exists(n.contains)
      }
      for (r <- 1 to reps; (name, fn) <- qs.toSeq.sortBy(_._1)) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"rep$r $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
      }
    } finally {
      graft.core.SharedFrames.clear()
      graft.core.Tables.cacheScans = false
      spark.stop()
    }
  }
}
