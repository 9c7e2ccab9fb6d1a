package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query Spark-job / stage / task-time attribution over the
  * registered queries. At local scale the per-job fixed cost
  * (~0.3–0.5 s) dominates every query in the 0.3–2 s band, so "how many
  * driver jobs does this query launch" is the number that decides whether
  * a structural change (fused rounds, fewer driver actions) can pay at all.
  *
  * Usage: runMain graft.tools.JobCount <n_reps> <query substring>...
  * Session: local[SPARK_GRAFT_CPUS] (default 32) with as many shuffle
  * partitions, ANSI off, UI off, the graft optimizer rules installed and
  * scan caching on; data dir from SPARK_GRAFT_SF_DIR. Shared frames are
  * prewarmed (their jobs are NOT attributed to the queries), then each
  * matching query runs n_reps times with jobs/stages/task-time counted per
  * evaluation.
  */
object JobCount {
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
    graft.plans.GraftExtensions.installOptimizations(spark)
    graft.core.Tables.cacheScans = true
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskNanos.addAndGet(s.stageInfo.taskMetrics.executorRunTime * 1000000L)
      }
    })
    try {
      graft.core.Tables.t(spark, sfDir, "lineitem").count()
      graft.core.Tables.documents(spark, sfDir).count()
      graft.SparkEntry.sharedFrames.foreach { case (name, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
      val qs = graft.SparkEntry.queries.filter { case (n, _) =>
        pats.isEmpty || pats.exists(n.contains)
      }
      for (r <- 1 to reps; (name, fn) <- qs.toSeq.sortBy(_._1)) {
        // listener events are async (listenerBus is private[spark]): a
        // short settle sleep before each snapshot is accurate enough for
        // a diagnostic tool
        Thread.sleep(300)
        val (j0, s0, n0) = (jobs.get(), stages.get(), taskNanos.get())
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"rep$r $name%-24s ${wall}%8.3f s  jobs=${jobs.get() - j0}%3d" +
          f" stages=${stages.get() - s0}%3d" +
          f" taskSec=${(taskNanos.get() - n0) / 1e9}%8.3f rows=$n")
      }
    } finally {
      graft.core.SharedFrames.clear()
      graft.core.Tables.cacheScans = false
      spark.stop()
    }
  }
}
