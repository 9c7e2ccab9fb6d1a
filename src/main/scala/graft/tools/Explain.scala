package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Print the FormattedMode physical plan of registered queries, to check
  * exchanges, join strategies and pushdown before and after a change. Usage:
  * `sbt "runMain graft.tools.Explain q_zorder q_cube"` (defaults to
  * sf0.001; set SPARK_GRAFT_SF_DIR to override). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.installOptimizations(spark)
    try {
      val names = if (args.nonEmpty) args.toSeq
        else graft.SparkEntry.queries.keys.toSeq.sorted
      names.foreach { n =>
        graft.SparkEntry.queries.get(n) match {
          case Some(fn) =>
            println(s"\n===== $n =====")
            println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          case None => println(s"\n===== $n: NOT REGISTERED =====")
        }
      }
    } finally spark.stop()
  }
}
