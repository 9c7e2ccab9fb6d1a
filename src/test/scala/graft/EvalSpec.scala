package graft

import graft.ops.Eval

/** Laws for the exact evaluation statistics ([[graft.ops.Eval]]). The
  * AUC pairwise law lives in PerceptronSpec next to its consumer. */
class EvalSpec extends SparkSuite {
  import spark.implicits._

  test("prCurve equals brute-force thresholding") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 300).map(_ => (rnd.nextInt(15).toLong, rnd.nextBoolean()))
    val got = Eval.prCurve(rows.toDF("s", "pos").repartition(4), "s", "pos")
      .collect()
      .map(r => r.getAs[Long]("threshold") ->
        (r.getAs[Long]("n_pred"), r.getAs[Long]("tp"),
          r.getAs[Double]("precision"), r.getAs[Double]("recall"))).toMap
    val nPos = rows.count(_._2).toLong
    rows.map(_._1).distinct.foreach { t =>
      val pred = rows.filter(_._1 >= t)
      val tp = pred.count(_._2).toLong
      val (gn, gtp, gp, gr) = got(t)
      assert(gn == pred.size.toLong && gtp == tp)
      assert(math.abs(gp - tp.toDouble / pred.size) < 1e-6)
      assert(math.abs(gr - tp.toDouble / nPos) < 1e-6)
    }
  }
}
