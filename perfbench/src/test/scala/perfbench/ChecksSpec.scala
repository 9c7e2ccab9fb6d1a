package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The client-side checks: a read's answer is compared with the model, and
  * a wrong or failed answer counts against the attempted operations and
  * misses every latency limit. No Spark session is needed. */
class ChecksSpec extends AnyFunSuite {

  private def row(id: Long, state: String, score: Option[Double], acres: Option[Double] = None,
                  conf: Option[Int] = None, name: String = "Alder Brook College") =
    MRow(id, name, "IPEDS", state, score, Model.category(score), acres, conf,
      Some(Vector(1f, 2f, 3f)))

  private val model = new Model(Seq(
    row(1, "CA", Some(10d)), row(2, "CA", Some(55d), Some(120d), Some(1)),
    row(3, "TX", Some(70d), name = "Cedar Hollow Institute"), row(4, "CA", None)),
    Map("U1" -> Seq((2023, Some(12d), "Healthy"), (2024, Some(10d), "Healthy"))))

  private def judge(req: Request, rows: Array[Row], tally: Tally): Unit =
    tally.record(req.kind, 1d, req.answer(rows) == req.expected(model))

  test("a correct answer passes and a corrupted one counts as failed") {
    val tally = new Tally
    val req = FilterCount("CA", 0d, "IPEDS", None)
    judge(req, Array(Row(2L)), tally)
    judge(req, Array(Row(3L)), tally)
    assert(tally.attempted.get == 2 && tally.failed.get == 1)
    assert(tally.latencies(req.kind).count(_.isInfinite) == 1)
  }

  test("group counts compare row counts and exact 4-dp score sums") {
    val tally = new Tally
    val req = GroupCount("CA")
    val good = Array(Row("Healthy", 1L, new java.math.BigDecimal("10.0000")),
      Row("Elevated", 1L, new java.math.BigDecimal("55.0000")), Row("Unknown", 1L, null))
    judge(req, good, tally)
    val corrupt = good.updated(1, Row("Elevated", 1L, new java.math.BigDecimal("55.0001")))
    judge(req, corrupt, tally)
    assert(tally.failed.get == 1)
  }

  test("search order, history rows and acreage changelog are checked") {
    val tally = new Tally
    judge(Search("cedar"), Array(Row(3L, "Cedar Hollow Institute", 70d, null)), tally)
    judge(Search("cedar"), Array(Row(3L, "Cedar Hollow Institute", 71d, null)), tally)
    judge(History("U1"), Array(Row(2023, 12d, "Healthy"), Row(2024, 10d, "Healthy")), tally)
    judge(History("U1"), Array(Row(2024, 10d, "Healthy")), tally)
    assert(tally.attempted.get == 4 && tally.failed.get == 2)
    // higher confidence replaces, equal confidence keeps, empty always takes
    assert(Model.changed(model.rows, Seq((1L, 50d, 1), (2L, 90d, 1), (3L, 40d, 2))) ==
      Seq((1L, 50d, 1), (3L, 40d, 2)))
  }

  test("a percentile with fewer than ten samples beyond it is refused") {
    val xs = (1 to 99).map(_.toDouble)
    intercept[SteadinessError](Stats.percentile("p90", xs, 0.9))
    assert(Stats.percentile("p90", (1 to 100).map(_.toDouble), 0.9) == 90d)
    intercept[SteadinessError](Stats.percentile("p50", Seq(1d), 0.5))
    assert(Stats.percentile("p50", Seq(1d, 2d), 0.5) == 1.5)
  }
}
