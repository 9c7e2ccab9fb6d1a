package graft

import org.apache.spark.sql.DataFrame
import graft.model.Ipeds

/** IPEDS v5 engine fixtures: wide year-prefixed headers through the
  * substring resolver, accounting-standard detection, subsidiary
  * contamination, 990 injection, likely-closed gating, cliff multiplier,
  * and floors. */
class IpedsSpec extends SparkSuite with org.scalactic.Tolerance {

  private lazy val scored: DataFrame = Ipeds.score(ScoringFixtures.ipedsPanel(spark)).cache()

  private def row(u: String, y: Int) =
    scored.filter(s"unitid = '$u' AND year = $y").collect().head

  private def d(r: org.apache.spark.sql.Row, c: String): Option[Double] = {
    val i = r.fieldIndex(c)
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  test("accounting standard detected from populated finance section") {
    assert(row("U1", 2024).getString(row("U1", 2024).fieldIndex("accounting_std")) == "fasb")
    assert(row("U2", 2024).getString(row("U2", 2024).fieldIndex("accounting_std")) == "gasb")
  }

  test("metrics coalesce across FASB/GASB sections") {
    assert(d(row("U2", 2024), "total_revenue").get === 2050000.0 +- 1e-6)
    assert(d(row("U2", 2024), "net_assets").get === 2550000.0 +- 1e-6)
    // derived liabilities for GASB: assets - net position
    assert(d(row("U2", 2024), "total_liabilities").get === 2550000.0 +- 1e-6)
  }

  test("subsidiary sharing an EIN with ~equal assets is contaminated") {
    val r5 = row("U5", 2024)
    assert(r5.getBoolean(r5.fieldIndex("is_subsidiary")))
    assert(d(r5, "total_assets").isEmpty)       // balance sheet nulled
    assert(d(r5, "ind_equity_ratio").isEmpty)   // solvency dropped out
    val r4 = row("U4", 2024)
    assert(!r4.getBoolean(r4.fieldIndex("is_subsidiary")))
    assert(d(r4, "ind_equity_ratio").nonEmpty)
  }

  test("990 injection backfills financials by EIN and tags the standard") {
    val r = row("U7", 2024)
    assert(r.getBoolean(r.fieldIndex("injected_990")))
    assert(r.getString(r.fieldIndex("accounting_std")) == "irs990")
    assert(d(r, "total_revenue").get === 120000.0 +- 1e-6)
    assert(d(r, "ind_operating_margin").nonEmpty)
  }

  test("likely-closed unit is flagged and not scored") {
    val r = row("U6", 2024)
    assert(r.getBoolean(r.fieldIndex("likely_closed")))
    assert(d(r, "final_score").isEmpty)
    assert(r.getString(r.fieldIndex("risk_category")) == "Likely Closed")
    assert(!row("U1", 2024).getBoolean(row("U1", 2024).fieldIndex("likely_closed")))
  }

  test("cliff multiplier boosts the enrollment domain for small shrinking schools") {
    val r3 = row("U3", 2024)
    // U3 2024: enrollment 350 (<500 -> sizeF 1.0), cagr -22% (<=-15% -> chgF 1.0)
    // -> mult 1.4; domain is capped at 100
    val dom = d(r3, "domain_enrollment").get
    assert(dom > 99.9) // 1.4 * (scored ~1.0 indicators * 100) capped at 100
    val r1 = row("U1", 2024)
    // healthy large school: multiplier 1.0, tiny domain score
    assert(d(r1, "domain_enrollment").get < 20.0)
  }

  test("revenue-collapse and enrollment floors raise the final score") {
    val r = row("U3", 2024)
    // revenue cagr -60% <= -0.55 -> floor 65
    assert(d(r, "final_score").get >= 65.0 - 1e-9)
    assert(d(r, "final_score").get >= d(r, "composite_score").get - 1e-9)
    assert(Set("High", "Severe")(r.getString(r.fieldIndex("risk_category"))))
  }

  test("a year extract with no unitid header fails by name, not as NULL keys") {
    import spark.implicits._
    val noUnitid = Seq(("Alpha College", "5000"))
      .toDF("institution name (HD2223)", "DRVEF2223.Total  enrollment")
    val e = intercept[IllegalArgumentException](Ipeds.standardizeYear(noUnitid, 2023))
    assert(e.getMessage.contains("no unitid column"), e.getMessage)
  }

  test("ipeds weights are consistent") {
    val cfg = Ipeds.config
    assert(math.abs(cfg.domains.map(_.weight).sum - 1.0) < 1e-9)
    cfg.domains.foreach { dm =>
      val s = cfg.indicators.filter(_.domain == dm.name).map(_.weight).sum
      assert(math.abs(s - 1.0) < 1e-9, s"domain ${dm.name}: $s")
    }
  }
}
