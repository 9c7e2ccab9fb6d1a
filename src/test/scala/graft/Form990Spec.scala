package graft

import org.apache.spark.sql.DataFrame
import graft.model.Form990

/** Golden-value tests of the 990 engine on hand-built fixture CSVs
  * (FIXTURES.md B1-B3): expected indicator scores computed by hand from the
  * documented thresholds. */
class Form990Spec extends SparkSuite with org.scalactic.Tolerance {

  private lazy val scored: DataFrame = {
    val (std, ez, pf) = ScoringFixtures.form990Filings(spark)
    Form990.scoreFilings(std, ez, pf).cache()
  }

  private def row(ein: String, year: Int) =
    scored.filter(s"ein = '$ein' AND year = $year").collect().head

  private def d(r: org.apache.spark.sql.Row, c: String): Option[Double] = {
    val i = r.fieldIndex(c)
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  test("EIN normalization strips leading zeros") {
    assert(scored.filter("ein = '1111'").count() == 2)
  }

  test("golden: equity ratio 0.15 scores (0.40-0.15)/0.50 = 0.5") {
    assert(d(row("1111", 2022), "ind_equity_ratio").get === 0.5 +- 1e-9)
  }

  test("golden: +10% revenue CAGR is at the healthy threshold -> 0.0") {
    assert(d(row("1111", 2023), "ind_revenue_trend").get === 0.0 +- 1e-9)
  }

  test("severe entity: sign-crossing net assets -> trajectory ind 1.0; floors fire") {
    val r = row("2222", 2023)
    // piecewise: prior 10000 > 0, curr -50000 <= 0 -> trend -0.30, which is
    // below distress -0.25 -> indicator 1.0
    assert(d(r, "ind_net_asset_trajectory").get === 1.0 +- 1e-9)
    // revenue cagr = -0.6 <= -0.5 and ceased='Y' -> floors 65 and 80
    val fin = d(r, "final_score").get
    val comp = d(r, "composite_score").get
    assert(fin >= 80.0 - 1e-9)
    assert(fin >= comp - 1e-9) // floors never lower
    assert(r.getString(r.fieldIndex("risk_category")) == "Severe")
  }

  test("sparse EZ filing is completeness-gated to NULL / Unknown") {
    val r = row("4444", 2023)
    assert(r.getInt(r.fieldIndex("n_indicators")) < 4)
    assert(d(r, "composite_score").isEmpty)
    assert(d(r, "final_score").isEmpty)
    assert(r.getString(r.fieldIndex("risk_category")) == "Unknown")
  }

  test("richer-form dedup: STD beats EZ for the same (ein, year)") {
    val r = row("1111", 2023)
    assert(r.getString(r.fieldIndex("filing_type")) == "STD")
    // the EZ dup had revenue 999999; STD value 1100000 must have won
    assert(d(r, "total_revenue").get === 1100000.0 +- 1e-9)
  }

  test("single-year entity has null trend indicators but can still score") {
    val r = row("3333", 2023)
    assert(d(r, "ind_revenue_trend").isEmpty)
    assert(d(r, "ind_net_asset_trajectory").isEmpty)
    assert(d(r, "composite_score").nonEmpty) // plenty of point-in-time inds
  }

  test("missing component sums stay null (no phantom healthy zeros)") {
    val r = row("4444", 2023) // EZ: no comp fields, no cash/savings
    assert(d(r, "ind_comp_burden").isEmpty)
    assert(d(r, "ind_days_cash").isEmpty)
    assert(d(r, "ind_insider_loans").isEmpty)
  }

  test("a missing EIN or tax-period column fails by name, not as NULL keys") {
    import spark.implicits._
    val noEin = Seq(("202312", "1000")).toDF("tax_pd", "totrevenue")
    val e1 = intercept[IllegalArgumentException](
      Form990.standardizeFiling(noEin, Form990.standardMap, "STD"))
    assert(e1.getMessage.contains("no EIN column"), e1.getMessage)
    val noPeriod = Seq(("0001111", "1000")).toDF("EIN", "TOTRCPTPERBKS")
    val e2 = intercept[IllegalArgumentException](
      Form990.standardizeFiling(noPeriod, Form990.pfMap, "PF"))
    assert(e2.getMessage.contains("no TAX_PRD column"), e2.getMessage)
  }

  test("weights are consistent: domain weights sum to 1, members sum to 1") {
    val cfg = Form990.config
    assert(math.abs(cfg.domains.map(_.weight).sum - 1.0) < 1e-9)
    cfg.domains.foreach { dm =>
      val s = cfg.indicators.filter(_.domain == dm.name).map(_.weight).sum
      assert(math.abs(s - 1.0) < 1e-9, s"domain ${dm.name} weights sum to $s")
    }
  }
}
