package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Engine, Layer, Scoring}
import graft.core.Engine.{Domain, Floor, Indicator, ScoringConfig}
import graft.ingest.Ingest

/** The IRS-990 financial-distress engine re-expressed on the generic
  * kernel: rename maps for the three filing types (FIXTURES.md B1-B3,
  * mirroring `STANDARD_990_MAP`/`EZ_990_MAP`/`PF_990_MAP`,
  * `Hummingbird_Master_engine_990.py:230-403`), the standardized long
  * panel, and the indicator/domain tables (`:414-583`).
  *
  * Thresholds follow the reference's documented calibration points (e.g.
  * equity ratio healthy 0.40 / distress -0.10, so 0.15 scores
  * (0.40-0.15)/0.50 = 0.5 — the golden-fixture test case).
  */
object Form990 {

  /** Standard-990 raw -> std names (subset of the ~80-entry map covering
    * every field an indicator consumes). */
  val standardMap: Seq[(String, String)] = Seq(
    "EIN" -> "ein_raw",
    "tax_pd" -> "tax_period",
    "totrevenue" -> "total_revenue",
    "totprgmrevnue" -> "program_revenue",
    "totcntrbgfts" -> "contributions",
    "invstmntinc" -> "investment_income",
    "totfuncexpns" -> "total_expenses",
    "compnsatncurrofcr" -> "comp_officers",
    "othrsalwages" -> "other_salaries",
    "pensionplancontrb" -> "pension_contrib",
    "othremplyeebenef" -> "other_benefits",
    "payrolltx" -> "payroll_tax",
    "profndraising" -> "fundraising_fees",
    "totassetsend" -> "total_assets",
    "totliabend" -> "total_liabilities",
    "totnetassetend" -> "net_assets",
    "unrstrctnetasstsend" -> "unrestricted_net_assets",
    "nonintcashend" -> "cash",
    "svngstempinvend" -> "savings",
    "accntsrcvblend" -> "receivables",
    "accntspayableend" -> "payables",
    "deferedrevnuend" -> "deferred_revenue",
    "secrdmrtgsend" -> "secured_mortgages",
    "unsecurednotesend" -> "unsecured_notes",
    "lndbldgsequipend" -> "fixed_assets",
    "paybletoffcrsend" -> "officer_loans",
    "currfrmrcvblend" -> "officer_receivables",
    "noemplyeesw3cnt" -> "employee_count",
    "ceaseoperationscd" -> "ceased_operations",
    "sellorexchcd" -> "sold_assets")

  /** 990-EZ raw -> std (8 of 19 indicators computable — exercises weight
    * renormalization, `...990.py:135-138`). */
  val ezMap: Seq[(String, String)] = Seq(
    "EIN" -> "ein_raw",
    "taxpd" -> "tax_period",
    "totrevnue" -> "total_revenue",
    "prgmservrev" -> "program_revenue",
    "totcntrbs" -> "contributions",
    "othrinvstinc" -> "investment_income",
    "totexpns" -> "total_expenses",
    "totassetsend" -> "total_assets",
    "totliabend" -> "total_liabilities",
    "totnetassetsend" -> "net_assets",
    "contractioncd" -> "ceased_operations")

  /** 990-PF raw -> std (uppercase headers). */
  val pfMap: Seq[(String, String)] = Seq(
    "EIN" -> "ein_raw",
    "TAX_PRD" -> "tax_period",
    "TOTRCPTPERBKS" -> "total_revenue",
    "GRSCONTRGIFTS" -> "contributions",
    "TOTEXPNSPBKS" -> "total_expenses",
    "TOTASSETSEND" -> "total_assets",
    "TOTLIABEND" -> "total_liabilities",
    "TFUNDNWORTH" -> "net_assets",
    "OTHRCASHAMT" -> "cash",
    "CONTRACTNCD" -> "ceased_operations")

  private val numericCols = Seq(
    "total_revenue", "program_revenue", "contributions", "investment_income",
    "total_expenses", "comp_officers", "other_salaries", "pension_contrib",
    "other_benefits", "payroll_tax", "fundraising_fees", "total_assets",
    "total_liabilities", "net_assets", "unrestricted_net_assets", "cash",
    "savings", "receivables", "payables", "deferred_revenue",
    "secured_mortgages", "unsecured_notes", "fixed_assets", "officer_loans",
    "officer_receivables", "employee_count")

  /** Standardize one filing-type CSV onto the long panel schema: one
    * projection over the renamed columns. Numeric fields the filing type
    * lacks come back as NULL doubles after the ones it has. */
  def standardizeFiling(raw: DataFrame, renameMap: Seq[(String, String)],
                        filingType: String): DataFrame = {
    val mapped = Ingest.standardize(raw, renameMap)
    val present = mapped.columns.toSet
    val numeric = numericCols.map { c =>
      c -> Ingest.toDouble(if (present(c)) col(c) else lit(null).cast("string"))
    }
    Layer(mapped, numeric ++ Seq(
      "ein" -> Ingest.normalizeKey(col("ein_raw")),
      "year" -> Ingest.yearFromTaxPeriod(col("tax_period")),
      "filing_type" -> lit(filingType),
      "ceased_operations" -> coalesce(col("ceased_operations").cast("string"), lit(null))),
      drop = Seq("ein_raw", "tax_period"))
  }

  /** Union filings, keep the richest form per (ein, year): STD > EZ > PF
    * (`...990.py:713-715` upgrade semantics). */
  def buildPanel(filings: Seq[DataFrame]): DataFrame = {
    val unioned = filings.reduce(_.unionByName(_, allowMissingColumns = true))
    val rank = when(col("filing_type") === "STD", 0)
      .when(col("filing_type") === "EZ", 1).otherwise(2)
    Ingest.dedupRicherForm(unioned, "ein", "year", rank, col("year"))
  }

  /** Trend columns the indicators consume (W1-W4 over the panel), in
    * three layers: the lagged values, the growth rates, their gap. */
  def withTrends(panel: DataFrame): DataFrame = {
    val w = Window.partitionBy("ein").orderBy("year")
    val priors = Layer(panel, Seq(
      "prior_revenue" -> lag(col("total_revenue"), 1).over(w),
      "prior_expenses" -> lag(col("total_expenses"), 1).over(w),
      "prior_net_assets" -> lag(col("net_assets"), 1).over(w),
      "prior_employees" -> lag(col("employee_count"), 1).over(w),
      "gap" -> (col("year") - lag(col("year"), 1).over(w))))
    val rates = Layer(priors, Seq(
      "revenue_cagr" ->
        Scoring.cagr(col("total_revenue"), col("prior_revenue"), col("gap")),
      "expense_cagr" ->
        Scoring.cagr(col("total_expenses"), col("prior_expenses"), col("gap")),
      "net_asset_trend" ->
        Scoring.piecewiseTrend(col("net_assets"), col("prior_net_assets"), col("gap")),
      "employee_cagr" ->
        Scoring.cagr(col("employee_count"), col("prior_employees"), col("gap"))))
    Layer(rates, Seq("expense_revenue_gap" -> (col("expense_cagr") - col("revenue_cagr"))))
  }

  /** The 990 indicator/domain tables (19 indicators, 5 domains — weights
    * within each domain sum to 1, domain weights sum to 1, mirroring the
    * import-time assertion `..._ipeds_v5.py:261-262`). */
  def config: ScoringConfig = {
    // component sums are NULL when every source is NULL (sumIfAny), so an
    // indicator with no data drops out of the renormalizing mean instead of
    // scoring as a healthy 0
    val comp = Scoring.sumIfAny(Seq("comp_officers", "other_salaries",
      "pension_contrib", "other_benefits", "payroll_tax").map(col))
    val liquid = Scoring.sumIfAny(Seq(col("cash"), col("savings")))
    val liquidity = Seq(
      Indicator("days_cash", "liquidity", 0.40, 180, 30, {
        // greatest() skips NULLs, so guard before clamping at 0 (F15)
        val days = Scoring.safeDiv(liquid, col("total_expenses")) * 365d
        when(days.isNull, lit(null)).otherwise(greatest(lit(0d), days))
      }),
      Indicator("current_ratio", "liquidity", 0.35, 2.0, 0.5,
        Scoring.safeDiv(
          Scoring.sumIfAny(Seq(col("cash"), col("savings"), col("receivables"))),
          col("payables"))),
      Indicator("deferred_burden", "liquidity", 0.25, 0.05, 0.40,
        Scoring.safeDiv(col("deferred_revenue"), col("total_revenue"))))
    val solvency = Seq(
      Indicator("equity_ratio", "solvency", 0.40, 0.40, -0.10,
        Scoring.safeDiv(col("net_assets"), col("total_assets"))),
      Indicator("debt_ratio", "solvency", 0.35, 0.40, 1.00,
        Scoring.safeDiv(col("total_liabilities"), col("total_assets"))),
      Indicator("secured_debt", "solvency", 0.25, 0.10, 0.60,
        Scoring.safeDiv(
          Scoring.sumIfAny(Seq(col("secured_mortgages"), col("unsecured_notes"))),
          col("total_assets"))))
    val operations = Seq(
      Indicator("operating_margin", "operations", 0.40, 0.05, -0.15,
        Scoring.safeDiv(col("total_revenue") - col("total_expenses"),
          col("total_revenue"))),
      Indicator("comp_burden", "operations", 0.30, 0.30, 0.70,
        Scoring.safeDiv(comp, col("total_expenses"))),
      Indicator("fundraising_eff", "operations", 0.30, 0.05, 0.50,
        Scoring.safeDiv(col("fundraising_fees"), col("contributions"))))
    val trend = Seq(
      Indicator("revenue_trend", "trend", 0.30, 0.05, -0.20, col("revenue_cagr")),
      Indicator("net_asset_trajectory", "trend", 0.30, 0.05, -0.25,
        col("net_asset_trend")),
      Indicator("expense_gap", "trend", 0.20, -0.02, 0.10,
        col("expense_revenue_gap")),
      Indicator("employee_trend", "trend", 0.20, 0.02, -0.25,
        col("employee_cagr")))
    val structure = Seq(
      Indicator("revenue_concentration", "structure", 0.40, 0.35, 0.85,
        Scoring.hhi(
          Seq(col("contributions"), col("program_revenue"),
            col("investment_income")),
          col("total_revenue"))),
      Indicator("insider_loans", "structure", 0.30, 0.00, 0.10,
        Scoring.safeDiv(
          Scoring.sumIfAny(Seq(col("officer_loans"), col("officer_receivables"))),
          col("total_assets"))),
      Indicator("ceased_flag", "structure", 0.30, 0, 1,
        Scoring.truthy(col("ceased_operations"))))

    ScoringConfig(
      indicators = liquidity ++ solvency ++ operations ++ trend ++ structure,
      domains = Seq(
        Domain("liquidity", 0.20), Domain("solvency", 0.25),
        Domain("operations", 0.20), Domain("trend", 0.25),
        Domain("structure", 0.10)),
      minIndicators = 4,
      floors = Seq(
        // revenue-collapse floor (v5 semantics: -64% revenue -> >= 65,
        // `..._ipeds_v5.py:73-76, 1114-1150`)
        Floor("revenue_collapse",
          col("revenue_cagr").isNotNull && col("revenue_cagr") <= -0.50, lit(65d)),
        Floor("ceased",
          Scoring.truthy(col("ceased_operations")) === 1.0, lit(80d))))
  }

  /** Full pipeline: standardized filings -> panel -> trends -> scores. */
  def scoreFilings(std: DataFrame, ez: DataFrame, pf: DataFrame): DataFrame = {
    val panel = buildPanel(Seq(
      standardizeFiling(std, standardMap, "STD"),
      standardizeFiling(ez, ezMap, "EZ"),
      standardizeFiling(pf, pfMap, "PF")))
    Engine.score(withTrends(panel), config)
  }
}
