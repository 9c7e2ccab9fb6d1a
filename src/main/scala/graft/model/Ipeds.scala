package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Engine, Layer, Scoring}
import graft.core.Engine.{Domain, Floor, Indicator, ScoringConfig}
import graft.ingest.Ingest
import graft.ingest.Ingest.FieldSpec
import graft.ops.Subsidiary

/** The IPEDS v5 engine (`Hummingbird_Master_engine_ipeds_v5.py`) on the
  * generic kernel. Beyond Form990 this adds the reference's v5-specific
  * machinery:
  *
  *  - substring column discovery over year-prefixed wide headers (S3,
  *    `:342-368`) — [[fieldSpecs]];
  *  - accounting-standard detection from which finance section carries
  *    data: FASB (F2) / GASB (F1A) / for-profit (F3) / none (`:297-340`),
  *    with metrics coalesced across sections and per-standard branching
  *    expressed as `when` cascades, not per-row dispatch (§7.4);
  *  - parent/subsidiary contamination: units sharing an EIN whose assets
  *    are within 1% of the parent's get their balance-sheet indicators
  *    nulled (`detect_subsidiaries`, `:375-437`);
  *  - 990-fill injection: units without IPEDS financials borrow the 990
  *    panel's metrics by EIN (`:533-569`);
  *  - likely-closed gate: no enrollment and no financials in the two most
  *    recent years -> not scored (`_is_likely_closed`, `:502-527`);
  *  - small-shrinking-school cliff multiplier on the enrollment domain
  *    (`:916-941, 1201-1202`) and the enrollment-velocity + revenue-collapse
  *    floors (`:1061-1150`).
  */
object Ipeds {

  /** Substring discovery specs for the wide IPEDS headers (FIXTURES.md B4
    * shapes; exclusions keep 'Total enrollment' from matching the
    * full/part-time variants). */
  val fieldSpecs: Seq[FieldSpec] = Seq(
    FieldSpec("unitid", "unitid"),
    FieldSpec("name", "institution name"),
    FieldSpec("ein", "employer identification"),
    FieldSpec("year_col", "survey year"),
    FieldSpec("enrollment", "total  enrollment",
      exclude = Seq("full-time", "part-time")),
    FieldSpec("retention", "full-time retention rate"),
    FieldSpec("graduation_rate", "graduation rate"),
    FieldSpec("admit_rate", "percent admitted"),
    FieldSpec("student_faculty", "student-to-faculty"),
    // FASB (F2)
    FieldSpec("f2_assets", "f2.total assets"),
    FieldSpec("f2_liabilities", "f2.total liabilities"),
    FieldSpec("f2_net_assets", "f2.total net assets"),
    FieldSpec("f2_revenue", "f2.total revenues"),
    FieldSpec("f2_expenses", "f2.total expenses"),
    // GASB (F1A)
    FieldSpec("f1a_assets", "f1a.total assets"),
    FieldSpec("f1a_net_position", "f1a.net position"),
    FieldSpec("f1a_revenue", "f1a.total all revenues"),
    FieldSpec("f1a_expenses", "f1a.total expenses"),
    // for-profit (F3)
    FieldSpec("f3_assets", "f3.total assets"),
    FieldSpec("f3_equity", "f3.total equity"),
    FieldSpec("f3_revenue", "f3.total revenues"),
    FieldSpec("f3_expenses", "f3.total expenses"))

  private val numericCols = Seq("enrollment", "retention", "graduation_rate",
    "admit_rate", "student_faculty", "f2_assets", "f2_liabilities",
    "f2_net_assets", "f2_revenue", "f2_expenses", "f1a_assets",
    "f1a_net_position", "f1a_revenue", "f1a_expenses", "f3_assets",
    "f3_equity", "f3_revenue", "f3_expenses")

  /** One wide per-year CSV -> standardized rows with detected accounting
    * standard and cross-section coalesced metrics. Throws when no header
    * resolves to `unitid`, since every row would get a NULL key. */
  def standardizeYear(raw: DataFrame, year: Int): DataFrame = {
    val headers = raw.columns.toSeq
    require(Ingest.resolve(headers, fieldSpecs.filter(_.std == "unitid")).nonEmpty,
      s"IPEDS $year extract has no unitid column; " +
        s"its columns are ${headers.mkString(", ")}")
    val resolved = Ingest.selectResolved(raw, fieldSpecs)
    val typed = Ingest.coerceNumeric(resolved, numericCols)
    val totalAssets = coalesce(col("f2_assets"), col("f1a_assets"), col("f3_assets"))
    val netAssets =
      coalesce(col("f2_net_assets"), col("f1a_net_position"), col("f3_equity"))
    Layer(typed, Seq(
      "unitid" -> trim(col("unitid")),
      "ein" -> Ingest.normalizeKey(col("ein")),
      "year" -> lit(year),
      "accounting_std" ->
        when(col("f2_assets").isNotNull, "fasb")
          .when(col("f1a_assets").isNotNull, "gasb")
          .when(col("f3_assets").isNotNull, "for_profit")
          .otherwise("none"),
      "total_assets" -> totalAssets,
      "net_assets" -> netAssets,
      "total_revenue" ->
        coalesce(col("f2_revenue"), col("f1a_revenue"), col("f3_revenue")),
      "total_expenses" ->
        coalesce(col("f2_expenses"), col("f1a_expenses"), col("f3_expenses")),
      // GASB/for-profit publish no liability line here: derive assets-net
      "total_liabilities" -> coalesce(col("f2_liabilities"), totalAssets - netAssets)))
  }

  /** Panel assembly + subsidiary contamination + 990 injection +
    * likely-closed flag + trend windows.
    *
    * `form990Panel` (optional): standardized 990 rows with
    * (ein, year, total_revenue, total_expenses, total_assets, net_assets)
    * used to backfill units without IPEDS financials. */
  def buildPanel(years: Seq[DataFrame],
                 form990Panel: Option[DataFrame] = None): DataFrame = {
    val unioned = years.reduce(_.unionByName(_, allowMissingColumns = true))

    // subsidiary detection runs on the latest year's balance sheet, grouped
    // by shared EIN (deterministic idxmax tiebreak on unitid)
    val latest = unioned
      .withColumn("rn", row_number().over(
        Window.partitionBy("unitid").orderBy(col("year").desc)))
      .filter(col("rn") === 1).drop("rn")
    val subs = Subsidiary.detect(
        latest.filter(col("ein") =!= "" && col("ein").isNotNull &&
          col("total_assets").isNotNull)
          .select(col("unitid"), col("ein"), col("total_assets")),
        groupKey = "ein", rankMetric = "total_assets",
        compareMetric = "total_assets", idCol = "unitid")
      .filter(col("is_subsidiary"))
      .select(col("unitid").as("sub_unitid"),
        col("parent_id").as("parent_unitid"))

    // contaminated balance sheets: null the balance-sheet metrics so the
    // solvency indicators drop out of renormalization (`:1425-1433`)
    val isSub = col("sub_unitid").isNotNull
    def unlessSub(c: String): (String, Column) =
      c -> when(isSub, lit(null)).otherwise(col(c))
    val flagged = Layer(
      unioned.join(broadcast(subs), col("unitid") === col("sub_unitid"), "left"),
      Seq("is_subsidiary" -> isSub, unlessSub("total_assets"), unlessSub("net_assets"),
        unlessSub("total_liabilities")),
      drop = Seq("sub_unitid"))

    // 990 injection: fill missing financials by (ein, year)
    val injected = form990Panel match {
      case None => Layer(flagged, Seq("injected_990" -> lit(false)))
      case Some(f990) =>
        val f = f990.select(col("ein").as("f_ein"), col("year").as("f_year"),
          col("total_revenue").as("f_revenue"),
          col("total_expenses").as("f_expenses"),
          col("total_assets").as("f_assets"),
          col("net_assets").as("f_net"))
        val inject = col("total_revenue").isNull && col("f_revenue").isNotNull
        Layer(
          flagged.join(f, col("ein") === col("f_ein") && col("year") === col("f_year"),
            "left"),
          Seq(
            "injected_990" -> inject,
            "total_revenue" -> coalesce(col("total_revenue"), col("f_revenue")),
            "total_expenses" -> coalesce(col("total_expenses"), col("f_expenses")),
            "total_assets" -> coalesce(col("total_assets"), col("f_assets")),
            "net_assets" -> coalesce(col("net_assets"), col("f_net")),
            "accounting_std" -> when(inject, "irs990").otherwise(col("accounting_std"))),
          drop = Seq("f_ein", "f_year", "f_revenue", "f_expenses", "f_assets", "f_net"))
    }

    // likely-closed: no enrollment and no financials in the 2 most recent
    // dataset years. The dataset max year joins in as a broadcast scalar —
    // a global window (partitionBy nothing) would serialize the panel
    // through one task at scale. It is taken over the unioned years: the
    // left joins above keep every row, so the year set is the same, and
    // the scalar's plan stays clear of the joins.
    val bounds = unioned.agg(max(col("year")).as("max_year"))
    val w2 = Window.partitionBy("unitid")
    val recentActivity = max(
      when(col("year") >= col("max_year") - 1 &&
        (col("enrollment").isNotNull || col("total_revenue").isNotNull), 1)
        .otherwise(0)).over(w2)
    // trend windows, in the same layer as the closed flag
    val w = Window.partitionBy("unitid").orderBy("year")
    val priors = Layer(injected.crossJoin(broadcast(bounds)), Seq(
      "likely_closed" -> (recentActivity === 0),
      "prior_enrollment" -> lag(col("enrollment"), 1).over(w),
      "prior_revenue" -> lag(col("total_revenue"), 1).over(w),
      "prior_net_assets" -> lag(col("net_assets"), 1).over(w),
      "prior_retention" -> lag(col("retention"), 1).over(w),
      "gap" -> (col("year") - lag(col("year"), 1).over(w))),
      drop = Seq("max_year"))
    Layer(priors, Seq(
      "enrollment_cagr" ->
        Scoring.cagr(col("enrollment"), col("prior_enrollment"), col("gap")),
      "revenue_cagr" ->
        Scoring.cagr(col("total_revenue"), col("prior_revenue"), col("gap")),
      "net_asset_trend" ->
        Scoring.piecewiseTrend(col("net_assets"), col("prior_net_assets"), col("gap")),
      "retention_delta" ->
        when(col("prior_retention").isNull || col("gap").isNull || col("gap") <= 0,
          lit(null))
          .otherwise((col("retention") - col("prior_retention")) / col("gap"))))
  }

  /** Small-shrinking-school cliff multiplier (F12): sizeF from enrollment
    * bins, chgF from enrollment decline; mult = 1 + 0.4*min(sizeF*chgF, 1). */
  def cliffMultiplier: Column = {
    val sizeF = when(col("enrollment").isNull, 0d)
      .when(col("enrollment") < 500, 1.0)
      .when(col("enrollment") < 1000, 0.75)
      .when(col("enrollment") < 2000, 0.5)
      .otherwise(0d)
    val chgF = when(col("enrollment_cagr").isNull, 0d)
      .when(col("enrollment_cagr") <= -0.15, 1.0)
      .when(col("enrollment_cagr") <= -0.05, 0.5)
      .otherwise(0d)
    lit(1.0) + lit(0.4) * least(sizeF * chgF, lit(1.0))
  }

  /** The v5 config: 7 domains, per-standard branching on the equity
    * indicator, cliff multiplier on the enrollment domain, both floors. */
  def config: ScoringConfig = {
    val equityRatio =
      // per-standard branching as a when-cascade (GASB net position and
      // for-profit equity already coalesced into net_assets)
      when(col("accounting_std") === "none", lit(null))
        .otherwise(Scoring.safeDiv(col("net_assets"), col("total_assets")))
    ScoringConfig(
      indicators = Seq(
        Indicator("enrollment_trend", "enrollment", 0.6, 0.02, -0.15,
          col("enrollment_cagr")),
        Indicator("enrollment_level", "enrollment", 0.4, 2000, 200,
          col("enrollment")),
        Indicator("retention_level", "retention", 0.6, 85, 50, col("retention")),
        Indicator("retention_delta", "retention", 0.4, 0, -10,
          col("retention_delta")),
        Indicator("graduation", "outcomes", 1.0, 70, 25, col("graduation_rate")),
        Indicator("selectivity", "market", 0.5, 40, 95, col("admit_rate")),
        Indicator("student_faculty", "market", 0.5, 12, 30, col("student_faculty")),
        Indicator("equity_ratio", "solvency", 0.6, 0.40, -0.10, equityRatio),
        Indicator("debt_ratio", "solvency", 0.4, 0.40, 1.00,
          Scoring.safeDiv(col("total_liabilities"), col("total_assets"))),
        Indicator("operating_margin", "operations", 1.0, 0.05, -0.15,
          Scoring.safeDiv(col("total_revenue") - col("total_expenses"),
            col("total_revenue"))),
        Indicator("revenue_trend", "trend", 0.5, 0.05, -0.20, col("revenue_cagr")),
        Indicator("net_asset_trajectory", "trend", 0.5, 0.05, -0.25,
          col("net_asset_trend"))),
      domains = Seq(
        Domain("enrollment", 0.20), Domain("retention", 0.15),
        Domain("outcomes", 0.10), Domain("market", 0.10),
        Domain("solvency", 0.20), Domain("operations", 0.10),
        Domain("trend", 0.15)),
      minIndicators = 4,
      floors = Seq(
        // enrollment-velocity floor: 40 + max(0, enr_dom - 40) * 0.5 when
        // enrollment is collapsing (`:1061-1108`)
        Floor("enrollment_velocity",
          col("enrollment_cagr").isNotNull && col("enrollment_cagr") <= -0.15,
          lit(40d) + greatest(lit(0d), col("domain_enrollment") - 40d) * 0.5),
        // revenue floor 45/55/65 by collapse severity (`:1114-1150`)
        Floor("revenue_45",
          col("revenue_cagr").isNotNull && col("revenue_cagr") <= -0.25, lit(45d)),
        Floor("revenue_55",
          col("revenue_cagr").isNotNull && col("revenue_cagr") <= -0.40, lit(55d)),
        Floor("revenue_65",
          col("revenue_cagr").isNotNull && col("revenue_cagr") <= -0.55, lit(65d))),
      domainMultipliers = Map("enrollment" -> cliffMultiplier))
  }

  /** Score the panel; likely-closed units are flagged, not scored
    * (`:1435-1440`). */
  def score(panel: DataFrame): DataFrame = {
    val closed = col("likely_closed")
    Layer(Engine.score(panel, config), Seq(
      "composite_score" -> when(closed, lit(null)).otherwise(col("composite_score")),
      "final_score" -> when(closed, lit(null)).otherwise(col("final_score")),
      "risk_category" -> when(closed, "Likely Closed").otherwise(col("risk_category"))))
  }
}
