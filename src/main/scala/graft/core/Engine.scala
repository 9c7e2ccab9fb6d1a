package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The generic scoring engine: the reference's two 1,500-line Python
  * engines (`Hummingbird_Master_engine_990.py`, `..._ipeds_v5.py`) differ
  * only in their *data* — indicator definitions, weights, thresholds,
  * domains, floors — so here the engine is one kernel driven by a
  * declarative [[ScoringConfig]] (SURVEY.md §7.1: "weights/thresholds are
  * data, not code").
  *
  * Pipeline per row (entity×year):
  *   raw metric exprs -> interpolated indicator scores (F6)
  *   -> per-domain weighted null-renormalizing mean ×100 (A1)
  *   -> optional domain multipliers, capped at 100 (F12 cliff)
  *   -> composite = renormalizing mean over domain scores (A2)
  *   -> MIN_INDICATORS completeness gate (A3)
  *   -> conditional floors, final = max(floor, score) (F13)
  *   -> risk category bins (F7)
  *
  * Everything is a horizontal Column expression — no UDFs, no shuffles
  * beyond whatever built the input panel — built as one projection per
  * dependency layer, each derived from the config tables:
  *   1. every indicator's raw value, once, into a hidden `__raw_*` column;
  *   2. the indicator scores, interpolated over those columns;
  *   3. the domain scores with their multipliers;
  *   4. the composite and the indicator count;
  *   5. the floors; 6. the category, dropping the hidden columns.
  * Six projections cost the same to analyze however many indicators a
  * config has, where a `withColumn` per column re-analyzed the growing plan
  * each time. The raw values get their own layer because the interpolation
  * and the safe divides read a value five or more times: inlined, a ratio of
  * component sums was copied into every `CASE` branch, out of reach of
  * subexpression elimination, and the generated class grew with it. Over a
  * computed column the optimizer keeps the layer (it does not inline a
  * non-trivial expression read more than once), so each raw value is
  * evaluated once per row. Float operations keep their order, so the
  * scores are the same bits as a column-at-a-time build.
  */
object Engine {

  /** One continuous indicator: `raw` is interpolated between thresholds
    * (direction inferred from ordering; see [[Scoring.interpolate]]).
    * Boolean flags score via interpolate(flag, healthy=0, distress=1). */
  case class Indicator(name: String, domain: String, weight: Double,
                       healthy: Double, distress: Double, raw: Column)

  case class Domain(name: String, weight: Double)

  /** Conditional score floor: when `guard`, final >= `floor`. */
  case class Floor(name: String, guard: Column, floor: Column)

  case class ScoringConfig(
      indicators: Seq[Indicator],
      domains: Seq[Domain],
      minIndicators: Int,
      floors: Seq[Floor] = Nil,
      domainMultipliers: Map[String, Column] = Map.empty)

  def indCol(name: String): String = s"ind_$name"
  def domCol(name: String): String = s"domain_$name"

  /** Score a panel DataFrame. Adds ind_*, domain_*, composite_score,
    * n_indicators, final_score, risk_category. */
  def score(panel: DataFrame, cfg: ScoringConfig): DataFrame = {
    require(cfg.indicators.nonEmpty && cfg.domains.nonEmpty)
    val knownDomains = cfg.domains.map(_.name).toSet
    require(cfg.indicators.forall(i => knownDomains(i.domain)),
      "indicator references unknown domain")
    def rawCol(name: String): String = s"__raw_$name"

    // 1. raw indicator values, each computed once
    val raws = Layer(panel, cfg.indicators.map(i => rawCol(i.name) -> i.raw))

    // 2. indicator scores
    val withInds = Layer(raws, cfg.indicators.map { i =>
      indCol(i.name) -> Scoring.interpolate(col(rawCol(i.name)), i.healthy, i.distress)
    })

    // 3. domain scores (0-100), with optional capped multiplier
    val withDomains = Layer(withInds, cfg.domains.map { d =>
      val members = cfg.indicators.filter(_.domain == d.name)
      val base = Scoring.weightedRenormMean(
        members.map(i => col(indCol(i.name)) -> i.weight))
      val boosted = cfg.domainMultipliers.get(d.name) match {
        // guard before least(): it skips NULLs, which would turn an
        // unscoreable domain into a hard 100
        case Some(mult) =>
          when(base.isNull, lit(null)).otherwise(least(lit(100.0), base * mult))
        case None => base
      }
      domCol(d.name) -> boosted
    })

    // 4. composite over domain scores (already 0-100 -> scale 1), behind
    // the completeness gate
    val composite = Scoring.weightedRenormMean(
      cfg.domains.map(d => col(domCol(d.name)) -> d.weight), scale = 1.0)
    val indCols = cfg.indicators.map(i => col(indCol(i.name)))
    val withComposite = Layer(withDomains, Seq(
      "composite_score" -> Scoring.minIndicatorsGate(composite, indCols, cfg.minIndicators),
      "n_indicators" -> Scoring.nonNullCount(indCols)))

    // 5. floors (never lower a score), then categorize
    val floored = cfg.floors.foldLeft(col("composite_score")) { (acc, f) =>
      Scoring.applyFloor(acc, f.guard, f.floor)
    }
    val withFinal = Layer(withComposite, Seq("final_score" -> floored))
    Layer(withFinal, Seq("risk_category" -> Scoring.categorize(col("final_score"))),
      drop = cfg.indicators.map(i => rawCol(i.name)))
  }
}
