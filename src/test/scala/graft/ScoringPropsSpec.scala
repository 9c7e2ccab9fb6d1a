package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.{Engine, Scoring}
import graft.core.Engine.ScoringConfig
import graft.model.{Form990, Ipeds}

/** Property-based checks (scalacheck) for the scoring kernel, evaluated in
  * one Spark batch per property (a generated input column, the kernel
  * expression over it, law asserted per row). */
class ScoringPropsSpec extends SparkSuite {
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(60)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  test("interpolate is clamped to [0,1] and antitone for any threshold pair") {
    check(Prop.forAll(Gen.chooseNum(-5.0, 5.0), Gen.chooseNum(-5.0, 5.0),
      Gen.chooseNum(-3.0, 3.0), Gen.chooseNum(-3.0, 3.0)) {
      (h: Double, dRaw: Double, a: Double, b: Double) =>
        val d = if (math.abs(h - dRaw) < 1e-6) dRaw + 1.0 else dRaw
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        val rows = Seq(lo, hi).toDF("v")
          .select(Scoring.interpolate(col("v"), h, d).as("s")).collect()
        val sLo = rows(0).getDouble(0)
        val sHi = rows(1).getDouble(0)
        val inRange = sLo >= 0 && sLo <= 1 && sHi >= 0 && sHi <= 1
        // direction: when healthy > distress, higher raw => lower score
        val monotone = if (h > d) sLo >= sHi - 1e-9 else sHi >= sLo - 1e-9
        inRange && monotone
    })
  }

  test("weighted renorm mean is a convex combination scaled by 100") {
    check(Prop.forAll(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0),
      Gen.chooseNum(0.01, 5.0), Gen.chooseNum(0.01, 5.0)) {
      (x: Double, y: Double, wx: Double, wy: Double) =>
        val m = Seq(1).toDF("i")
          .select(Scoring.weightedRenormMean(Seq(lit(x) -> wx, lit(y) -> wy)).as("m"))
          .collect()(0).getDouble(0)
        m >= math.min(x, y) * 100 - 1e-7 && m <= math.max(x, y) * 100 + 1e-7
    })
  }

  test("copurchase lift survives support·n_orders·10⁶ > 2^63 (decimal-first)") {
    // adversarial magnitudes: numerator = 3e6·4e9·1e6 = 1.2e22 ≈ 2^73 —
    // a raw BIGINT product wraps negative; the DECIMAL(38,0)-first form
    // must floor-divide exactly
    val big = Seq((3000000L, 1000000L, 2000000L, 4000000000L))
      .toDF("support", "n_a", "n_b", "n_orders")
    val got = big.select(
      graft.queries.RelationalQueries.liftScaledExpr.as("lift")).head().getLong(0)
    assert(BigInt(3000000L) * 4000000000L * 1000000L > BigInt(Long.MaxValue),
      "law input no longer adversarial")
    assert(got == (BigInt(3000000L) * 4000000000L * 1000000L /
      (BigInt(1000000L) * 2000000L)).toLong)
    // and the law over random magnitudes up to ~1e10
    check(Prop.forAll(Gen.chooseNum(1L, 10000000000L),
      Gen.chooseNum(1L, 10000000000L), Gen.chooseNum(1L, 10000000000L),
      Gen.chooseNum(1L, 10000000000L)) {
      (sp: Long, na: Long, nb: Long, no: Long) =>
        val r = Seq((sp, na, nb, no)).toDF("support", "n_a", "n_b", "n_orders")
          .select(graft.queries.RelationalQueries.liftScaledExpr.as("lift"))
          .head().getLong(0)
        r == (BigInt(sp) * no * 1000000L / (BigInt(na) * nb)).toLong
    })
  }

  test("ppm share arithmetic survives corpus-count·10⁶ > 2^63 (decimal-first)") {
    // the q_script_mix / q_seasonality numerator class: class counts are
    // unbounded corpus sums (~1e14 chars / ~1e16 cents at 100 TB), so the
    // 1e6-scaled product must widen BEFORE multiplying
    val a = 300000000000000L // 3e14
    val c = 900000000000000L // 9e14
    assert(BigInt(a) * 1000000L > BigInt(Long.MaxValue),
      "law input no longer adversarial")
    val got = Seq((a, c)).toDF("alpha", "chars")
      .select(org.apache.spark.sql.functions
        .expr("(1000000 * CAST(alpha AS DECIMAL(38,0))) div chars").as("p"))
      .head().getLong(0)
    assert(got == (BigInt(a) * 1000000L / BigInt(c)).toLong)
    check(Prop.forAll(Gen.chooseNum(0L, 1000000000000000L),
      Gen.chooseNum(1L, 1000000000000000L)) { (x: Long, t: Long) =>
      val r = Seq((x, t)).toDF("alpha", "chars")
        .select(org.apache.spark.sql.functions
          .expr("(1000000 * CAST(alpha AS DECIMAL(38,0))) div chars").as("p"))
        .head().getLong(0)
      r == (BigInt(x) * 1000000L / BigInt(t)).toLong
    })
  }

  test("applyFloor result is max(score, floor) when guarded, score otherwise") {
    check(Prop.forAll(Gen.chooseNum(0.0, 100.0), Gen.chooseNum(0.0, 100.0),
      Gen.oneOf(true, false)) { (s: Double, f: Double, g: Boolean) =>
        val r = Seq(1).toDF("i")
          .select(Scoring.applyFloor(lit(s), lit(g), lit(f)).as("r"))
          .collect()(0).getDouble(0)
        if (g) r == math.max(s, f) else r == s
    })
  }

  /** `Engine.score` as it was built before its layers: one `withColumn` per
    * indicator, domain and output, each over the raw expression inlined.
    * The layered engine must reproduce it bit for bit. */
  private def foldReference(panel: DataFrame, cfg: ScoringConfig): DataFrame = {
    val withInds = cfg.indicators.foldLeft(panel) { (df, i) =>
      df.withColumn(Engine.indCol(i.name), Scoring.interpolate(i.raw, i.healthy, i.distress))
    }
    val withDomains = cfg.domains.foldLeft(withInds) { (df, d) =>
      val base = Scoring.weightedRenormMean(cfg.indicators.filter(_.domain == d.name)
        .map(i => col(Engine.indCol(i.name)) -> i.weight))
      val boosted = cfg.domainMultipliers.get(d.name) match {
        case Some(mult) =>
          when(base.isNull, lit(null)).otherwise(least(lit(100.0), base * mult))
        case None => base
      }
      df.withColumn(Engine.domCol(d.name), boosted)
    }
    val composite = Scoring.weightedRenormMean(
      cfg.domains.map(d => col(Engine.domCol(d.name)) -> d.weight), scale = 1.0)
    val indCols = cfg.indicators.map(i => col(Engine.indCol(i.name)))
    val floored = cfg.floors.foldLeft(col("composite_score")) { (acc, f) =>
      Scoring.applyFloor(acc, f.guard, f.floor)
    }
    withDomains
      .withColumn("composite_score",
        Scoring.minIndicatorsGate(composite, indCols, cfg.minIndicators))
      .withColumn("n_indicators", Scoring.nonNullCount(indCols))
      .withColumn("final_score", floored)
      .withColumn("risk_category", Scoring.categorize(col("final_score")))
  }

  /** Every numeric column the 990 and IPEDS configs read. */
  private val panelDoubles = Seq("comp_officers", "other_salaries",
    "pension_contrib", "other_benefits", "payroll_tax", "cash", "savings",
    "receivables", "payables", "total_expenses", "deferred_revenue",
    "total_revenue", "net_assets", "total_assets", "total_liabilities",
    "secured_mortgages", "unsecured_notes", "fundraising_fees", "contributions",
    "program_revenue", "investment_income", "officer_loans",
    "officer_receivables", "revenue_cagr", "net_asset_trend",
    "expense_revenue_gap", "employee_cagr", "enrollment_cagr", "enrollment",
    "retention", "retention_delta", "graduation_rate", "admit_rate",
    "student_faculty")

  private val panelSchema = StructType(StructField("id", LongType) +:
    (panelDoubles.map(StructField(_, DoubleType)) ++ Seq(
      StructField("ceased_operations", StringType),
      StructField("accounting_std", StringType))))

  /** NULL and NaN cells, zeros (the safe divides), small ratios and growth
    * rates around the thresholds, and magnitudes like dollar amounts. */
  private val cell: Gen[Any] = Gen.frequency(
    3 -> Gen.const(null), 1 -> Gen.const(Double.NaN), 1 -> Gen.const(0.0),
    3 -> Gen.chooseNum(-1.5, 1.5), 2 -> Gen.chooseNum(0.0, 3000.0),
    2 -> Gen.chooseNum(-2e6, 2e6))

  private val panelRow: Gen[Seq[Any]] = for {
    cells <- Gen.listOfN(panelDoubles.size, cell)
    ceased <- Gen.oneOf(null, "Y", "N", " yes ", "1", "x")
    std <- Gen.oneOf(null, "none", "fasb", "gasb")
  } yield cells ++ Seq(ceased, std)

  private def randomPanel(rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }, 2), panelSchema)

  /** Rows by id, doubles as their bits (NaN == NaN, 0.0 != -0.0). */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    })

  for ((name, cfg) <- Seq("Form990" -> Form990.config, "Ipeds" -> Ipeds.config))
    test(s"layered Engine.score equals the withColumn fold exactly ($name config)") {
      val few = params.withMinSuccessfulTests(8)
      val res = SCTest.check(few, Prop.forAllNoShrink(Gen.listOfN(40, panelRow)) { rows =>
        val panel = randomPanel(rows)
        val got = Engine.score(panel, cfg)
        val want = foldReference(panel, cfg)
        got.schema == want.schema && bits(got) == bits(want)
      })
      assert(res.passed, res.status.toString)
    }
}
