package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Scoring, Tables}
import graft.ops.{Merge, RangeJoin, Skew, Subsidiary}

/** SURVEY.md §2 relational coverage: grouped self-comparison (J3), fuzzy
  * joins (J4/J8), star joins with broadcast dims (J6), as-of fallback (J7),
  * conditional counters (A6), HHI (A7), agreement vote (A8), rollup, custom
  * sort (O1), top-k search (O3), argmax (O4), multi-source union (U2),
  * flag/compound predicates (P7/P8), null-footprint (P9), key/name
  * normalization (F1/F2/F19), category maps + priority bins (F8/F16/F17),
  * ratio arithmetic (F5/F11/F15), and the update-if-better merge with
  * changelog (reference `master_acreage_merge.py:121-215`).
  */
object RelationalQueries extends QueryGroup {

  /** J3: parent/subsidiary detection via grouped self-comparison. */
  private def subsidiary(s: SparkSession, dir: String): DataFrame =
    Subsidiary.detect(
        Tables.customer(s, dir).select("c_custkey", "c_nationkey", "c_acctbal"),
        groupKey = "c_nationkey", rankMetric = "c_acctbal",
        compareMetric = "c_acctbal", idCol = "c_custkey")
      .select("c_custkey", "c_nationkey", "c_acctbal", "parent_id",
        "parent_metric", "is_parent", "is_subsidiary")
      .orderBy("c_custkey")

  /** J4/J8: fuzzy name join — the documented `ein_fuzzy.py` capability
    * (README.md:45-47), built the way it scales: a cheap blocking key
    * (last 4 chars) turns the quadratic levenshtein theta-join into an
    * equi-join + per-block verify, which shuffles once on the block key
    * instead of cross-joining. */
  private def fuzzyMatch(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .withColumn("block", expr("right(s_name, 4)"))
      .join(Tables.customer(s, dir).withColumn("block", expr("right(c_name, 4)")),
        Seq("block"))
      .withColumn("dist", levenshtein(lower(col("s_name")), lower(col("c_name"))))
      .filter(col("dist") <= 6)
      .select("s_suppkey", "c_custkey", "s_name", "c_name", "dist")
      .orderBy("s_suppkey", "c_custkey")

  /** J6: star join — fact joined through dims with explicit broadcasts of
    * the small sides; revenue per region (decimal-exact). */
  private def starJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")

  /** J7: as-of / latest-usable fallback join — most recent order at/before
    * the cutoff that passes the usability predicate; else most recent
    * overall (reference target-else-latest with usable-year fallback,
    * `..._ipeds_v5.py:1442-1458, 485-496`). */
  private def asofFallback(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val usable = col("o_totalprice") >= 50000d &&
      col("o_orderdate") <= to_timestamp(lit("1998-12-31 00:00:00"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(when(usable, 0).otherwise(1).asc,
        col("o_orderdate").desc, col("o_orderkey").desc)
    o.withColumn("was_usable", usable)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("entity_id"),
        col("o_orderkey").as("asof_orderkey"),
        col("o_totalprice").as("asof_totalprice"),
        col("was_usable"))
      .orderBy("entity_id")
  }

  /** A6: grouped conditional counters (matched/no-data/floor-fired tallies
    * re-shaped onto orders). */
  private def condCounters(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_fulfilled"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
        count(when(col("o_totalprice") > 200000d, 1)).as("n_high_value"))
      .orderBy("o_orderpriority")

  /** A7: HHI revenue concentration per customer over priority buckets. */
  private def hhi(s: SparkSession, dir: String): DataFrame = {
    val dec = col("o_totalprice").cast("decimal(18,2)")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val agged = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("entity_id"))
      .agg(
        sum(dec).cast("double").as("total"),
        prios.zipWithIndex.map { case (p, i) =>
          sum(when(col("o_orderpriority") === p, dec)).cast("double").as(s"b$i")
        }: _*)
    agged.select(col("entity_id"), col("total"),
        Scoring.hhi(prios.indices.map(i => col(s"b$i")), col("total")).as("hhi"))
      .orderBy("entity_id")
  }

  /** A8: multi-source agreement vote — >=2 values within max(1, 2%) of the
    * best (`chat_acreage_bot.py:730-736`). */
  private def vote(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
    Tables.lineitem(s, dir)
      .withColumn("best", max(col("l_extendedprice")).over(w))
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_items"),
        count(when(abs(col("l_extendedprice") - col("best"))
          <= greatest(lit(1.0), lit(0.02) * col("best")), 1)).as("n_close"))
      .withColumn("high_confidence", col("n_close") >= 2)
      .orderBy("l_orderkey")
  }

  /** Rollup distribution (A4/A10 extension surface): customers per
    * region/nation with subtotal + grand-total rows. */
  private def rollupCounts(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"))
      .orderBy("region", "nation")

  /** A10 extension: explicit GROUPING SETS — independent per-region and
    * per-nation subtotals in one aggregation pass (one shuffle feeds the
    * Expand, not one shuffle per grouping). */
  private def groupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name"))),
        col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"))
      .orderBy("region", "nation")

  /** A10 extension: CUBE — all four groupings (both, per-region,
    * per-nation, grand total) in ONE aggregation pass; like ROLLUP /
    * GROUPING SETS this plans as a single shuffle feeding an Expand
    * (rows are replicated per grouping map-side, combined partially),
    * so the pass count is independent of the number of groupings.
    * `grouping_id` disambiguates subtotal NULLs from data NULLs — the
    * production-safe way to consume cube output. */
  private def cubeCounts(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        grouping_id().cast("int").as("gid"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("gid"), col("n_customers"))
      .orderBy("gid", "region", "nation")

  /** U3 extension: INTERSECT (distinct set semantics) — customers active
    * in BOTH 1995 and 1996. Spark plans this as an aggregate + join on the
    * key, so it shuffles once per side at scale. */
  private def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      .intersect(o.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** U3 extension, MULTISET semantics: EXCEPT ALL / INTERSECT ALL over
    * per-order supplier keys — duplicates carry multiplicity (a supplier
    * appearing 5 times in A and 2 in B survives EXCEPT ALL 3 times),
    * which the distinct-set forms destroy. Spark plans both as one
    * aggregation per side on the key (counts), then a generate — the
    * same single-shuffle-per-side shape as INTERSECT. */
  private def multisetOps(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val a = li.filter(col("l_quantity") >= 45).select("l_suppkey")
    val b = li.filter(col("l_returnflag") === "R").select("l_suppkey")
    a.exceptAll(b).withColumn("op", lit("except_all"))
      .unionByName(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      .select("op", "l_suppkey")
      .orderBy("op", "l_suppkey")
  }

  /** O1: custom priority sort via rank map (CRITICAL<HIGH<... work order,
    * `chat_acreage_bot.py:788-790`). */
  private def prioritySort(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .withColumn("prio_rank",
        when(col("o_orderpriority") === "1-URGENT", 1)
          .when(col("o_orderpriority") === "2-HIGH", 2)
          .when(col("o_orderpriority") === "3-MEDIUM", 3)
          .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4)
          .otherwise(5))
      .orderBy("prio_rank")

  /** O3: top-k substring search (name contains q, first 8 by key). */
  private def topkSearch(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(lower(col("c_name")).contains("12"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
      .limit(8)

  /** O3/O5 at scale: per-group top-k via the custom bounded-heap AGGREGATE
    * ([[graft.functions.TopKAgg]]) instead of a window sort — map-side
    * partial aggregation moves at most k entries per group per partition,
    * where `row_number() OVER (...)` shuffles and sorts every row. The
    * oracle IS the window formulation, so the hash match proves the
    * aggregate's ordering/tiebreak (value desc, id asc) equals it. */
  private def topkAgg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy("c_mktsegment")
      .agg(graft.functions.TopK.topK(col("c_acctbal"), col("c_custkey"), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("c_mktsegment"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("entity_id"),
        col("t.value").as("acctbal"))
      .orderBy("c_mktsegment", "rank")

  /** Frequent items per group via the Misra–Gries summary
    * ([[graft.functions.MisraGriesAgg]]): bounded-memory value_counts —
    * at most `capacity` counters move per group per partition even when
    * the item space is unbounded (tokens, URLs, user agents at 100 TB).
    * Here capacity (64) exceeds the brand space (25 per type), the regime
    * where the summary provably equals the exact group-by counts at ANY
    * partitioning — which is what the oracle pins; the approximation
    * regime's error bounds are law-tested in HeavyHittersSpec. */
  private def heavyHitters(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .groupBy("p_type")
      .agg(graft.functions.HeavyHitters.heavyHitters(col("p_brand"), 64).as("hh"))
      .select(col("p_type"), posexplode(col("hh")).as(Seq("pos", "t")))
      .select(col("p_type"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.item").as("p_brand"),
        col("t.count_est").as("count_est"))
      .orderBy("p_type", "rank")

  /** O4: argmax per group with deterministic tiebreak (`idxmax` takes first
    * occurrence, `..._ipeds_v5.py:411`). */
  private def argmax(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
    Tables.supplier(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_nationkey")
  }

  /** U2: multi-year union with missing-column tolerance
    * (`unionByName(allowMissingColumns)`), as the reference accumulates
    * per-year files (`...990.py:632-639`). */
  private def unionYears(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val y96 = o.filter(year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
        lit("y1996").as("source"))
    val y97 = o.filter(year(col("o_orderdate")) === 1997)
      .select(col("o_orderkey"), col("o_totalprice"), lit("y1997").as("source"))
    y96.unionByName(y97, allowMissingColumns = true)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(col("o_orderpriority")).as("n_with_priority"))
      .orderBy("source")
  }

  /** P7/P8: truthy flag parse + compound risk predicate. */
  private def flagCompound(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("flag_active",
        when(upper(trim(col("o_orderstatus"))).isin("O", "P"), 1.0).otherwise(0.0))
      .withColumn("is_high_risk",
        col("flag_active") === 1.0 && col("o_totalprice") > 100000d &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_orderkey", "flag_active", "is_high_risk")
      .orderBy("o_orderkey")

  /** P9: null-footprint / likely-closed — no activity in the 2 most recent
    * years (`_is_likely_closed`, `..._ipeds_v5.py:502-527`). */
  private def nullFootprint(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val lastOrder = o.groupBy(col("o_custkey"))
      .agg(max(year(col("o_orderdate"))).as("last_order_year"))
    val maxy = o.agg(max(year(col("o_orderdate"))).as("maxy"))
    Tables.customer(s, dir)
      .join(lastOrder, col("c_custkey") === col("o_custkey"), "left")
      .crossJoin(broadcast(maxy))
      .select(col("c_custkey"), col("last_order_year"),
        (col("last_order_year").isNull || col("last_order_year") <= col("maxy") - 2)
          .as("likely_closed"))
      .orderBy("c_custkey")
  }

  /** F1/F2/F19: key normalization (strip leading zeros), name normalization
    * (lower, non-alnum -> space, collapse), composite key build. */
  private def normalizeKeys(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("id_raw", regexp_extract(col("c_name"), "([0-9]+)", 1))
      .withColumn("id_clean", regexp_replace(col("id_raw"), "^0+", ""))
      .withColumn("name_norm",
        trim(regexp_replace(regexp_replace(lower(col("c_name")), "[^a-z0-9]+", " "),
          "\\s+", " ")))
      .withColumn("composite_key",
        concat_ws("|", col("name_norm"), col("c_mktsegment"),
          col("c_nationkey").cast("string")))
      .withColumn("id_matches_key",
        col("id_clean") === col("c_custkey").cast("string"))
      .select("c_custkey", "id_clean", "name_norm", "composite_key", "id_matches_key")
      .orderBy("c_custkey")

  /** F8/F16/F17: category rename map, keyword+regex classifier, priority
    * binning (`append_priorities.py:27-102`). */
  private def classify(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("detected_type",
        when(col("c_name").rlike("(0|5)$"), "round_id")
          .when(col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), "industrial")
          .when(col("c_mktsegment") === "BUILDING", "construction")
          .otherwise("consumer"))
      .withColumn("priority",
        when(col("c_acctbal") >= 8000d, "CRITICAL")
          .when(col("c_acctbal") >= 5000d, "HIGH")
          .when(col("c_acctbal") >= 2000d, "MEDIUM")
          .otherwise("LOW"))
      .groupBy("detected_type", "priority")
      .agg(count(lit(1)).as("n"))
      .orderBy("detected_type", "priority")

  /** F5/F11/F15: safe-divide ratio arithmetic — days-of-cover analog with
    * clamp (`...990.py:826-835, 1079`). */
  private def ratioArithmetic(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_rev"))
    Tables.customer(s, dir)
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        Scoring.safeDiv(col("c_acctbal") * 365d, col("total_rev")).as("days_cover"),
        Scoring.clampRatio(
          Scoring.safeDiv(col("c_acctbal"), col("total_rev")), 0.10).as("bal_ratio_capped"))
      .orderBy("c_custkey")
  }

  /** Update-if-better merge with changelog (CDC) — idempotent by design. */
  private def mergeChangelog(s: SparkSession, dir: String): DataFrame = {
    val master = Tables.customer(s, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("value"))
    val updates = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("key"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / 100d)
        .as("value"))
    Merge.updateIfBetter(master, updates, "key", "value", (n, o) => n > o)
      .select("key", "old_value", "new_value", "value", "action")
      .orderBy("key")
  }

  /** A5: descriptive stats (`describe()`), with stddev computed from exact
    * decimal sums — sqrt((sumsq - sum^2/n)/(n-1)) over identical doubles is
    * deterministic cross-engine, unlike streaming variance algorithms. */
  private def describeStats(s: SparkSession, dir: String): DataFrame = {
    val dec = col("l_extendedprice").cast("decimal(18,2)")
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec).cast("double").as("total"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"),
        sum(dec * dec).cast("double").as("sumsq"))
      .select(col("l_returnflag"), col("n"),
        (col("total") / col("n")).as("mean"),
        col("mn"), col("mx"),
        // round: sumsq exceeds 53 bits, so its decimal->double cast can land
        // on a representation tie that the engines break differently (1 ulp)
        round(sqrt((col("sumsq") - col("total") * col("total") / col("n")) / (col("n") - 1)), 6)
          .as("stddev"))
      .orderBy("l_returnflag")
  }

  /** Column-statistics collection (the ANALYZE TABLE shape a cost-based
    * optimizer feeds on): exact row count, NDV, min/max, and the
    * interpolated median per measure column — collected in ONE grouped
    * pass over an unpivoted (col_name, value) frame instead of one job
    * per column. At 100 TB the exact NDV swaps to approx_count_distinct
    * and the exact median to approx_percentile with the plan shape
    * unchanged; here both stay exact so the oracle can hash-match. */
  private def analyzeStats(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def slice(name: String, c: String) =
      li.select(lit(name).as("col_name"), col(c).cast("double").as("v"))
    slice("l_discount", "l_discount")
      .unionByName(slice("l_extendedprice", "l_extendedprice"))
      .unionByName(slice("l_quantity", "l_quantity"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("mn"),
        max(col("v")).as("mx"),
        round(expr("percentile(v, 0.5)"), 6).as("median"))
      .orderBy("col_name")
  }

  /** J4 full shape: multi-pass name match — pass 1 exact on the normalized
    * key, pass 2 blocked levenshtein for pass-1 misses, best match per
    * record by match quality then distance (the reference's exact -> alias
    * -> fuzzy cascade with tiebreaks, `master_acreage_merge.py:49-114`). */
  private def multipassMatch(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .withColumn("s_digits", regexp_replace(regexp_extract(col("s_name"), "([0-9]+)", 1), "^0+", ""))
      .withColumn("s_block", expr("right(s_name, 4)"))
    val cust = Tables.customer(s, dir)
      .withColumn("c_digits", regexp_replace(regexp_extract(col("c_name"), "([0-9]+)", 1), "^0+", ""))
      .withColumn("c_block", expr("right(c_name, 4)"))
    val pass1 = sup.join(cust, col("s_digits") === col("c_digits"))
      .select(col("s_suppkey"), col("c_custkey"),
        lit(1).as("match_quality"), lit(0).as("dist"))
    val pass2 = sup.join(cust, col("s_block") === col("c_block"))
      .withColumn("dist", levenshtein(lower(col("s_name")), lower(col("c_name"))))
      .filter(col("dist") <= 6)
      .select(col("s_suppkey"), col("c_custkey"), lit(2).as("match_quality"), col("dist"))
    val ranked = pass1.unionByName(pass2)
      .withColumn("rn", row_number().over(
        Window.partitionBy("s_suppkey")
          .orderBy(col("match_quality").asc, col("dist").asc, col("c_custkey").asc)))
      .filter(col("rn") === 1)
      .select("s_suppkey", "c_custkey", "match_quality", "dist")
    Tables.supplier(s, dir).select("s_suppkey", "s_name")
      .join(ranked, Seq("s_suppkey"), "left")
      .orderBy("s_suppkey")
  }

  /** A5 extension: exact interpolated percentiles (same definition as
    * DuckDB's quantile_cont). */
  private def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"))
      .orderBy("l_returnflag")

  /** Exact equi-depth histogram ([[graft.ops.OrderStats]]): deciles of
    * line-item price by exact global RANK, computed through the
    * grid-bucketed two-level value rank instead of the single-reducer
    * `row_number() OVER (ORDER BY ...)` the oracle uses — the hash match
    * proves the distributed rank is bit-identical to the global window.
    * Prices ride as integer cents (the decimal-cast house rule), so
    * boundaries and totals carry no float anywhere. */
  private def equidepthHist(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(s, dir)
      .select(
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").cast("long").as("cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("rid"))
    graft.ops.OrderStats.equiDepthHistogram(v, "cents", "rid", buckets = 10,
        knownSize = Tables.rowCount(s, dir, "lineitem"))
      .select(col("bucket"), col("n_rows"),
        col("lo").as("lo_cents"), col("hi").as("hi_cents"),
        col("total").cast("long").as("total_cents"),
        round(col("total").cast("double") / col("n_rows"), 6).as("avg_cents"))
      .orderBy("bucket")
  }

  /** Approximate quantiles by DETERMINISTIC hash sampling — the
    * corpus-scale quantile path when even the two-level exact rank is
    * too much data: keep the rows whose md5(row key) lands in a fixed
    * residue class (here 1-in-8; a 100 TB profile job would use 1e-4),
    * then take EXACT rank quantiles of the sample. The sample predicate
    * is a pure projection (commutes with any partitioning — the
    * mergeable half of a KLL-style sketch, with none of its
    * merge-order sensitivity), so both engines select the IDENTICAL
    * sample and the result is hash-reproducible, unlike rand() sampling
    * or a true sketch whose buffer state depends on arrival order.
    * Expected rank error at sampling rate p is Θ(√(q(1−q)/(p·N)))·N —
    * at p·N = 10⁹ sampled rows that is ±0.003% of rank, far inside any
    * profiling tolerance (law-tested against the exact quantiles in
    * OrderStatsSpec). The sample's quantiles ride
    * [[graft.ops.OrderStats.rankedWithOffsets]] (grid-parallel, no
    * single-reducer sort), and the 8 quantile positions are integer
    * formulas joined as a broadcast — only 8 rows survive. */
  private def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val samp = Tables.lineitem(s, dir)
      .select(
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").cast("long").as("cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("rid"))
      .filter(
        conv(substring(md5(concat(lit("aq_"), col("rid").cast("string"))),
          1, 8), 16, 10).cast("long") % 8 === 0)
    // persisted: the rank primitive reads its input three times, and
    // re-deriving the sample re-hashes the whole fact table each pass
    // (at production sampling rates the sample is ≪ corpus — persisting
    // it is the right call at any scale)
    val sampP = graft.core.SharedFrames.register(samp)
    // 8 positional lookups via the boundary-element primitive — the
    // sample is never shuffled into rank order
    // knownSize: the UNSAMPLED fact count is an honest upper bound on
    // the sample — it only gates round planning
    graft.ops.OrderStats.rankElements(sampP, Nil, "cents", "rid",
        Seq(1, 5, 25, 50, 75, 90, 95, 99).map(p =>
          (s"$p", s"((n - 1) * $p) div 100 + 1")),
        knownSize = Tables.rowCount(s, dir, "lineitem"))
      .select(col("tag").cast("int").as("pct"), col("rank_target"),
        col("cents").as("value_cents"), col("n").as("n_sample"))
      .orderBy("pct")
  }

  /** Exact per-group median + p90 by RANK arithmetic
    * ([[graft.ops.OrderStats.valueRankedBy]]): the scale path for what
    * `percentile(...)` computes by buffering every group value in one
    * aggregate buffer. The grouped two-level rank spreads each nation
    * over the grid cells, the quantile positions are integer formulas on
    * the exact rank, and only ≤3 rows per group survive into the final
    * aggregation. Median uses the (n+1)/2 + (n/2+1) twin-rank sum so odd
    * and even group sizes share one exact integer path. */
  private def groupMedian(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").cast("long").as("cents"),
        col("c_custkey"))
    // twin-median + p90 via per-nation positional lookups — ≤3 boundary
    // elements per group, never a per-group rank of every customer
    graft.ops.OrderStats.rankElements(v, Seq("c_nationkey"), "cents",
        "c_custkey", Seq(
          "m1" -> "(n + 1) div 2",
          "m2" -> "n div 2 + 1",
          "p90" -> "(9 * n + 9) div 10"),
        knownSize = Tables.rowCount(s, dir, "customer"))
      .groupBy("c_nationkey", "n")
      .agg(
        (sum(when(col("tag") === "m1", col("cents")).otherwise(0L)) +
          sum(when(col("tag") === "m2", col("cents")).otherwise(0L)))
          .as("medx2"),
        max(when(col("tag") === "p90", col("cents"))).as("p90_cents"))
      .select(col("c_nationkey"), col("n"),
        round(col("medx2").cast("double") / 200, 6).as("median"),
        col("p90_cents"))
      .orderBy("c_nationkey")
  }

  /** RFM customer segmentation — recency / frequency / monetary
    * quintiles, the classic analytics segmentation, built on EXACT rank
    * arithmetic: one orders rollup to the customer frame, then three
    * [[graft.ops.OrderStats]] two-level ranks (one per dimension — the
    * customer frame is orders-of-magnitude below fact cardinality, and
    * each rank spreads over the grid cells, never a single reducer).
    * Quintile = ((rank−1)·5) div n + 1 — the equi-depth integer formula,
    * reproducible to the row where ntile() tie behavior is not pinned
    * across engines. r_q = 5 means MOST RECENT (labels ascend with the
    * value); segment = r·100 + f·10 + m. */
  private def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("days"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(max(col("days")).as("r_days"),
        count(lit(1)).as("f_cnt"),
        sum(col("cents")).cast("long").as("m_cents"))
    // Quintile labels via boundary ELEMENTS, all three dimensions in ONE
    // rankElements pass: the label ((rank−1)·5) div n + 1 increments
    // exactly after rank b_i = (i·n + 4) div 5, so label = 1 + #{i :
    // (v, id) >lex element(b_i)}. The three dims stack into a (dim, v)
    // long frame whose strata are the dims — one boundary pass instead
    // of three full rank windows — and the 12 returned elements inline
    // as LITERALS, so labeling every customer is a pure projection: the
    // customer frame is never shuffled at all (was: three rank
    // shuffles + three broadcast joins).
    val cp = graft.core.SharedFrames.register(cust)
    val stacked = cp.select(col("o_custkey"), expr(
      "stack(3, 'r', r_days, 'f', f_cnt, 'm', m_cents) AS (dim, v)"))
    val bRows = graft.ops.OrderStats.rankElements(stacked, Seq("dim"), "v",
        "o_custkey", (1 to 4).map(i => (s"$i", s"($i * n + 4) div 5")),
        // 3 stacked dims x |customers|, customers <= orders rows
        knownSize = 3 * Tables.rowCount(s, dir, "orders"))
      .collect() // LocalRelation — a driver-local read, not a job
    def label(dim: String, v: String): Column = (1 to 4).map { i =>
      bRows.find(r => r.getAs[String]("dim") == dim &&
        r.getAs[String]("tag") == s"$i") match {
        case Some(r) =>
          val (bv, bid) = (r.getAs[Long]("v"), r.getAs[Long]("o_custkey"))
          when(col(v) > lit(bv) ||
            (col(v) === lit(bv) && col("o_custkey") > lit(bid)), 1)
            .otherwise(0)
        case None => lit(0) // stratum absent (empty input)
      }
    }.foldLeft(lit(1))(_ + _).cast("int")
    cp.withColumn("r_q", label("r", "r_days"))
      .withColumn("f_q", label("f", "f_cnt"))
      .withColumn("m_q", label("m", "m_cents"))
      .withColumn("segment",
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("int"))
      .select("o_custkey", "r_days", "f_cnt", "m_cents",
        "r_q", "f_q", "m_q", "segment")
      .orderBy("o_custkey")
  }

  /** Month-of-year seasonality index over shipped revenue: per calendar
    * month, share of total revenue scaled ×12 in ppm (1e6 = perfectly
    * flat). Two aggregations (12-row axis); the index numerator widens
    * DECIMAL(38,0)-first — corpus revenue cents ~1e16 × 12e6 crosses
    * 2^63. */
  private def seasonality(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(s, dir)
      .select(month(col("l_shipdate")).as("month"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").cast("long").as("cents"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).cast("long").as("sum_cents"))
    m.crossJoin(broadcast(m.agg(sum(col("sum_cents")).cast("long").as("total"))))
      .withColumn("idx_ppm",
        expr("(12000000 * CAST(sum_cents AS DECIMAL(38,0))) div total"))
      .select("month", "n_rows", "sum_cents", "idx_ppm")
      .orderBy("month")
  }

  /** Gini concentration per market segment — the Lorenz-curve
    * inequality statistic next to HHI (HHI reads share-of-squares;
    * Gini reads the whole curve): with v ranked ascending per segment,
    * G = (2·Σ rank·v − (n+1)·Σv) / (n·Σv), exact integers end to end —
    * rank·v sums widen DECIMAL(38,0)-first (rank ~1e9 × cents ~1e12
    * crosses 2^63 immediately at corpus scale) and the ppm division
    * floors once. Ranks ride the grouped two-level grid
    * ([[graft.ops.OrderStats.valueRankedBy]]) — a hot segment spreads
    * over the cells, never one reducer. */
  private def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .join(Tables.customer(s, dir).select(col("c_custkey"),
        col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("seg", "o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")).cast("long").as("v"))
    graft.ops.OrderStats.valueRankedBy(cust, Seq("seg"), "v", "o_custkey")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("long").as("total"),
        sum(col("val_rank").cast("decimal(38,0)") * col("v")).as("w"))
      .withColumn("gini_ppm", expr(
        """CAST((1000000 * (2 * w - (n + 1) * CAST(total AS DECIMAL(38,0))))
          |div (CAST(n AS DECIMAL(38,0)) * total) AS BIGINT)""".stripMargin))
      .select("seg", "n", "total", "gini_ppm")
      .orderBy("seg")
  }

  /** Pareto / CR-k concentration shares — the point statistics next to
    * [[giniConcentration]]'s whole-curve read (the "do the top 1% hold
    * 80%?" audit): for p ∈ {1, 5, 10, 20}, the revenue share of the
    * top ⌊n·p/100⌋ customers, exact ppm. One rank pass (two-level
    * grid), a 4-row level grid broadcast against the ranked frame (4×
    * bounded fan-out), one aggregation; the share numerator widens
    * DECIMAL(38,0)-first (top-slice cents ~1e16 × 1e6 cross 2^63). */
  private def paretoShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")).cast("long").as("v"))
    // the top-⌊n·p/100⌋ slice boundary is ONE element per level:
    // rank > n − k  ⟺  (v, id) >lex element(n − k) — four boundary
    // lookups + a broadcast compare; the customer frame is never ranked
    val bounds = graft.ops.OrderStats.rankElements(cust, Nil, "v",
        "o_custkey", Seq(1, 5, 10, 20).map(p =>
          (s"$p", s"n - (n * $p) div 100")),
        knownSize = Tables.rowCount(s, dir, "orders"))
      .select(col("tag").cast("int").as("pct"), col("n"),
        col("v").as("bv"), col("o_custkey").as("bid"))
    val total = cust.agg(sum(col("v")).cast("long").as("total"))
    cust.crossJoin(broadcast(bounds))
      .filter(col("v") > col("bv") ||
        (col("v") === col("bv") && col("o_custkey") > col("bid")))
      .groupBy("pct", "n")
      .agg(sum(col("v")).cast("long").as("top_cents"))
      .crossJoin(broadcast(total))
      .select(col("pct"), expr("(n * pct) div 100").as("n_top"),
        col("top_cents"), col("total"),
        expr("(1000000 * CAST(top_cents AS DECIMAL(38,0))) div total")
          .as("share_ppm"))
      .orderBy("pct")
  }

  /** Winsorized aggregates — outlier-robust sums by CLIPPING at the
    * exact p1/p99 values instead of dropping rows (the robust-stats
    * companion of `q_mad_outliers`, which flags; this one repairs):
    * thresholds come from two exact ranks on the two-level grid (one
    * 2-row broadcast), the clip is a pure projection, and the summary
    * reports raw-vs-clipped totals and clip counts per returnflag. */
  private def winsorized(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").cast("long").as("cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("rid"))
    // p1/p99 via the positional lookup — no full-data rank window: the
    // thresholds are two boundary ELEMENTS ([[graft.ops.OrderStats
    // .rankElements]]), so the corpus is never shuffled into rank order
    val el = graft.ops.OrderStats.rankElements(v, Nil, "cents", "rid",
      Seq("lo" -> "(n - 1) div 100 + 1",
        "hi" -> "(99 * (n - 1)) div 100 + 1"),
      knownSize = Tables.rowCount(s, dir, "lineitem"))
    val thr = el
      .agg(min(when(col("tag") === "lo", col("cents"))).as("lo"),
        max(when(col("tag") === "hi", col("cents"))).as("hi"))
    v.crossJoin(broadcast(thr))
      .withColumn("clipped", greatest(least(col("cents"), col("hi")), col("lo")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("cents")).cast("long").as("sum_raw"),
        sum(col("clipped")).cast("long").as("sum_winsorized"))
      .orderBy("l_returnflag")
  }

  /** CUSUM change-point monitor over daily revenue — the sequential
    * drift detector (Page 1954) a pipeline health monitor runs where
    * the KS tests compare static slices: CUSUM⁺_t = max over prefixes
    * of the drift above target+slack. The clamped recurrence
    * max(0, prev + x − μ − k) is NOT a prefix sum, but it equals
    * S_t − min_{i≤t} S_i for S = cumsum(x − μ − k) — two stacked
    * windows, no recursion, exact integers end to end (μ = floor mean,
    * k = μ div 100 slack, alarm at h = μ div 10). The windows run over
    * the DAILY frame — the one partition-less orderBy rides a
    * retention-bounded axis (the q_compact_plan class), never fact
    * cardinality. */
  private def cusumDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")).cast("long").as("cents"))
    val stats = daily.agg(count(lit(1)).as("n_days"),
      sum(col("cents")).cast("long").as("total"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(stats))
      .withColumn("mu", expr("total div n_days"))
      .withColumn("slack", expr("mu div 100"))
      .withColumn("s_cum", sum(col("cents") - col("mu") - col("slack")).over(wCum))
      // the empty prefix counts: C_0 = 0, so the subtracted minimum is
      // min(0, S_1..S_t) — without the 0 floor an all-positive drift
      // would wrongly anchor at S_1
      .withColumn("s_min", least(min(col("s_cum")).over(wCum), lit(0L)))
      .withColumn("cusum", col("s_cum") - col("s_min"))
      .withColumn("alarm", col("cusum") >= expr("mu div 10"))
      .select("day", "cents", "s_cum", "cusum", "alarm")
      .orderBy("day")
  }

  /** Skew-safe salted aggregation: two-stage sum per returnflag (a
    * low-cardinality, skew-prone key). The oracle is the PLAIN group-by —
    * salting must be result-invariant. */
  private def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    Skew.saltedAgg(li, col("l_returnflag"),
        col("l_extendedprice").cast("decimal(18,2)"), buckets = 16)
      .select(col("key").as("l_returnflag"),
        col("total").cast("double").as("total"), col("n"))
      .orderBy("l_returnflag")
  }

  /** Bucketized point-in-interval range join ([[graft.ops.RangeJoin]]):
    * repeat purchases within 14 days (inclusive) of a customer's URGENT
    * order. A bare BETWEEN join would plan as a nested-loop; bucketizing
    * the date dimension (width 16 days ~ interval length) turns it into
    * an equi-join on (bucket, custkey) + the exact range predicate. */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("d", unix_date(to_date(col("o_orderdate"))).cast("long"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("urgent_orderkey"),
        col("d").as("start_d"), (col("d") + 14).as("end_d"))
    val pts = o.select(col("o_custkey").as("custkey"), col("o_orderkey"), col("d"))
    RangeJoin.pointInInterval(pts, "d", urgent, "start_d", "end_d",
        bucketWidth = 16L, extraKeys = Seq("custkey"))
      .filter(col("o_orderkey") =!= col("urgent_orderkey"))
      .groupBy("urgent_orderkey")
      .agg(count(lit(1)).as("n_follow"), min(col("d") - col("start_d")).as("min_lag_days"))
      .orderBy("urgent_orderkey")
  }

  /** Interval-OVERLAP join ([[graft.ops.RangeJoin.intervalOverlap]]) —
    * the two-sided sibling of [[rangeJoin]]'s point probe: order service
    * windows vs shipment handling windows, any intersection. A bare
    * overlap theta-join plans as a nested loop; both sides bucketize to
    * a 16-day grid and meet on an equi-key, with each pair claimed
    * exactly once in the bucket holding the overlap start (predicate
    * dedup — no distinct, no second shuffle). Per service window:
    * overlap count and total/max overlap days, all exact day
    * integers. */
  private def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey").as("a_id"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("a_s"))
      .withColumn("a_e", col("a_s") + col("a_id") % 7 + 1)
    val b = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 17 === 0)
      .select((col("l_orderkey") * 100 + col("l_linenumber")).as("b_id"),
        unix_date(to_date(col("l_shipdate"))).cast("long").as("b_s"),
        col("l_linenumber").cast("long").as("ln"))
      .withColumn("b_e", col("b_s") + col("ln") % 5 + 2)
    RangeJoin.intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e",
        bucketWidth = 16L)
      .withColumn("ov",
        least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")) + 1)
      .groupBy("a_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum("ov").as("total_overlap_days"),
        max("ov").as("max_overlap_days"))
      .orderBy("a_id")
  }

  /** A5 extension: per-group IQR outlier detection (Tukey fences) over
    * per-customer total spend by nation — the data-quality monitor that
    * flags anomalous records before they pollute a training aggregate.
    * Exactness: spend sums become integer CENTS, and the quartile positions
    * (n−1)·{0.25,0.75} have DYADIC fractional parts, so the interpolated
    * quartiles — and therefore the q1−1.5·IQR / q3+1.5·IQR fences, exact
    * multiples of 1/8 cent — are bit-identical across engines; the fence
    * comparison never sits on a float boundary. Shape: one group
    * aggregation (|nations| rows) broadcast back over the scan. */
  private def groupOutliers(s: SparkSession, dir: String): DataFrame = {
    val spend = graft.core.SharedFrames.register(Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("decimal(38,0)").cast("long").as("cents")))
    val q = spend.groupBy("c_nationkey").agg(
      expr("percentile(cents, 0.25)").as("q1"),
      expr("percentile(cents, 0.75)").as("q3"))
    spend.join(broadcast(q), Seq("c_nationkey"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      .filter(col("cents") < col("lo") || col("cents") > col("hi"))
      .select(col("o_custkey"), col("c_nationkey"),
        (col("cents").cast("double") / 100).as("spend"),
        round(col("lo") / 100, 6).as("lo_bound"),
        round(col("hi") / 100, 6).as("hi_bound"),
        when(col("cents") < col("lo"), "low").otherwise("high").as("side"))
      .orderBy("o_custkey")
  }

  /** Market-basket co-purchase pairs — the relational cousin of the
    * token collocation miner: parts bought together in one order,
    * ranked by integer-scaled lift support·N/(n_a·n_b) with min
    * support, top-20 with deterministic tiebreak. Pair generation is
    * per-order and in-row (basket²-bounded fan-out over the sorted
    * basket array, never a catalog self-join) and the ranking runs over
    * the pair-count aggregate; floored lift keeps the ranking key out of
    * floats, exactly like `q_collocations`. */
  /** Integer-scaled lift ranking key support·N·10⁶ div (n_a·n_b),
    * DECIMAL(38,0)-first: the raw BIGINT numerator crosses 2^63 at
    * corpus scale (n_orders ~1e9 with a boilerplate pair's support
    * ~1e6) and wraps silently in non-ANSI mode. `div` on decimals still
    * floors to BIGINT, so the ranking key type is unchanged.
    * Magnitude law in ScoringPropsSpec. */
  private[graft] val liftScaledExpr: Column =
    expr("""(CAST(support AS DECIMAL(38,0)) * n_orders * 1000000)
           |div (CAST(n_a AS DECIMAL(38,0)) * n_b)""".stripMargin)

  private def copurchase(s: SparkSession, dir: String): DataFrame = {
    // one groupBy(order) shuffle builds the sorted-distinct basket; pair
    // enumeration happens INSIDE the row (upper-triangle array transform —
    // sorted + distinct makes p_a < p_b structural), replacing the
    // distinct + ok-keyed self-join (three exchanges of the full lineitem
    // projection) with a single exchange. Part counts and the order count
    // read the same persisted basket frame, not the base table again.
    val baskets = graft.core.SharedFrames.register(
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts")))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val partN = baskets.select(explode(col("parts")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n_part"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)),
          |    y -> struct(x AS p_a, y AS p_b))))""".stripMargin)).as("t"))
      .groupBy(col("t.p_a").as("p_a"), col("t.p_b").as("p_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 3)
    // part-marginal joins BROADCAST: partN is catalog-bounded (one row
    // per part ever purchased — a dimension, not a fact), so shuffling
    // the pair frame twice to meet it was two avoidable exchanges
    pairs
      .join(broadcast(partN.select(col("pk").as("p_a"), col("n_part").as("n_a"))),
        Seq("p_a"))
      .join(broadcast(partN.select(col("pk").as("p_b"), col("n_part").as("n_b"))),
        Seq("p_b"))
      .crossJoin(broadcast(nOrders))
      .withColumn("lift_scaled", liftScaledExpr)
      .orderBy(col("lift_scaled").desc, col("p_a"), col("p_b"))
      .limit(20)
      .select("p_a", "p_b", "support", "n_a", "n_b", "lift_scaled")
  }

  /** Entity resolution END TO END — the reference's fuzzy EIN-merge
    * shape (README.md:41–47, `master_acreage_merge.py:49–114`) composed
    * into one operator: block customers on a cheap key (the name minus
    * its final char — a blocking key must MATCH for candidates, so it
    * is chosen to make near-identical names collide), verify
    * levenshtein <= 1 within blocks only (never a cross join), treat
    * surviving pairs as an identity graph, and resolve
    * transitive groups with connected components — A~B, B~C puts A and
    * C in one entity even when A!~C directly, which per-pair merging
    * misses. Output: every customer with its canonical entity id
    * (smallest member key) and group size. The CC fixpoint replays as
    * the recursive-CTE closure. */
  private def entityResolution(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), lower(col("c_name")).as("nm"))
      .withColumn("blk", expr("left(nm, length(nm) - 1)"))
    val pairs = c.alias("a").join(c.alias("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .filter(levenshtein(col("a.nm"), col("b.nm")) <= 1)
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"))
    val cc = graft.ops.Dedup.connectedComponents(pairs)
    c.select(col("c_custkey"))
      .join(cc.withColumnRenamed("doc_id", "c_custkey"), Seq("c_custkey"), "left")
      .withColumn("entity_id", coalesce(col("cluster_id"), col("c_custkey")))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("entity_id")))
      .select("c_custkey", "entity_id", "n_members")
      .orderBy("c_custkey")
  }

  /** Robust (MAD) outlier screen per nation — the modified z-score
    * companion of `q_group_outliers`' Tukey fences: median absolute
    * deviation tolerates up to 50% contamination where the IQR breaks
    * at 25%. Exactness: spends are integer cents; the median sits at a
    * dyadic position so med and MAD are exact multiples of 1/4 cent;
    * the 0.6745·dev > 3.5·MAD cut compares as 6745·(4·dev) >
    * 35000·(4·MAD) — ALL integer, no float boundary. The z itself is
    * one exact-operand double division, displayed rounded. Same shape
    * as the IQR screen: tiny per-group stats broadcast back. */
  private def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("decimal(38,0)").cast("long").as("cents"))
    val med = spend.groupBy("c_nationkey")
      .agg((expr("percentile(cents, 0.5)") * 4).cast("long").as("med4"))
    val dev = spend.join(broadcast(med), Seq("c_nationkey"))
      .withColumn("dev4", abs(col("cents") * 4 - col("med4")))
    val mad = dev.groupBy("c_nationkey")
      .agg((expr("percentile(dev4, 0.5)") * 4).cast("long").as("mad16"))
    dev.join(broadcast(mad), Seq("c_nationkey"))
      .filter(col("mad16") > 0 &&
        col("dev4") * lit(6745L) * 4 > col("mad16") * lit(35000L))
      .select(col("o_custkey"), col("c_nationkey"),
        (col("cents").cast("double") / 100).as("spend"),
        round(col("med4").cast("double") / 400, 6).as("median_spend"),
        round(lit(0.6745) * col("dev4").cast("double") * 4 /
          col("mad16").cast("double"), 6).as("robust_z"))
      .orderBy("o_custkey")
  }

  /** Benford first-digit audit over order totals — the classic financial
    * anomaly screen (the reference's domain is 990 FINANCIAL filings;
    * fabricated numbers drift from Benford's log distribution). First
    * significant digit via the integer-cents string, never double
    * formatting; exact counts; log10 appears only inside round(_, 6). */
  private def benford(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val tot = o.agg(count(lit(1)).as("total"))
    o.select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"),
        round(col("n").cast("double") / col("total") -
          log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("deviation"))
      .orderBy("digit")
  }

  /** Pearson correlation matrix over the four lineitem measures in ONE
    * aggregation pass — the feature-redundancy screen that decides which
    * quality signals are worth keeping (two 0.98-correlated features are
    * one feature). Exactness: measures become integer cents; the pass
    * collects n, Σxᵢ and all upper-triangle Σxᵢxⱼ as DECIMAL(38,0)
    * (HUGEINT in the oracle), so the correlation numerator
    * n·Σxᵢxⱼ − Σxᵢ·Σxⱼ and both variance factors are EXACT integers;
    * IEEE doubles appear only in the final sqrt/divide (routed through
    * VARCHAR on the DuckDB side per the >2^63 correct-rounding rule).
    * Scale shape: d=4 measures → d+d(d+1)/2 horizontal sums in one
    * map-side-combined aggregation over the scan; the result is ONE row
    * exploded to the 6 pair rows — nothing shuffles but the final agg,
    * at any corpus size. Headroom: n·Σx² ≈ 10³⁶ at 10¹² rows — inside
    * DECIMAL(38,0)/HUGEINT. */
  private def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val ms = Seq("l_quantity" -> "qty", "l_extendedprice" -> "price",
      "l_discount" -> "disc", "l_tax" -> "tax")
    val li = Tables.lineitem(s, dir).select(
      ms.map { case (c, a) =>
        (col(c).cast("decimal(18,2)") * 100).cast("decimal(38,0)").as(a)
      }: _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
        ms.map { case (_, a) => sum(col(a)).as(s"s_$a") } ++
        (for { i <- ms.indices; j <- i until ms.size } yield {
          val (ai, aj) = (ms(i)._2, ms(j)._2)
          sum((col(ai) * col(aj)).cast("decimal(38,0)")).as(s"p_${ai}_$aj")
        })
    val g = li.agg(aggs.head, aggs.tail: _*)
    def varOf(a: String): Column =
      col(s"p_${a}_$a") * col("n") - col(s"s_$a") * col(s"s_$a")
    val pairRows = for { i <- ms.indices; j <- (i + 1) until ms.size } yield {
      val (ai, aj) = (ms(i)._2, ms(j)._2)
      val num = col(s"p_${ai}_$aj") * col("n") - col(s"s_$ai") * col(s"s_$aj")
      struct(lit(ai).as("m_a"), lit(aj).as("m_b"),
        col("n").cast("long").as("n"),
        when(varOf(ai) === 0 || varOf(aj) === 0, lit(null).cast("double"))
          .otherwise(round(num.cast("double") /
            (sqrt(varOf(ai).cast("double")) * sqrt(varOf(aj).cast("double"))), 6))
          .as("corr"))
    }
    g.select(explode(array(pairRows: _*)).as("r")).select("r.*")
      .orderBy("m_a", "m_b")
  }

  /** Incremental view maintenance for a grouped aggregate — the
    * keep-the-summary-fresh primitive a 100 TB warehouse uses instead of
    * re-aggregating the base table per batch: the maintained view
    * per-customer (order count, total spend) absorbs a changelog of
    * inserts (orders on/after the cut date) and retractions (pre-cut
    * orders with o_orderkey % 10 = 3 — a deterministic GDPR-style
    * removal set) as SIGNED deltas: +1/price for inserts, -1/-price for
    * deletes, merged by one |changed groups|-bounded union+re-aggregate.
    * Groups whose count reaches zero are DROPPED (the classic IVM
    * subtlety — a retraction-only group must vanish, not linger at 0;
    * MergeSpec pins it on a fixture built to zero one out). The oracle
    * computes the view DIRECTLY over (base minus deletes) union inserts,
    * so the hash gate proves merge == rebuild; money stays in
    * DECIMAL(18,2) through every +/- so the incremental path is exact,
    * cast to DOUBLE only at the edge.
    *
    * Scale shape: base aggregation is the view (already materialized in
    * a real deployment — here rebuilt once for the law); the maintenance
    * step itself touches only the changelog and is one map-side-combined
    * aggregate + a view-width merge, O(|delta| + |view|), never a base
    * rescan. */
  private def ivmAgg(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1999-01-01").cast("timestamp")
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"), col("o_orderdate"))
    val base = o.where(col("o_orderdate") < cut)
    val inserts = o.where(col("o_orderdate") >= cut)
    val deletes = base.where(col("o_orderkey") % 10 === 3)
    val view0 = base.groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"), sum("price").as("total"))
    val delta = inserts.select(col("o_custkey"), lit(1L).as("dc"), col("price").as("dp"))
      .unionByName(deletes.select(col("o_custkey"), lit(-1L).as("dc"),
        (-col("price")).as("dp")))
      .groupBy("o_custkey")
      .agg(sum("dc").as("cnt"), sum("dp").cast("decimal(28,2)").as("total"))
    graft.ops.Merge.ivmMerge(
      view0.select(col("o_custkey"), col("cnt"),
        col("total").cast("decimal(28,2)").as("total")),
      delta, "o_custkey")
      .select(col("o_custkey"), col("cnt").as("n_orders"),
        col("total").cast("double").as("total"))
      .orderBy("o_custkey")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ivm_agg" -> ivmAgg,
    "q_corr_matrix" -> corrMatrix,
    "q_group_outliers" -> groupOutliers,
    "q_mad_outliers" -> madOutliers,
    "q_entity_resolution" -> entityResolution,
    "q_copurchase" -> copurchase,
    "q_benford" -> benford,
    "q_range_join" -> rangeJoin,
    "q_interval_join" -> intervalJoin,
    "q_salted_agg" -> saltedAgg,
    "q_multipass_match" -> multipassMatch,
    "q_percentiles" -> percentiles,
    "q_equidepth_hist" -> equidepthHist,
    "q_approx_quantiles" -> approxQuantiles,
    "q_rfm_segments" -> rfmSegments,
    "q_seasonality" -> seasonality,
    "q_cusum_drift" -> cusumDrift,
    "q_gini" -> giniConcentration,
    "q_pareto_share" -> paretoShare,
    "q_winsorized" -> winsorized,
    "q_group_median" -> groupMedian,
    "q_describe_stats" -> describeStats,
    "q_analyze_stats" -> analyzeStats,
    "q_subsidiary" -> subsidiary,
    "q_fuzzy_match" -> fuzzyMatch,
    "q_star_join" -> starJoin,
    "q_asof_fallback" -> asofFallback,
    "q_cond_counters" -> condCounters,
    "q_hhi" -> hhi,
    "q_vote" -> vote,
    "q_rollup_counts" -> rollupCounts,
    "q_grouping_sets" -> groupingSets,
    "q_cube" -> cubeCounts,
    "q_intersect" -> intersectKeys,
    "q_multiset_ops" -> multisetOps,
    "q_priority_sort" -> prioritySort,
    "q_topk_search" -> topkSearch,
    "q_topk_agg" -> topkAgg,
    "q_heavy_hitters" -> heavyHitters,
    "q_argmax" -> argmax,
    "q_union_years" -> unionYears,
    "q_flag_compound" -> flagCompound,
    "q_null_footprint" -> nullFootprint,
    "q_normalize_keys" -> normalizeKeys,
    "q_classify" -> classify,
    "q_ratio_arithmetic" -> ratioArithmetic,
    "q_merge_changelog" -> mergeChangelog,
  )

  override def oracle: Map[String, String] = Map(
    // the DIRECT view over (base \ deletes) UNION inserts — hash match
    // proves the Spark side's signed-delta merge == rebuild
    "q_ivm_agg" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |         o_orderdate
        |  FROM orders)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(price) AS DOUBLE) AS total
        |FROM o
        |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |   OR (o_orderdate < TIMESTAMP '1999-01-01' AND o_orderkey % 10 <> 3)
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    // exact HUGEINT moment sums; doubles only in the final sqrt/divide,
    // routed through VARCHAR (direct HUGEINT->DOUBLE double-rounds >2^63)
    "q_corr_matrix" -> {
      val ms = Seq("l_quantity" -> "qty", "l_extendedprice" -> "price",
        "l_discount" -> "disc", "l_tax" -> "tax")
      val cents = ms.map { case (c, a) =>
        s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT) AS $a" }
      val sums = ms.map { case (_, a) => s"sum($a) AS s_$a" }
      val prods = for { i <- ms.indices; j <- i until ms.size } yield {
        val (ai, aj) = (ms(i)._2, ms(j)._2)
        s"sum($ai * $aj) AS p_${ai}_$aj"
      }
      def dbl(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
      def varOf(a: String) = s"(p_${a}_$a * n - s_$a * s_$a)"
      val pairs = for { i <- ms.indices; j <- (i + 1) until ms.size } yield {
        val (ai, aj) = (ms(i)._2, ms(j)._2)
        s"""SELECT '$ai' AS m_a, '$aj' AS m_b, CAST(n AS BIGINT) AS n,
           |  CASE WHEN ${varOf(ai)} = 0 OR ${varOf(aj)} = 0 THEN NULL
           |    ELSE round(${dbl(s"(p_${ai}_$aj * n - s_$ai * s_$aj)")}
           |      / (sqrt(${dbl(varOf(ai))}) * sqrt(${dbl(varOf(aj))})), 6)
           |  END AS corr FROM m""".stripMargin
      }
      s"""WITH c AS (SELECT ${cents.mkString(", ")} FROM lineitem),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n, ${sums.mkString(", ")},
         |  ${prods.mkString(", ")} FROM c)
         |${pairs.mkString("\nUNION ALL\n")}
         |ORDER BY m_a, m_b""".stripMargin
    },

    // per-order pair fan-out, integer-scaled floored lift ranking
    "q_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
        |pn AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_part FROM li GROUP BY 1),
        |pr AS (
        |  SELECT a.pk AS p_a, b.pk AS p_b, CAST(count(*) AS BIGINT) AS support
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p_a, p_b, support, na.n_part AS n_a, nb.n_part AS n_b,
        |  CAST((CAST(support AS HUGEINT) * n_orders * 1000000)
        |       // (CAST(na.n_part AS HUGEINT) * nb.n_part) AS BIGINT) AS lift_scaled
        |FROM pr JOIN pn na ON p_a = na.pk JOIN pn nb ON p_b = nb.pk
        |CROSS JOIN no
        |ORDER BY lift_scaled DESC, p_a, p_b LIMIT 20""".stripMargin,

    // blocked levenshtein pairs -> recursive-CTE transitive closure;
    // singletons resolve to themselves
    "q_entity_resolution" ->
      """WITH RECURSIVE c AS (
        |  SELECT c_custkey, lower(c_name) AS nm,
        |    left(lower(c_name), length(c_name) - 1) AS blk
        |  FROM customer),
        |jp AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.nm, b.nm) <= 1),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
        |          UNION SELECT id_b, id_a FROM jp),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS c_custkey, least(src, min(dst)) AS cluster_id
        |         FROM reach GROUP BY src),
        |res AS (
        |  SELECT c.c_custkey,
        |    coalesce(comp.cluster_id, c.c_custkey) AS entity_id
        |  FROM c LEFT JOIN comp USING (c_custkey))
        |SELECT c_custkey, entity_id,
        |  count(*) OVER (PARTITION BY entity_id) AS n_members
        |FROM res ORDER BY c_custkey""".stripMargin,

    // med and MAD are exact quarter-cents; the modified-z cut compares
    // entirely in integers (6745·4dev vs 35000·mad16)
    "q_mad_outliers" ->
      """WITH sp AS (
        |  SELECT c_nationkey, o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |med AS (SELECT c_nationkey,
        |    CAST(quantile_cont(cents, 0.5) * 4 AS BIGINT) AS med4
        |  FROM sp GROUP BY 1),
        |dev AS (
        |  SELECT sp.*, med4, abs(cents * 4 - med4) AS dev4
        |  FROM sp JOIN med USING (c_nationkey)),
        |mad AS (SELECT c_nationkey,
        |    CAST(quantile_cont(dev4, 0.5) * 4 AS BIGINT) AS mad16
        |  FROM dev GROUP BY 1)
        |SELECT o_custkey, dev.c_nationkey,
        |  CAST(cents AS DOUBLE) / 100 AS spend,
        |  round(CAST(med4 AS DOUBLE) / 400, 6) AS median_spend,
        |  round(0.6745 * dev4 * 4 / mad16, 6) AS robust_z
        |FROM dev JOIN mad USING (c_nationkey)
        |WHERE mad16 > 0 AND dev4 * 6745 * 4 > mad16 * 35000
        |ORDER BY o_custkey""".stripMargin,

    // dyadic quartile positions keep quantile_cont == Spark percentile
    // bit-exact on integer cents; the fences are exact eighths of a cent
    "q_group_outliers" ->
      """WITH c AS (
        |  SELECT c_nationkey, o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |q AS (SELECT c_nationkey,
        |    quantile_cont(cents, 0.25) AS q1, quantile_cont(cents, 0.75) AS q3
        |  FROM c GROUP BY 1),
        |j AS (SELECT c.*, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        |  FROM c JOIN q USING (c_nationkey))
        |SELECT o_custkey, c_nationkey, CAST(cents AS DOUBLE) / 100 AS spend,
        |  round(lo / 100, 6) AS lo_bound, round(hi / 100, 6) AS hi_bound,
        |  CASE WHEN cents < lo THEN 'low' ELSE 'high' END AS side
        |FROM j WHERE cents < lo OR cents > hi ORDER BY o_custkey""".stripMargin,

    "q_benford" ->
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |        count(*) AS n
        |      FROM o GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM o)
        |SELECT digit, n, round(CAST(n AS DOUBLE) / total, 6) AS share,
        |  round(log10(1.0 + 1.0 / digit), 6) AS expected,
        |  round(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 6)
        |    AS deviation
        |FROM g, t ORDER BY digit""".stripMargin,

    // the oracle states the range join declaratively (DuckDB plans its
    // own IEJoin); the Spark side must produce the identical match set
    // through the bucketized equi-join
    "q_range_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
        |  FROM orders),
        |u AS (
        |  SELECT o_orderkey AS urgent_orderkey, o_custkey, d AS start_d, d + 14 AS end_d
        |  FROM o WHERE o_orderpriority = '1-URGENT')
        |SELECT u.urgent_orderkey, COUNT(*) AS n_follow,
        |  CAST(MIN(o.d - u.start_d) AS BIGINT) AS min_lag_days
        |FROM u JOIN o ON o.o_custkey = u.o_custkey
        |  AND o.d BETWEEN u.start_d AND u.end_d
        |  AND o.o_orderkey <> u.urgent_orderkey
        |GROUP BY 1 ORDER BY urgent_orderkey""".stripMargin,

    // the oracle states overlap as the plain theta-join; bucket+claim on
    // the Spark side must be result-invariant
    "q_interval_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_id,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS a_s,
        |    CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      + o_orderkey % 7 + 1 AS a_e
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |b AS (
        |  SELECT l_orderkey * 100 + l_linenumber AS b_id,
        |    CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS b_s,
        |    CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |      + l_linenumber % 5 + 2 AS b_e
        |  FROM lineitem WHERE l_orderkey % 17 = 0)
        |SELECT a_id, count(*) AS n_overlaps,
        |  CAST(sum(least(a_e, b_e) - greatest(a_s, b_s) + 1) AS BIGINT)
        |    AS total_overlap_days,
        |  CAST(max(least(a_e, b_e) - greatest(a_s, b_s) + 1) AS BIGINT)
        |    AS max_overlap_days
        |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
        |GROUP BY 1 ORDER BY a_id""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_multipass_match" ->
      """WITH sup AS (
        |  SELECT s_suppkey, s_name,
        |    regexp_replace(regexp_extract(s_name, '([0-9]+)', 1), '^0+', '') AS s_digits,
        |    right(s_name, 4) AS s_block
        |  FROM supplier),
        |cust AS (
        |  SELECT c_custkey, c_name,
        |    regexp_replace(regexp_extract(c_name, '([0-9]+)', 1), '^0+', '') AS c_digits,
        |    right(c_name, 4) AS c_block
        |  FROM customer),
        |pass1 AS (
        |  SELECT s_suppkey, c_custkey, 1 AS match_quality, 0 AS dist
        |  FROM sup JOIN cust ON s_digits = c_digits),
        |pass2 AS (
        |  SELECT s_suppkey, c_custkey, 2 AS match_quality,
        |    CAST(levenshtein(lower(s_name), lower(c_name)) AS INTEGER) AS dist
        |  FROM sup JOIN cust ON s_block = c_block
        |  WHERE levenshtein(lower(s_name), lower(c_name)) <= 6),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY s_suppkey
        |    ORDER BY match_quality ASC, dist ASC, c_custkey ASC) AS rn
        |  FROM (SELECT * FROM pass1 UNION ALL SELECT * FROM pass2))
        |SELECT s.s_suppkey, s.s_name, r.c_custkey, r.match_quality, r.dist
        |FROM supplier s
        |LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON s.s_suppkey = r.s_suppkey
        |ORDER BY s.s_suppkey""".stripMargin,

    "q_analyze_stats" ->
      """WITH u AS (
        |  SELECT 'l_discount' AS col_name, CAST(l_discount AS DOUBLE) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem)
        |SELECT col_name, count(*) AS n, count(DISTINCT v) AS ndv,
        |  min(v) AS mn, max(v) AS mx,
        |  round(quantile_cont(v, 0.5), 6) AS median
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the single-reducer global window IS the oracle for the two-level
    // value rank; integer cents + HUGEINT->BIGINT cast per house rules
    "q_equidepth_hist" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents, l_orderkey * 10 + l_linenumber AS rid FROM lineitem),
        |r AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents, rid) AS rn,
        |    count(*) OVER () AS n FROM v),
        |d AS (SELECT cents, CAST((rn - 1) * 10 // n AS INTEGER) + 1 AS bucket
        |      FROM r)
        |SELECT bucket, count(*) AS n_rows,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / count(*), 6)
        |    AS avg_cents
        |FROM d GROUP BY bucket ORDER BY bucket""".stripMargin,

    // identical deterministic md5-residue sample, then exact sample-rank
    // quantiles via the single-reducer window (the oracle formulation of
    // the grid rank)
    "q_approx_quantiles" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents, l_orderkey * 10 + l_linenumber AS rid FROM lineitem),
        |samp AS (
        |  SELECT cents, rid FROM v
        |  WHERE CAST(('0x' || substr(md5('aq_' || CAST(rid AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 8 = 0),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, rid) AS rn,
        |             count(*) OVER () AS n_sample FROM samp),
        |lv AS (SELECT unnest([1, 5, 25, 50, 75, 90, 95, 99]) AS pct)
        |SELECT pct, ((n_sample - 1) * pct) // 100 + 1 AS rank_target,
        |  cents AS value_cents, n_sample
        |FROM r JOIN lv ON rn = ((n_sample - 1) * pct) // 100 + 1
        |ORDER BY pct""".stripMargin,

    // three single-reducer rank windows are the oracle for the grid
    // ranks; quintile and segment arithmetic all-integer
    "q_rfm_segments" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS days,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT o_custkey, max(days) AS r_days, count(*) AS f_cnt,
        |        CAST(sum(cents) AS BIGINT) AS m_cents
        |      FROM o GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM c),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY r_days, o_custkey) AS rr,
        |    row_number() OVER (ORDER BY f_cnt, o_custkey) AS rf,
        |    row_number() OVER (ORDER BY m_cents, o_custkey) AS rm
        |  FROM c),
        |q AS (SELECT o_custkey, r_days, f_cnt, m_cents,
        |    CAST(((rr - 1) * 5) // n + 1 AS INTEGER) AS r_q,
        |    CAST(((rf - 1) * 5) // n + 1 AS INTEGER) AS f_q,
        |    CAST(((rm - 1) * 5) // n + 1 AS INTEGER) AS m_q
        |  FROM r, n)
        |SELECT o_custkey, r_days, f_cnt, m_cents, r_q, f_q, m_q,
        |  CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS segment
        |FROM q ORDER BY o_custkey""".stripMargin,

    // 12-row month axis; index numerator HUGEINT-widened like the Spark
    // decimal cast
    "q_seasonality" ->
      """WITH m AS (
        |  SELECT CAST(month(l_shipdate) AS INTEGER) AS month,
        |    count(*) AS n_rows,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS sum_cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(sum_cents) AS BIGINT) AS total FROM m)
        |SELECT month, n_rows, sum_cents,
        |  CAST((12000000 * CAST(sum_cents AS HUGEINT)) // total AS BIGINT)
        |    AS idx_ppm
        |FROM m, t ORDER BY month""".stripMargin,

    // per-segment rank window is the oracle for the grouped grid rank;
    // rank·v and the gini numerator ride HUGEINT like the Spark decimals
    "q_gini" ->
      """WITH cust AS (
        |  SELECT c_mktsegment AS seg, o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |r AS (SELECT seg, o_custkey, v,
        |    row_number() OVER (PARTITION BY seg ORDER BY v, o_custkey) AS rk
        |  FROM cust),
        |g AS (SELECT seg, count(*) AS n, CAST(sum(v) AS BIGINT) AS total,
        |    sum(CAST(rk AS HUGEINT) * v) AS w
        |  FROM r GROUP BY 1)
        |SELECT seg, n, total,
        |  CAST((1000000 * (2 * w - (n + 1) * CAST(total AS HUGEINT)))
        |    // (CAST(n AS HUGEINT) * total) AS BIGINT) AS gini_ppm
        |FROM g ORDER BY seg""".stripMargin,

    // one global rank window, a 4-row level grid, top-slice sums with
    // the HUGEINT-widened ppm share
    "q_pareto_share" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS rk,
        |             count(*) OVER () AS n FROM cust),
        |t AS (SELECT CAST(sum(v) AS BIGINT) AS total FROM cust),
        |lv AS (SELECT unnest([1, 5, 10, 20]) AS pct),
        |g AS (SELECT pct, max(n * pct // 100) AS k,
        |    CAST(sum(v) AS BIGINT) AS top_cents
        |  FROM r, lv WHERE rk > n - n * pct // 100 GROUP BY pct)
        |SELECT pct, CAST(k AS BIGINT) AS n_top, top_cents, t.total,
        |  CAST((1000000 * CAST(top_cents AS HUGEINT)) // t.total AS BIGINT)
        |    AS share_ppm
        |FROM g, t ORDER BY pct""".stripMargin,

    // exact p1/p99 via the single-reducer rank window; clip + rollup
    "q_winsorized" ->
      """WITH v AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    l_orderkey * 10 + l_linenumber AS rid FROM lineitem),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, rid) AS rk,
        |             count(*) OVER () AS n FROM v),
        |thr AS (SELECT
        |    min(CASE WHEN rk = (n - 1) // 100 + 1 THEN cents END) AS lo,
        |    max(CASE WHEN rk = (99 * (n - 1)) // 100 + 1 THEN cents END) AS hi
        |  FROM r)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST(sum(cents) AS BIGINT) AS sum_raw,
        |  CAST(sum(greatest(least(cents, hi), lo)) AS BIGINT) AS sum_winsorized
        |FROM v, thr GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // CUSUM as cumsum minus running-min (0-floored for the empty
    // prefix); window sums HUGEINT->BIGINT per house rules
    "q_cusum_drift" ->
      """WITH d AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*) AS n_days, CAST(sum(cents) AS BIGINT) AS total
        |       FROM d),
        |s AS (SELECT day, cents, total // n_days AS mu,
        |    CAST(sum(cents - total // n_days - (total // n_days) // 100)
        |      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_cum
        |  FROM d, st),
        |m AS (SELECT *, least(CAST(min(s_cum)
        |      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT), 0)
        |    AS s_min FROM s)
        |SELECT day, cents, s_cum, s_cum - s_min AS cusum,
        |  s_cum - s_min >= mu // 10 AS alarm
        |FROM m ORDER BY day""".stripMargin,

    // twin-rank median + discrete p90 on the partitioned window; integer
    // cents, HUGEINT sums cast back to BIGINT before the double division
    "q_group_median" ->
      """WITH v AS (
        |  SELECT c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    c_custkey
        |  FROM customer),
        |r AS (
        |  SELECT c_nationkey, cents,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents, c_custkey) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n FROM v),
        |m AS (
        |  SELECT c_nationkey, n,
        |    sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END) +
        |    sum(CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0 END) AS medx2,
        |    max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents
        |  FROM r GROUP BY 1, 2)
        |SELECT c_nationkey, CAST(n AS BIGINT) AS n,
        |  round(CAST(CAST(medx2 AS BIGINT) AS DOUBLE) / 200, 6) AS median,
        |  p90_cents
        |FROM m ORDER BY c_nationkey""".stripMargin,

    "q_describe_stats" ->
      """WITH agged AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sumsq
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, total / n AS mean, mn, mx,
        |  round(sqrt((sumsq - total * total / n) / (n - 1)), 6) AS stddev
        |FROM agged ORDER BY l_returnflag""".stripMargin,

    "q_subsidiary" ->
      """WITH ranked AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    row_number() OVER w AS rn,
        |    first_value(c_custkey) OVER w AS parent_id,
        |    first_value(c_acctbal) OVER w AS parent_metric
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC))
        |SELECT c_custkey, c_nationkey, c_acctbal, parent_id, parent_metric,
        |  rn = 1 AS is_parent,
        |  (rn > 1 AND parent_metric IS NOT NULL AND abs(parent_metric) > 0
        |   AND abs(c_acctbal - parent_metric) <= 0.01 * abs(parent_metric)) AS is_subsidiary
        |FROM ranked ORDER BY c_custkey""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT s_suppkey, c_custkey, s_name, c_name,
        |  CAST(levenshtein(lower(s_name), lower(c_name)) AS INTEGER) AS dist
        |FROM supplier JOIN customer ON right(s_name, 4) = right(c_name, 4)
        |WHERE levenshtein(lower(s_name), lower(c_name)) <= 6
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "q_star_join" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_asof_fallback" ->
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    (o_totalprice >= 50000 AND o_orderdate <= TIMESTAMP '1998-12-31 00:00:00') AS was_usable,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY
        |      CASE WHEN (o_totalprice >= 50000 AND o_orderdate <= TIMESTAMP '1998-12-31 00:00:00') THEN 0 ELSE 1 END ASC,
        |      o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey AS entity_id, o_orderkey AS asof_orderkey,
        |  o_totalprice AS asof_totalprice, was_usable
        |FROM flagged WHERE rn = 1 ORDER BY entity_id""".stripMargin,

    "q_cond_counters" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_total,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_fulfilled,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
        |  COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_high_value
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_hhi" ->
      """WITH agged AS (
        |  SELECT o_custkey AS entity_id,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS b0,
        |    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS b1,
        |    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS b2,
        |    CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS b3,
        |    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS b4
        |  FROM orders GROUP BY o_custkey)
        |SELECT entity_id, total,
        |  CASE WHEN total IS NULL OR total <= 0 THEN NULL ELSE
        |    (COALESCE(b0,0)/total)*(COALESCE(b0,0)/total) +
        |    (COALESCE(b1,0)/total)*(COALESCE(b1,0)/total) +
        |    (COALESCE(b2,0)/total)*(COALESCE(b2,0)/total) +
        |    (COALESCE(b3,0)/total)*(COALESCE(b3,0)/total) +
        |    (COALESCE(b4,0)/total)*(COALESCE(b4,0)/total) END AS hhi
        |FROM agged ORDER BY entity_id""".stripMargin,

    "q_vote" ->
      """WITH wv AS (
        |  SELECT l_orderkey, l_extendedprice,
        |    max(l_extendedprice) OVER (PARTITION BY l_orderkey) AS best
        |  FROM lineitem)
        |SELECT l_orderkey, COUNT(*) AS n_items,
        |  COUNT(CASE WHEN abs(l_extendedprice - best) <= greatest(1.0, 0.02 * best) THEN 1 END) AS n_close,
        |  COUNT(CASE WHEN abs(l_extendedprice - best) <= greatest(1.0, 0.02 * best) THEN 1 END) >= 2 AS high_confidence
        |FROM wv GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_rollup_counts" ->
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        |  COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,

    "q_grouping_sets" ->
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        |  COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name))
        |ORDER BY region, nation""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
        |  CAST(GROUPING(r_name, n_name) AS INTEGER) AS gid,
        |  COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)
        |ORDER BY gid, region, nation""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,

    "q_multiset_ops" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 45),
        |b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT 'except_all' AS op, l_suppkey
        |FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
        |UNION ALL
        |SELECT 'intersect_all' AS op, l_suppkey
        |FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
        |ORDER BY op, l_suppkey""".stripMargin,

    "q_priority_sort" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
        |    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS prio_rank
        |FROM orders GROUP BY o_orderpriority ORDER BY prio_rank""".stripMargin,

    "q_topk_search" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE lower(c_name) LIKE '%12%'
        |ORDER BY c_custkey LIMIT 8""".stripMargin,

    // the window formulation IS the oracle for the bounded-heap aggregate
    "q_topk_agg" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer)
        |SELECT c_mktsegment, CAST(rn AS INTEGER) AS rank,
        |  c_custkey AS entity_id, c_acctbal AS acctbal
        |FROM ranked WHERE rn <= 3
        |ORDER BY c_mktsegment, rank""".stripMargin,

    // exact-regime truth for the Misra-Gries summary: capacity exceeds
    // the distinct-brand space, so the summary IS the group-by counts
    "q_heavy_hitters" ->
      """WITH c AS (
        |  SELECT p_type, p_brand, count(*) AS cnt FROM part GROUP BY 1, 2),
        |r AS (
        |  SELECT p_type, p_brand, cnt,
        |    row_number() OVER (PARTITION BY p_type
        |      ORDER BY cnt DESC, p_brand ASC) AS rn
        |  FROM c)
        |SELECT p_type, CAST(rn AS INTEGER) AS rank, p_brand,
        |  CAST(cnt AS BIGINT) AS count_est
        |FROM r ORDER BY p_type, rank""".stripMargin,

    "q_argmax" ->
      """WITH ranked AS (
        |  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
        |    row_number() OVER (PARTITION BY s_nationkey
        |                       ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
        |  FROM supplier)
        |SELECT s_nationkey, s_suppkey, s_name, s_acctbal FROM ranked
        |WHERE rn = 1 ORDER BY s_nationkey""".stripMargin,

    "q_union_years" ->
      """WITH unioned AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority, 'y1996' AS source
        |  FROM orders WHERE year(o_orderdate) = 1996
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority, 'y1997' AS source
        |  FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT source, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(o_orderpriority) AS n_with_priority
        |FROM unioned GROUP BY source ORDER BY source""".stripMargin,

    "q_flag_compound" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN upper(trim(o_orderstatus)) IN ('O','P') THEN 1.0 ELSE 0.0 END AS DOUBLE) AS flag_active,
        |  (upper(trim(o_orderstatus)) IN ('O','P')
        |   AND o_totalprice > 100000
        |   AND o_orderpriority IN ('1-URGENT','2-HIGH')) AS is_high_risk
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_null_footprint" ->
      """WITH last_orders AS (
        |  SELECT o_custkey, CAST(max(year(o_orderdate)) AS INTEGER) AS last_order_year
        |  FROM orders GROUP BY o_custkey),
        |bounds AS (SELECT CAST(max(year(o_orderdate)) AS INTEGER) AS maxy FROM orders)
        |SELECT c_custkey, last_order_year,
        |  (last_order_year IS NULL OR last_order_year <= maxy - 2) AS likely_closed
        |FROM customer
        |LEFT JOIN last_orders ON c_custkey = o_custkey
        |CROSS JOIN bounds
        |ORDER BY c_custkey""".stripMargin,

    "q_normalize_keys" ->
      """SELECT c_custkey,
        |  regexp_replace(regexp_extract(c_name, '([0-9]+)', 1), '^0+', '') AS id_clean,
        |  trim(regexp_replace(regexp_replace(lower(c_name), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g')) AS name_norm,
        |  concat_ws('|',
        |    trim(regexp_replace(regexp_replace(lower(c_name), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g')),
        |    c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS composite_key,
        |  regexp_replace(regexp_extract(c_name, '([0-9]+)', 1), '^0+', '') = CAST(c_custkey AS VARCHAR) AS id_matches_key
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_classify" ->
      """SELECT
        |  CASE WHEN regexp_matches(c_name, '(0|5)$') THEN 'round_id'
        |       WHEN c_mktsegment IN ('AUTOMOBILE','MACHINERY') THEN 'industrial'
        |       WHEN c_mktsegment = 'BUILDING' THEN 'construction'
        |       ELSE 'consumer' END AS detected_type,
        |  CASE WHEN c_acctbal >= 8000 THEN 'CRITICAL'
        |       WHEN c_acctbal >= 5000 THEN 'HIGH'
        |       WHEN c_acctbal >= 2000 THEN 'MEDIUM'
        |       ELSE 'LOW' END AS priority,
        |  COUNT(*) AS n
        |FROM customer GROUP BY 1, 2 ORDER BY detected_type, priority""".stripMargin,

    "q_ratio_arithmetic" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
        |  FROM orders GROUP BY o_custkey),
        |base AS (
        |  SELECT c_custkey, c_acctbal, total_rev,
        |    CASE WHEN total_rev IS NULL OR total_rev = 0 THEN NULL
        |         ELSE c_acctbal / total_rev END AS bal_ratio
        |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey)
        |SELECT c_custkey,
        |  CASE WHEN total_rev IS NULL OR total_rev = 0 THEN NULL
        |       ELSE (c_acctbal * 365) / total_rev END AS days_cover,
        |  CASE WHEN bal_ratio IS NULL THEN NULL
        |       ELSE least(1.0, bal_ratio / 0.10) END AS bal_ratio_capped
        |FROM base ORDER BY c_custkey""".stripMargin,

    "q_merge_changelog" ->
      """WITH master AS (SELECT c_custkey AS key, c_acctbal AS value FROM customer),
        |updates AS (
        |  SELECT o_custkey AS key,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 100 AS value
        |  FROM orders GROUP BY o_custkey),
        |merged AS (
        |  SELECT m.key, m.value AS old_value, u.value AS new_value,
        |    (u.value IS NOT NULL AND (m.value IS NULL OR u.value > m.value)) AS take_new
        |  FROM master m LEFT JOIN updates u ON m.key = u.key)
        |SELECT key, old_value, new_value,
        |  CASE WHEN take_new THEN new_value ELSE old_value END AS value,
        |  CASE WHEN take_new THEN 'updated' ELSE 'kept' END AS action
        |FROM merged ORDER BY key""".stripMargin,
  )
}
