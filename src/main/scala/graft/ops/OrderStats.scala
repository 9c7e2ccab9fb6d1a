package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed order statistics — global rank by VALUE order
  * without a global sort.
  *
  * The naive formulation, `row_number() OVER (ORDER BY v)`, is the
  * classic scale cliff: an empty PARTITION BY funnels the entire table
  * through ONE reducer. [[valueRanked]] is the value-ordered sibling of
  * [[Sampling.rankedBy]]'s two-level rank: the leading key must follow
  * the VALUE order (a hash bucket would scramble it), so level one is a
  * fixed integer GRID over the value range —
  *
  *   1. cell = (v − min) · cells / (max − min + 1) — order-preserving
  *      integer arithmetic, so `(cell, v, id)` sorts exactly like
  *      `(v, id)`; row_number within each cell is a `cells`-way parallel
  *      window;
  *   2. + the total count of all lower cells — a ≤`cells`-row aggregate,
  *      cumsum'd on that tiny frame (the only partition-less window, on
  *      ≤`cells` rows by construction) and broadcast back.
  *
  * The result is bit-identical to `row_number() OVER (ORDER BY v, id)`
  * (law-tested in OrderStatsSpec; the DuckDB oracle for
  * `q_equidepth_hist` IS that window). min/max come from one 1-row
  * aggregate — an audited bounded collect, same class as the IVF
  * centroid seeds.
  *
  * Skew: equal-width cells concentrate heavy TIES of one value into one
  * cell (rank windows cannot be salted — rank order inside a tie run is
  * the tiebreak id's). `cells` (default 4096) bounds how bad the
  * concentration is relative to the value spread; a production pipeline
  * over pathological tie distributions sizes `cells` so the hottest
  * value's run fits a reducer, which is the same envelope any engine's
  * order-statistics pass lives in.
  *
  * This primitive upgrades the `percentile(...)` built-in the describe
  * suite uses (exact but per-group value-buffering) to corpus-scale
  * EXACT quantiles: rank arithmetic replaces value buffering entirely.
  */
object OrderStats {

  /** Grid cells for the two-level value rank (= the parallelism of the
    * per-cell sort). */
  val GridCells = 4096

  /** Adds `val_rank` = exact 1-based rank of (`value`, `id`) under
    * ascending order. `value` and `id` must be non-null integral columns;
    * the value RANGE times `cells` must fit in a signed 64-bit (true for
    * any monetary/cents or token-count domain; require()d here). */
  def valueRanked(df: DataFrame, value: String, id: String,
                  cells: Int = GridCells): DataFrame =
    valueRankedBy(df, Nil, value, id, cells)

  /** Per-stratum exact value rank: `val_rank` restarts at 1 within each
    * combination of `strata`. The grid is shared across strata (lo/hi are
    * global — one 1-row aggregate regardless of group count), but every
    * window and offset is keyed by (strata, cell), so a hot stratum still
    * spreads over `cells` reducers. Bit-identical to `row_number() OVER
    * (PARTITION BY strata ORDER BY v, id)` (OrderStatsSpec law). */
  def valueRankedBy(df: DataFrame, strata: Seq[String], value: String,
                    id: String, cells: Int = GridCells): DataFrame =
    rankedWithOffsets(df, strata, value, id, cells)._1

  /** The rank plus the per-(strata, cell) count frame it was built from —
    * the tiny frame doubles as a pre-aggregated total/size source, so
    * consumers that need N (quantile positions, histogram buckets) read
    * it instead of paying another full-data pass. */
  private[graft] def rankedWithOffsets(
      df: DataFrame, strata: Seq[String], value: String,
      id: String, cells: Int = GridCells): (DataFrame, DataFrame) = {
    // NOTE: the primitive reads `df` three times (the min/max grid probe
    // is a driver action, then the cell-count aggregation and the rank
    // window each scan it). Callers whose input is EXPENSIVE to
    // re-derive (a hashed sample, a join+aggregate rollup) should hand
    // in a persisted frame; a blanket persist here measured SLOWER for
    // the common case of a cheap projection over an already-cached scan.
    val Row2 = df.agg(min(col(value).cast("long")).as("lo"),
      max(col(value).cast("long")).as("hi")).head()
    if (Row2.isNullAt(0)) {
      // Schema-correct empty offsets frame — the same groupBy shape over
      // zero rows — so consumers (equiDepthHistogram's agg, lenDeciles'
      // groupBy) resolve their columns instead of hitting the zero-column
      // emptyDataFrame.
      val offsets0 = df.limit(0)
        .withColumn("__cell", lit(0))
        .groupBy((strata :+ "__cell").map(col): _*)
        .agg(count(lit(1)).as("__cell_n"))
        .withColumn("__offset", lit(0L))
      return (df.withColumn("val_rank", lit(null).cast("long")), offsets0)
    }
    val (lo, hi) = (Row2.getLong(0), Row2.getLong(1))
    val span = hi - lo + 1
    require(span > 0 && span <= Long.MaxValue / cells,
      s"value range [$lo,$hi] x $cells cells overflows the grid arithmetic")
    // `div`, not `/`: Column./ is DOUBLE division, and doubles misbucket
    // once (v - lo) * cells crosses 2^53
    val withCell = df.withColumn("__cell",
      expr(s"CAST(((`$value` - ${lo}L) * ${cells}L) div ${span}L AS INT)"))
    val keys = strata :+ "__cell"
    val localW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(value), col(id))
    val offsetW = Window.partitionBy(strata.map(col): _*)
      .orderBy(col("__cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withCell
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cell_n"))
      .withColumn("__offset",
        coalesce(sum(col("__cell_n")).over(offsetW), lit(0L)))
    val ranked = withCell
      .withColumn("__local", row_number().over(localW).cast("long"))
      .join(broadcast(offsets.drop("__cell_n")), keys)
      .withColumn("val_rank", col("__offset") + col("__local"))
      .drop("__cell", "__local", "__offset")
    (ranked, offsets)
  }

  /** The exact (value, id) ELEMENTS at requested rank positions — the
    * quantile/boundary lookup that does NOT rank every row.
    *
    * Most rank consumers never needed per-row ranks: a winsorize wants
    * the p1/p99 elements, a quintile label wants 4 boundary elements, an
    * equi-depth histogram wants `buckets−1` boundary elements — and
    * because `val_rank` is the position in the strict total order of
    * (value, id), `rank(row) > b` ⟺ `(value, id) >lex element(b)`.
    * So the full-data row_number window (a sort+shuffle of EVERY row,
    * the expensive half of [[valueRankedBy]]) is replaced by:
    *
    *   1. the same one-pass per-(strata, cell) count aggregation
    *      (map-side combined, ≤`cells` rows per stratum survive);
    *   2. target-rank → cell resolution on that TINY frame (cumsum +
    *      range match, broadcast);
    *   3. a row_number window over ONLY the rows of the ≤|targets|
    *      matched cells — a 1/`cells` fraction of the data — to pick the
    *      exact elements.
    *
    * At 100 TB this is the difference between shuffling the corpus into
    * a rank order and shuffling ~N/4096 rows: the boundary elements come
    * from two map-side-combined passes, and per-row labels (quintile,
    * bucket) become a broadcast COMPARE — a pure projection, no exchange
    * of the labeled frame at all. Results are bit-identical to the
    * rank-formula-over-[[valueRankedBy]] formulation (OrderStatsSpec
    * law).
    *
    * `formulas` are (tag, SQL-over-`n`) pairs evaluated per stratum
    * (`n` = stratum row count), e.g. `("p99", "(99 * (n - 1)) div 100 +
    * 1")`. Out-of-range targets (rank < 1 or > n) are dropped — callers
    * that can produce them handle absence on their side. Returns
    * (strata..., tag, rank_target, `value`, `id`, n).
    *
    * Contract: `value` and `id` are non-null; a stratum whose values are
    * all null yields no rows. `knownSize` is an honest upper bound on
    * df's rows, used ONLY to gate round planning (AQE off below reducer
    * scale, [[Rounds.scopedForSize]], same policy as the iterative ops).
    *
    * Grid: PER-STRATUM (unlike valueRankedBy's shared grid), because
    * strata may carry wildly different value ranges (RFM stacks
    * recency-days next to revenue-cents) and a shared grid would collapse
    * a narrow-range stratum into one cell. The per-stratum (lo, step)
    * parameters stay IN THE PLAN as a broadcast-joined ≤|strata|-row
    * frame, so the whole lookup — grid probe, cell counts, locate,
    * matched-cell rank — runs under ONE bounded driver action (the
    * element collect). Cell geometry is step division, cell = (v − lo)
    * div step with step = ceil(span/cells): monotone non-decreasing in v,
    * the only property the rank arithmetic relies on, and free of any
    * span·cells product that could overflow; span ≥ 0 is asserted in-plan
    * on the tiny frame (DECIMAL interior, no long wrap for any lo/hi).
    *
    * The result is a LITERAL LocalRelation: the ≤|strata|·|formulas|
    * boundary rows are pulled through one audited bounded collect (the
    * IVF-seed class — cardinality is fixed by the call, never by data).
    * Deliberate, for plan hygiene: consumers embed the boundary frame in
    * broadcasts and chained stages (RFM chains three), and a lineage-
    * bearing tiny frame multiplies the upstream subtree per reference —
    * the literal frame keeps chained plans LINEAR and makes the label
    * projection a constant-time compare. */
  def rankElements(df: DataFrame, strata: Seq[String], value: String,
                   id: String, formulas: Seq[(String, String)],
                   knownSize: Long,
                   cells: Int = GridCells): DataFrame =
    Rounds.scopedForSize(df.sparkSession, knownSize) {
      val mm = df.groupBy(strata.map(col): _*)
        .agg(min(col(value).cast("long")).as("__lo"),
          max(col(value).cast("long")).as("__hi"))
        .filter(col("__lo").isNotNull)
        // ceil(span/cells) = (hi − lo + cells) div cells, DECIMAL-widened
        // on this ≤|strata|-row frame; assert_true fails an un-griddable
        // range (hi < lo is impossible from min/max — the assert
        // documents and enforces it)
        .withColumn("__step", when(
          assert_true(col("__hi") >= col("__lo")).isNull,
          expr(s"CAST((CAST(__hi AS DECIMAL(38,0)) - __lo + $cells) div $cells AS BIGINT)")))
        .withColumn("__step", greatest(col("__step"), lit(1L)))
      val mmj = mm.select(
        strata.map(c => col(c).as(s"__mm_$c")) ++
          Seq(col("__lo"), col("__step")): _*)
      // an all-null stratum has no grid row, so its rows drop here
      val joined =
        if (strata.isEmpty) df.crossJoin(broadcast(mmj))
        else df.join(broadcast(mmj),
          strata.map(c => col(c) <=> col(s"__mm_$c")).reduce(_ && _))
      val withCell = joined
        .withColumn("__cell",
          expr(s"CAST(((`$value` - __lo) div __step) AS INT)"))
        .drop(strata.map(c => s"__mm_$c") ++ Seq("__lo", "__step"): _*)
      boundaryLookup(withCell, strata, value, id, formulas)
    }

  /** Interior of [[rankElements]]: cell counts → target location →
    * matched-cell rank → bounded element collect.
    * `withCell` must carry the original `df` columns plus a monotone
    * `__cell` grid column. */
  private def boundaryLookup(
      withCell: DataFrame, strata: Seq[String], value: String,
      id: String, formulas: Seq[(String, String)]): DataFrame = {
    val keys = strata :+ "__cell"
    val offsetW = Window.partitionBy(strata.map(col): _*)
      .orderBy(col("__cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // stratum size n rides the SAME tiny window exchange as the cumsum
    // (unbounded frame over the identical partitioning) — no extra
    // aggregation stage for sizes
    val sizeW = Window.partitionBy(strata.map(col): _*)
      .orderBy(col("__cell"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = withCell
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cell_n"))
      .withColumn("__offset",
        coalesce(sum(col("__cell_n")).over(offsetW), lit(0L)))
      .withColumn("n", sum(col("__cell_n")).over(sizeW))
    val tstructs = array(formulas.map { case (tag, f) =>
      struct(lit(tag).as("tag"), expr(f).cast("long").as("rank_target"))
    }: _*)
    // one row per stratum WITHOUT a distinct/aggregate: the first
    // non-empty cell of each stratum is exactly the offset-0 row
    val targets = offsets.filter(col("__offset") === 0L)
      .select(strata.map(col) ++
        Seq(col("n"), explode(tstructs).as("__t")): _*)
      .select(strata.map(col) ++ Seq(col("n"), col("__t.tag").as("tag"),
        col("__t.rank_target").as("rank_target")): _*)
      .filter(col("rank_target") >= 1L && col("rank_target") <= col("n"))
      // disambiguate before the tiny locate join
      .select(strata.map(c => col(c).as(s"__t_$c")) ++
        Seq(col("n"), col("tag"), col("rank_target")): _*)
    // locate each target's cell on the ≤cells-row offsets frame
    val located = targets.join(broadcast(offsets.drop("n")),
      strata.map(c => col(s"__t_$c") === offsets(c)).foldLeft(
        col("rank_target") > offsets("__offset") &&
          col("rank_target") <= offsets("__offset") + offsets("__cell_n"))(
        _ && _))
      .select(strata.map(c => col(s"__t_$c").as(c)) ++
        Seq(col("tag"), col("rank_target"), col("n"), col("__cell"),
          col("__offset")): _*)
    // only the matched cells' rows get ranked — ≤|targets| cells total
    // (semi-join tolerates duplicate build keys: no distinct stage)
    val filtered = withCell.join(
      broadcast(located.select(keys.map(col): _*)), keys, "left_semi")
    val localW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(value), col(id))
    val hits = located.select(
      strata.map(c => col(c).as(s"__l_$c")) ++
        Seq(col("__cell").as("__l_cell"), col("tag"), col("rank_target"),
          col("n"), col("__offset")): _*)
    val out = filtered
      .withColumn("__local", row_number().over(localW).cast("long"))
      .join(broadcast(hits),
        strata.map(c => col(c) === col(s"__l_$c")).foldLeft(
          col("__cell") === col("__l_cell") &&
            col("__local") === col("rank_target") - col("__offset"))(_ && _))
      .select(strata.map(col) ++ Seq(col("tag"), col("rank_target"),
        col(value), col(id), col("n")): _*)
    // BOUNDED collect (≤ |strata|·|formulas| element rows, the IVF-seed
    // audit class): the returned frame is a literal LocalRelation —
    // downstream broadcasts and chained stages (RFM chains three) embed
    // constants instead of multiplying this call's plan per reference,
    // and consumer label projections join a constant-size local relation
    val outRows = out.collect()
    withCell.sparkSession.createDataFrame(
      java.util.Arrays.asList(outRows: _*), out.schema)
  }

  /** Exact equi-depth histogram: rows land in `buckets` rank bands of
    * near-equal size (sizes differ by at most 1), each band reported with
    * its count and value envelope. `bucket = ((rank−1)·buckets) div N` —
    * pure integer arithmetic on the exact rank, so boundaries are
    * reproducible to the row (the histogram an optimizer's statistics
    * pass or a corpus length-distribution report needs, with none of the
    * tie drift a quantile-boundary formulation has). */
  def equiDepthHistogram(df: DataFrame, value: String, id: String,
                         knownSize: Long,
                         buckets: Int = 10,
                         cells: Int = GridCells): DataFrame = {
    // boundary-element formulation: bucket(r) = ((r−1)·buckets) div N + 1
    // changes value exactly after rank b_q = ((q·N − 1) div buckets) + 1,
    // so the per-row bucket label is 1 + #{q : (v, id) >lex element(b_q)}
    // — buckets−1 boundary elements from [[rankElements]] (two map-side
    // combined passes) and a broadcast compare, instead of ranking every
    // row through the full-data sort window (bit-identical; the former
    // rank formulation is OrderStatsSpec's law oracle)
    val bounds = rankElements(df, Nil, value, id,
      (1 until buckets).map(q =>
        (s"$q", s"(($q * n - 1) div $buckets) + 1")), knownSize, cells)
      .collect() // LocalRelation — a driver-local read, not a job
    val label = (1 until buckets).map { q =>
      bounds.find(_.getAs[String]("tag") == s"$q") match {
        case Some(r) =>
          when(col(value) > lit(r.getAs[Any](value)) ||
            (col(value) === lit(r.getAs[Any](value)) &&
              col(id) > lit(r.getAs[Any](id))), 1).otherwise(0)
        case None => lit(0) // empty input
      }
    }.foldLeft(lit(1))(_ + _)
    df.withColumn("bucket", label.cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col(value)).as("lo"),
        max(col(value)).as("hi"),
        // DECIMAL interior: a 64-bit sum of per-row longs overflows near
        // 1e12 rows x 1e7 cents; DECIMAL(38,0) partials stay exact and
        // match DuckDB's HUGEINT promotion
        sum(col(value).cast("decimal(38,0)")).as("total"))
  }
}
