package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sampling

/** Training-data sampling and batching: deterministic corpus shuffle
  * order, balanced stratified downsampling (data mixing), and the
  * sequence-packing plan. All assignments are md5-derived functions of
  * the data — stable under reruns, cluster layouts, and corpus growth —
  * and every query avoids the single-reducer global-window cliff via the
  * two-level rank in [[graft.ops.Sampling]]. */
object SamplingQueries extends QueryGroup {

  /** The SQL spelling of [[Sampling.rankedBy]]'s canonical order for one
    * document: (16-bit md5 bucket, full md5 hex, doc_id). */
  private def rankOrderSql: String =
    "(CAST(('0x' || substr(md5('rank_' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) " +
      s"% ${Sampling.RankBuckets}), md5('rank_' || CAST(doc_id AS VARCHAR)), doc_id"

  /** Deterministic training shuffle order over the corpus: the position
    * every doc gets when the corpus is shuffled for an epoch. Two-level
    * rank (bucket-local row_number + broadcast bucket offsets) — never a
    * partition-less window. */
  private def shuffleOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.rankedBy(Tables.documents(s, dir), Seq.empty, "doc_id")
      .select(col("doc_id"), col("samp_rank").as("pos"))
      .orderBy("doc_id")

  /** Balanced language mixture: every lang downsampled to the smallest
    * lang's size by pseudo-random rank — the data-mixing step that stops
    * a dominant language from swamping training batches. */
  private def stratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(Tables.documents(s, dir), Seq("lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("samp_rank"), col("keep"))
      .orderBy("doc_id")

  /** Sequence-packing plan: 128-token training sequences over 8 shards;
    * one row per (doc, sequence) with the doc-relative token span. */
  private def pack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))))
      .select("doc_id", "n_tokens")
    Sampling.packPlan(docs, budget = 128, nShards = 8)
      .orderBy("shard", "seq_id", "doc_id")
  }

  /** Target-mixture plan: given the training mixture (en 1/2, every
    * other lang 1/8 — dyadic on purpose: every product below is exact in
    * doubles), compute the LARGEST corpus achievable without upsampling
    * that matches it, and each language's quota + keep probability.
    * M = min over langs of n_l / t_l; quota_l = floor(t_l · M). Two tiny
    * aggregates (per-lang counts, 1-row min) — the plan costs one scan
    * regardless of corpus size, and the quotas feed the same rank-based
    * apply as the stratified sample. */
  /** Span-corruption mask plan (the T5 pretraining objective, Raffel et
    * al. 2020 §3.1.4): ~15% of each document's tokens masked in
    * mean-length-3 spans, each span replaced by a sentinel. Spans are
    * chosen NON-OVERLAPPING BY CONSTRUCTION: tokens partition into
    * 20-token blocks, and each block with >= 4 tokens masks one 3-token
    * span at an md5-derived offset (3/20 = the 15% target on full
    * blocks) — deterministic, so the realized mask hash-gates and a
    * re-run reproduces the exact training batch. One row per span with the doc-absolute
    * token range, the per-doc sentinel index, and the masked text.
    *
    * Shape at scale: pure projection + one bounded in-row transform
    * (nblocks = ceil(n/20) elements) + explode; no joins, no windows —
    * the q_text_chunks envelope. */
  private def spanMask(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), col("words"), expr(
        """explode(filter(transform(sequence(0, (size(words) - 1) div 20), b ->
          |  CASE WHEN least(size(words) - b * 20, 20) >= 4 THEN
          |    named_struct(
          |      'block_id', b,
          |      'off', 1 + CAST(conv(substring(md5(concat('mask_',
          |          CAST(doc_id AS STRING), '_', CAST(b AS STRING))), 1, 8),
          |          16, 10) AS BIGINT)
          |        % (least(size(words) - b * 20, 20) - 2))
          |  END), x -> x IS NOT NULL))""".stripMargin).as("m"))
      .select(col("doc_id"),
        col("m.block_id").cast("int").as("block_id"),
        (col("m.block_id") * 20 + col("m.off")).as("span_start"),
        lit(3).as("span_len"),
        col("m.block_id").cast("int").as("sentinel_id"),
        concat_ws(" ",
          expr("slice(words, CAST(m.block_id * 20 + m.off AS INT), 3)"))
          .as("masked_text"))
      .orderBy("doc_id", "block_id")

  /** Fill-in-the-middle (FIM) transformation plan — the code-model
    * pretraining transform (Bavarian et al. 2022) next to
    * `q_span_mask`'s T5 span corruption: per document, a deterministic
    * (prefix, middle, suffix) token split and the PSM-vs-SPM layout
    * choice, every choice an md5 function of the doc id (the
    * `q_span_mask` determinism idiom — no RNG, so the realized plan
    * hash-gates and replays identically on any cluster layout). Middle
    * length 1..n div 3, prefix length 0..n−m (empty prefix/suffix are
    * legal FIM layouts); train_len = n + 3 sentinel tokens
    * (⟨PRE⟩/⟨MID⟩/⟨SUF⟩). `middle_head` pins the split to CONTENT, not
    * just lengths. Pure projection — the plan rides the scan; document
    * reassembly is the downstream writer's concern, exactly like the
    * span mask. */
  private def fimPlan(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(trim(col("text")), "\\s+"))
      .withColumn("n", size(col("words")).cast("long"))
      .filter(col("n") >= 6)
      .withColumn("m", expr(
        """1 + CAST(conv(substring(md5(concat('fim_m_',
          |  CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)
          |  % (n div 3)""".stripMargin))
      .withColumn("p", expr(
        """CAST(conv(substring(md5(concat('fim_p_',
          |  CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)
          |  % (n - m + 1)""".stripMargin))
      .withColumn("mode", expr(
        """CASE WHEN CAST(conv(substring(md5(concat('fim_o_',
          |  CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0
          |THEN 'psm' ELSE 'spm' END""".stripMargin))
      .select(col("doc_id"), col("n").as("n_tokens"), col("mode"),
        col("p").as("n_prefix"), col("m").as("n_middle"),
        (col("n") - col("p") - col("m")).as("n_suffix"),
        (col("n") + 3).as("train_len"),
        expr("element_at(words, CAST(p + 1 AS INT))").as("middle_head"))
      .orderBy("doc_id")

  /** Temperature-scaled language sampling (the mT5/XLM-R recipe: sample
    * language l with probability ∝ n_l^α) at α = 1/2 — the one
    * temperature where the power is EXACTLY computable in integers:
    * w_l = isqrt(n_l), with the double-sqrt candidate corrected by the
    * integer envelope test s² ≤ n < (s+1)² so no libm rounding can leak
    * into the weights (floor(sqrt(x::DOUBLE)) alone is off by one near
    * perfect squares above 2^52). Shares and quotas are ppm-scaled
    * integer divisions; only the reported sample_rate (which exceeds 1
    * for upsampled tail languages — the point of the recipe) is a
    * rounded double. Count products widen DECIMAL(38,0)-first: n_docs
    * and the sqrt-weight sum are unbounded corpus counts. One
    * |langs|-row frame end to end after the single count aggregation. */
  private def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val w = c
      .withColumn("cand",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        """CASE WHEN CAST(cand + 1 AS DECIMAL(38,0)) * (cand + 1) <= n_docs
          |     THEN cand + 1
          |     WHEN CAST(cand AS DECIMAL(38,0)) * cand > n_docs THEN cand - 1
          |     ELSE cand END""".stripMargin))
      .drop("cand")
    val tot = w.agg(sum(col("w")).as("w_tot"), sum(col("n_docs")).as("n_tot"))
    w.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("w").as("w_sqrt"),
        expr("(CAST(n_docs AS DECIMAL(38,0)) * 1000000) div n_tot")
          .as("raw_share_ppm"),
        expr("(CAST(w AS DECIMAL(38,0)) * 1000000) div w_tot")
          .as("temp_share_ppm"),
        expr("(CAST(n_tot div 2 AS DECIMAL(38,0)) * w) div w_tot")
          .as("quota"))
      .withColumn("sample_rate",
        round(col("quota").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("lang")
  }

  private def mixWeights(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    // 1/t_l as an exact integer (en: 2, others: 8) so max_total is integral
    val shareInv = when(col("lang") === "en", lit(2L)).otherwise(lit(8L))
    val withCeil = counts.withColumn("max_total", col("n_docs") * shareInv)
    val m = withCeil.agg(min(col("max_total")).as("m"))
    withCeil.crossJoin(broadcast(m))
      .withColumn("target_share",
        when(col("lang") === "en", lit(0.5d)).otherwise(lit(0.125d)))
      .withColumn("quota",
        floor(col("m").cast("double") * col("target_share")).cast("long"))
      .withColumn("keep_prob",
        col("quota").cast("double") / col("n_docs").cast("double"))
      .select("lang", "n_docs", "target_share", "quota", "keep_prob")
      .orderBy("lang")
  }

  /** Epoch-based mixture UPSAMPLING — the apply-side complement of
    * [[mixWeights]] when the target mixture needs repeats rather than
    * cuts. With the same dyadic target shares and a total budget of
    * 2 x |corpus|, each language's target count c_l = budget div
    * shareInv_l is met by e_l = c_l div n_l FULL epochs over the
    * language plus one extra appearance for the rem_l = c_l - e_l*n_l
    * first-ranked docs — how temperature-style mixtures are realized in
    * practice: full passes + a deterministic partial pass, never a
    * Bernoulli draw (exact counts, reproducible batches). Output is the
    * materialized training list, one row per (doc, epoch).
    *
    * All-integer (no float shares anywhere), so quotas are exact; the
    * per-doc fan-out is a bounded explode (factor c_l/n_l); quotas ride
    * a broadcast few-row frame; the partial-pass pick reuses the
    * two-level rank. */
  private def mixUpsample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val budget = docs.agg((count(lit(1)) * lit(2L)).as("budget"))
    val quotas = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(budget))
      .withColumn("share_inv",
        when(col("lang") === "en", lit(2L)).otherwise(lit(8L)))
      .withColumn("c_target", expr("budget div share_inv"))
      .withColumn("epochs", expr("c_target div n_docs"))
      .withColumn("rem", col("c_target") - col("epochs") * col("n_docs"))
      .select("lang", "epochs", "rem")
    Sampling.rankedBy(docs.select("doc_id", "lang"), Seq("lang"), "doc_id")
      .join(broadcast(quotas), "lang")
      .withColumn("reps",
        col("epochs") + when(col("samp_rank") <= col("rem"), lit(1L)).otherwise(lit(0L)))
      .filter(col("reps") > 0)
      .withColumn("epoch", explode(sequence(lit(1L), col("reps"))))
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy("lang", "doc_id", "epoch")
  }

  /** Per-source cap — the per-domain document cap every web-corpus
    * curation pipeline applies (no single domain may dominate training
    * data): keep the [[SourceCapK]] highest-quality docs of each source.
    * Implemented with the bounded-heap top-k AGGREGATE
    * ([[graft.functions.TopKAgg]]), not a per-source window sort —
    * map-side partials move at most k entries per source per partition,
    * so the cap costs one small shuffle at any corpus size, and a hot
    * source (the usual skew: one crawler domain = half the corpus) never
    * funnels through a single window reducer. Score ties break on doc_id
    * asc in both engines (the aggregate's law-tested tiebreak). */
  private val SourceCapK = 5
  private def sourceCap(s: SparkSession, dir: String): DataFrame =
    TextQueries.qualityScoredDocs(s, dir)
      .groupBy("source")
      .agg(graft.functions.TopK.topK(
        col("quality_score"), col("doc_id"), SourceCapK).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("source"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("doc_id"),
        round(col("t.value"), 6).as("quality_score"))
      .orderBy("source", "rank")

  /** Z-order layout audit: lineitem laid out on the (l_partkey,
    * l_suppkey) Morton curve into 64 Z-prefix files, reporting each
    * file's row count and (x, y) bounding box — the min/max stats a
    * reader prunes with. The oracle replays the bit interleave as a SUM
    * over a bit-index table; LayoutSpec quantifies the pruning win vs a
    * single-column sort on the same data. */
  private def zBoxes(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"layout_zbox:$dir") {
      graft.ops.Layout.layoutSummary(
        graft.ops.Layout.withZValue(
          Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey")),
          "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", filesLog2 = 6)
    }

  private def zorder(s: SparkSession, dir: String): DataFrame =
    zBoxes(s, dir).orderBy("file_id")

  /** Hilbert-curve layout ([[graft.ops.Layout.withHilbertValue]]) over
    * the same (l_partkey, l_suppkey) plane as `q_zorder` — the locality
    * curve Delta/Iceberg OPTIMIZE moved to after Z-order (no power-of-two
    * jumps, so file bounding boxes come out strictly tighter; LayoutSpec
    * measures the pruning win head to head on this data). The per-level
    * rotate/reflect walk runs as one codegen'd `aggregate` expression;
    * the oracle replays it as {bits} unrolled column-transform stages —
    * each stage referenced once, so plain CTE inlining stays linear. */
  private def hBoxes(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"layout_hbox:$dir") {
      graft.ops.Layout.hilbertSummary(
        graft.ops.Layout.withHilbertValue(
          Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey")),
          "l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", filesLog2 = 6)
    }

  private def hilbertOrder(s: SparkSession, dir: String): DataFrame =
    hBoxes(s, dir).orderBy("file_id")

  /** Zone-map data skipping audit — the payoff step the two layout
    * queries exist for: given each layout's per-file bounding boxes (the
    * min/max column stats a lakehouse reader prunes with), how many of
    * the 64 files does a rectangular probe actually have to scan? Four
    * deterministic quarter-width probes march across the (l_partkey,
    * l_suppkey) domain (x windows at offsets 0/2/4/6 of 8, y windows
    * phase-shifted by 2), and three layouts compete on the same rows:
    * `hilbert` and `zorder` reuse the session-shared box frames, and
    * `xsort` — a single-column range layout, top-6-bits of the scaled x
    * — is the strawman every 2-d probe defeats (its y range per file is
    * the whole domain, so every x-overlapping file is scanned).
    * `rows_match` (layout-independent) sits next to `rows_scanned` so
    * the report reads as scan amplification per layout.
    *
    * Scale shape: boxes are |files|-bounded (64 rows) and probes are
    * constant (4), so everything after the shared box builds is
    * broadcast-sized; the only corpus passes are the xsort box
    * aggregation and the one-pass probe-match count (a 4-way indicator
    * fan-out with map-side combine, never a per-probe rescan). */
  private def zoneSkip(s: SparkSession, dir: String): DataFrame = {
    val xy = Tables.lineitem(s, dir)
      .select(col("l_partkey").cast("long").as("x"),
        col("l_suppkey").cast("long").as("y"))
    val ext = xy.agg(min("x").as("xmin"), max("x").as("xmax"),
      min("y").as("ymin"), max("y").as("ymax"))
    val probes = ext
      .select(col("*"), explode(sequence(lit(0), lit(3))).as("p"))
      .select(col("p"),
        expr("xmin + ((2*p) * (xmax - xmin + 1)) div 8").as("x_lo"),
        expr("xmin + ((2*p + 2) * (xmax - xmin + 1)) div 8 - 1").as("x_hi"),
        expr("ymin + ((2*((p + 2) % 4)) * (ymax - ymin + 1)) div 8").as("y_lo"),
        expr("ymin + ((2*((p + 2) % 4) + 2) * (ymax - ymin + 1)) div 8 - 1").as("y_hi"))
    val xBoxes = xy.crossJoin(broadcast(ext))
      .select(col("x"), col("y"),
        expr("((x - xmin) * 65536) div (xmax - xmin + 1)").as("xb"))
      .withColumn("file_id", expr("xb >> 10"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
    val boxes = hBoxes(s, dir).select(lit("hilbert").as("layout"), col("*"))
      .unionByName(zBoxes(s, dir).select(lit("zorder").as("layout"), col("*")))
      .unionByName(xBoxes.select(lit("xsort").as("layout"), col("*")))
    val hitCond = col("x_max") >= col("x_lo") && col("x_min") <= col("x_hi") &&
      col("y_max") >= col("y_lo") && col("y_min") <= col("y_hi")
    val hit = boxes.crossJoin(broadcast(probes))
      .groupBy("layout", "p")
      .agg(count(lit(1)).as("files_total"),
        count(when(hitCond, 1)).as("files_hit"),
        sum(when(hitCond, col("n_rows")).otherwise(0L)).as("rows_scanned"))
    val matches = xy.crossJoin(broadcast(probes))
      .where(col("x") >= col("x_lo") && col("x") <= col("x_hi") &&
        col("y") >= col("y_lo") && col("y") <= col("y_hi"))
      .groupBy("p").agg(count(lit(1)).as("rows_match"))
    hit.join(broadcast(matches), Seq("p"), "left")
      .select(col("layout"), col("p").cast("int").as("probe"),
        col("files_total"), col("files_hit"), col("rows_scanned"),
        coalesce(col("rows_match"), lit(0L)).as("rows_match"))
      .orderBy("layout", "probe")
  }

  /** Curriculum training order — easy-first scheduling (Bengio et al.
    * 2009) over the quality-scored corpus: documents rank globally by
    * (quality desc, doc_id) via the two-level value rank (never a
    * partition-less window), split into exact-rank TERCILES
    * (tier 0 = easiest third — the `q_rfm_segments` quintile idiom), and
    * the schedule presents tiers in order with a deterministic md5
    * shuffle WITHIN each tier (the `q_shuffle_order` rank, partitioned
    * by tier) — so the realized epoch order hash-gates and replays
    * identically on any cluster. Ranking compares floor(score·1e9) as
    * BIGINT, tiebreak doc_id: floor is monotone and both engines floor
    * the identical IEEE double, so tie handling is exact cross-engine
    * (never compare raw float order at a tier boundary).
    *
    * Scale shape: one grid-rank pass (4096-way parallel windows + a
    * ≤cells-row cumsum), one per-tier md5 rank (same two-level shape),
    * and a 3-row offset broadcast; the scored frame persists because
    * the rank primitive reads it three times. */
  private def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.core.SharedFrames.register(
      TextQueries.qualityScoredDocs(s, dir)
        .where(col("quality_score").isNotNull)
        .select(col("doc_id"),
          (-floor(col("quality_score") * 1000000000L)).cast("long").as("neg_q")))
    val (ranked, offsets) = graft.ops.OrderStats.rankedWithOffsets(
      scored, Nil, "neg_q", "doc_id")
    val tiered = ranked
      .withColumnRenamed("val_rank", "grank")
      .crossJoin(broadcast(offsets.agg(sum("__cell_n").as("__n"))))
      .withColumn("tier", expr("CAST(((grank - 1) * 3) div __n AS INT)"))
      .drop("__n", "neg_q")
    val withinTier = Sampling.rankedBy(tiered, Seq("tier"), "doc_id")
    val tierOffsets = tiered.groupBy("tier")
      .agg(count(lit(1)).as("tn"))
      .withColumn("toff", coalesce(sum(col("tn")).over(
        org.apache.spark.sql.expressions.Window.orderBy("tier")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("tier", "toff") // 3-row frame: the only partition-less window
    withinTier.join(broadcast(tierOffsets), Seq("tier"))
      .select(col("doc_id"), col("tier"), col("grank"),
        (col("toff") + col("samp_rank")).as("pos"))
      .orderBy("pos")
  }

  /** Rendezvous (highest-random-weight) shard assignment with a reshard
    * stability report — the consistent-placement primitive for growing a
    * sharded corpus store. Each doc's shard under S shards is
    * argmax over s < S of md5(doc_id ':' s) (ties, impossible without an
    * md5 collision, break to the larger s — the struct-max order). The
    * report compares S=8 → S=9 against mod-hashing on the same docs, per
    * shard: HRW moves docs ONLY onto the new shard 9 (`hrw_moved_in` is
    * provably 0 for shards 0..7 — growing the candidate set can only
    * change an argmax to the new candidate; SamplingSpec pins it), about
    * 1/9 of the corpus, while `mod_moved_in` shows mod-hashing
    * reshuffling ~8/9 of all docs across every shard — the difference
    * between a bounded backfill and a full-corpus migration at 100 TB.
    *
    * Scale shape: pure projection (the 9-candidate argmax is in-row) +
    * one 9-way indicator fan-out with map-side combine to 9 rows; no
    * join, no window. */
  private def shardAssign(s: SparkSession, dir: String): DataFrame = {
    def hrw(n: Int) = expr(
      s"""array_max(transform(sequence(0, ${n - 1}),
         |  s -> struct(md5(concat(cast(doc_id as string), ':',
         |                         cast(s as string))) as h, s as s))).s"""
        .stripMargin)
    Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("hrw8", hrw(8))
      .withColumn("hrw9", hrw(9))
      .withColumn("mh", conv(substring(md5(col("doc_id").cast("string")), 1, 15),
        16, 10).cast("long"))
      .select(col("hrw8"), col("hrw9"),
        (col("mh") % 8).as("mod8"), (col("mh") % 9).as("mod9"),
        explode(sequence(lit(0), lit(8))).as("shard"))
      .groupBy("shard")
      .agg(count(when(col("hrw8") === col("shard"), 1)).as("n_hrw8"),
        count(when(col("hrw9") === col("shard"), 1)).as("n_hrw9"),
        count(when(col("hrw9") === col("shard") &&
          col("hrw8") =!= col("hrw9"), 1)).as("hrw_moved_in"),
        count(when(col("mod9") === col("shard") &&
          col("mod8") =!= col("mod9"), 1)).as("mod_moved_in"))
      .select(col("shard").cast("int").as("shard"), col("n_hrw8"),
        col("n_hrw9"), col("hrw_moved_in"), col("mod_moved_in"))
      .orderBy("shard")
  }

  /** Small-file compaction plan ([[graft.ops.Layout.compactionPlan]])
    * over a deterministic file inventory derived from the part table:
    * heavy-tailed sizes (70% small, 20% mid, 10% already-compact) in
    * 25 brand partitions, 128 MB target. Bins pack size-descending via
    * cumulative division; ≥target files pass through as the `-1`
    * summary row. fill_pct stays integral (total·100 div target) so the
    * gate never compares floats. */
  private def compact(s: SparkSession, dir: String): DataFrame = {
    val files = Tables.part(s, dir)
      .withColumn("h", (col("p_partkey") * 37 + 11) % 100)
      .select(col("p_brand").as("part_dir"),
        col("p_partkey").as("file_id"),
        when(col("h") < 70, lit(1) + col("h") % 24)
          .when(col("h") < 90, lit(32) + (col("h") - 70) * 3)
          .otherwise(lit(128) + (col("h") - 90) * 16)
          .cast("long").as("size_mb"))
    graft.ops.Layout
      .compactionPlan(files, "part_dir", "file_id", "size_mb", target = 128L)
      .orderBy("part_dir", "bin_id")
  }

  /** Vocabulary growth along the training shuffle order — the Heaps-law
    * monitor: as the corpus is consumed in [[shuffleOrder]]'s
    * deterministic epoch order, how many token TYPES has the model seen
    * after each tenth of the corpus, and how fast is novelty decaying?
    * A curve that flattens early means the later corpus is recycling
    * vocabulary (template spam, boilerplate the dedup stage missed);
    * sustained growth means late batches still teach new tokens. The
    * reference has no notion of this.
    *
    * Exact and scalable: a type's first-seen position is a min
    * AGGREGATION over (token, decile) rows — map-side combine absorbs
    * the Zipf head, no per-token window; deciles come from the same
    * two-level rank as every sampling query (never a global sort of the
    * data); the only partition-less window is the 10-row decile cumsum
    * (bounded by construction, like the rank's bucket-offset cumsum). */
  private def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val ranked = Sampling.rankedBy(Tables.documents(s, dir), Seq.empty, "doc_id")
      .select(col("doc_id"), col("text"), col("samp_rank"))
    val n = ranked.agg(count(lit(1)).as("n_total"))
    val docs = ranked.crossJoin(broadcast(n))
      .withColumn("decile",
        (expr("((samp_rank - 1) * 10) div n_total") + 1L).cast("int"))
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0))).cast("long"))
    val perDecile = docs.groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("d_tokens"))
    val firstSeen = docs
      .select(col("decile"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(min("decile").as("first_decile"))
      .groupBy("first_decile").agg(count(lit(1)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perDecile
      .join(firstSeen, perDecile("decile") === firstSeen("first_decile"), "left")
      .select(perDecile("decile"), col("n_docs"), col("d_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("docs_seen", sum("n_docs").over(w))
      .withColumn("tokens_seen", sum("d_tokens").over(w))
      .withColumn("vocab_size", sum("new_types").over(w))
      .select(col("decile"), col("n_docs"), col("new_types"), col("docs_seen"),
        col("tokens_seen"), col("vocab_size"),
        round(col("vocab_size").cast("double") /
          col("tokens_seen").cast("double"), 6).as("ttr"))
      .orderBy("decile")
  }

  /** WEIGHTED corpus subsampling without replacement — priority sampling
    * (Duffield, Lund & Thorup): each doc draws an integer priority
    * q = h div w (h a 32-bit md5 slice, w its token count), and the k
    * SMALLEST priorities form the sample. Inclusion probability is
    * ≈ k·w/Σw, so longer (in production: higher-quality-weighted) docs
    * are overrepresented — the standard upweighting draw, made a pure
    * function of the data: md5-deterministic, so the realized sample
    * hash-gates and is stable under reruns and cluster layouts where a
    * rand()-based draw is not. The k-minimum selection rides the same
    * bounded-heap aggregate as the KMV sketch (negated values turn max-k
    * into min-k) — ≤ k rows per partition move, one small shuffle at any
    * corpus size; the tiny sample then broadcasts back for its weights.
    * Exactness law in SamplingSpec: max sampled priority ≤ min unsampled
    * (the defining threshold property). */
  private val PrioritySampleK = 64
  private def prioritySample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("w", greatest(
        size(regexp_extract_all(col("text"), lit("""\S+"""), lit(0)))
          .cast("long"), lit(1L)))
      .withColumn("h",
        conv(substring(md5(concat(lit("ps_"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long"))
      .withColumn("priority", expr("h div w"))
      .select("doc_id", "w", "priority")
    val top = d.agg(graft.functions.TopK.topK(
        (-col("priority")).cast("double"), col("doc_id"), PrioritySampleK)
      .as("sel"))
      .select(posexplode(col("sel")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("doc_id"))
    d.join(broadcast(top), Seq("doc_id")) // k-row sample is the broadcast side
      .select("rank", "doc_id", "w", "priority")
      .orderBy("rank")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_priority_sample" -> prioritySample,
    "q_vocab_growth" -> vocabGrowth,
    "q_zorder" -> zorder,
    "q_hilbert_order" -> hilbertOrder,
    "q_compact_plan" -> compact,
    "q_source_cap" -> sourceCap,
    "q_mix_weights" -> mixWeights,
    "q_mix_temperature" -> mixTemperature,
    "q_span_mask" -> spanMask,
    "q_fim_plan" -> fimPlan,
    "q_mix_upsample" -> mixUpsample,
    "q_shuffle_order" -> shuffleOrder,
    "q_stratified_sample" -> stratified,
    "q_pack_plan" -> pack,
    "q_zone_skip" -> zoneSkip,
    "q_shard_assign" -> shardAssign,
    "q_curriculum_order" -> curriculumOrder,
  )

  override def shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "layout_zbox" -> (zBoxes(_, _)),
    "layout_hbox" -> (hBoxes(_, _)))

  /** Unrolled Hilbert rotate/reflect stages h1..h`bits` over h0 —
    * mirrors [[graft.ops.Layout.hilbertD]] level by level (stage k
    * consumes bit level bits−k). Linear: each stage is referenced
    * exactly once, so DuckDB's plain-CTE inlining cannot re-expand. */
  private def hilbertRoundsSql(bits: Int): String = {
    val nMask = (1L << bits) - 1
    (bits - 1 to 0 by -1).zipWithIndex.map { case (i, k) =>
      s"""h${k + 1} AS (SELECT rid, x0, y0,
         |    CASE WHEN ((y >> $i) & 1) = 0 THEN
         |      CASE WHEN ((x >> $i) & 1) = 1 THEN $nMask - y ELSE y END
         |    ELSE x END AS x,
         |    CASE WHEN ((y >> $i) & 1) = 0 THEN
         |      CASE WHEN ((x >> $i) & 1) = 1 THEN $nMask - x ELSE x END
         |    ELSE y END AS y,
         |    d + (CAST(1 AS BIGINT) << ${2 * i}) *
         |      (CASE WHEN ((x >> $i) & 1) = 0 THEN ((y >> $i) & 1)
         |            ELSE 3 - ((y >> $i) & 1) END) AS d
         |  FROM h$k)""".stripMargin
    }.mkString(",\n")
  }

  override def oracle: Map[String, String] = Map(
    // three layouts' file boxes vs four probe rectangles; count FILTER
    // keeps every aggregate in BIGINT (no HUGEINT sum promotion)
    "q_zone_skip" ->
      s"""WITH ext AS MATERIALIZED (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS xmin, CAST(max(l_partkey) AS BIGINT) AS xmax,
         |         CAST(min(l_suppkey) AS BIGINT) AS ymin, CAST(max(l_suppkey) AS BIGINT) AS ymax
         |  FROM lineitem),
         |b AS MATERIALIZED (
         |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y,
         |    ((CAST(l_partkey AS BIGINT) - xmin) * 65536) // (xmax - xmin + 1) AS xb,
         |    ((CAST(l_suppkey AS BIGINT) - ymin) * 65536) // (ymax - ymin + 1) AS yb,
         |    row_number() OVER () AS rid
         |  FROM lineitem CROSS JOIN ext),
         |bits AS (SELECT unnest(generate_series(0, 15)) AS i),
         |z AS (
         |  SELECT rid, x, y,
         |    CAST(sum((((xb >> i) & 1) << (2 * i)) + (((yb >> i) & 1) << (2 * i + 1))) AS BIGINT) AS zval
         |  FROM b CROSS JOIN bits GROUP BY rid, x, y),
         |zbox AS MATERIALIZED (
         |  SELECT zval >> 26 AS file_id, count(*) AS n_rows,
         |    min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
         |  FROM z GROUP BY 1),
         |h0 AS (
         |  SELECT row_number() OVER () AS rid,
         |    CAST(l_partkey AS BIGINT) AS x0, CAST(l_suppkey AS BIGINT) AS y0,
         |    ((CAST(l_partkey AS BIGINT) - xmin) * 65536) // (xmax - xmin + 1) AS x,
         |    ((CAST(l_suppkey AS BIGINT) - ymin) * 65536) // (ymax - ymin + 1) AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM lineitem CROSS JOIN ext),
         |${hilbertRoundsSql(16)},
         |hbox AS MATERIALIZED (
         |  SELECT d >> 26 AS file_id, count(*) AS n_rows,
         |    min(x0) AS x_min, max(x0) AS x_max, min(y0) AS y_min, max(y0) AS y_max
         |  FROM h16 GROUP BY 1),
         |xbox AS MATERIALIZED (
         |  SELECT xb >> 10 AS file_id, count(*) AS n_rows,
         |    min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
         |  FROM b GROUP BY 1),
         |probes AS MATERIALIZED (
         |  SELECT p,
         |    xmin + ((2*p) * (xmax - xmin + 1)) // 8 AS x_lo,
         |    xmin + ((2*p + 2) * (xmax - xmin + 1)) // 8 - 1 AS x_hi,
         |    ymin + ((2*((p + 2) % 4)) * (ymax - ymin + 1)) // 8 AS y_lo,
         |    ymin + ((2*((p + 2) % 4) + 2) * (ymax - ymin + 1)) // 8 - 1 AS y_hi
         |  FROM ext CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)),
         |m AS MATERIALIZED (
         |  SELECT p, count(*) AS rows_match FROM b CROSS JOIN probes
         |  WHERE x BETWEEN x_lo AND x_hi AND y BETWEEN y_lo AND y_hi GROUP BY p),
         |boxes AS (
         |  SELECT 'hilbert' AS layout, * FROM hbox
         |  UNION ALL SELECT 'zorder' AS layout, * FROM zbox
         |  UNION ALL SELECT 'xsort' AS layout, * FROM xbox),
         |hit AS (
         |  SELECT layout, p, count(*) AS files_total,
         |    count(*) FILTER (WHERE x_max >= x_lo AND x_min <= x_hi
         |      AND y_max >= y_lo AND y_min <= y_hi) AS files_hit,
         |    CAST(coalesce(sum(n_rows) FILTER (WHERE x_max >= x_lo AND x_min <= x_hi
         |      AND y_max >= y_lo AND y_min <= y_hi), 0) AS BIGINT) AS rows_scanned
         |  FROM boxes CROSS JOIN probes GROUP BY layout, p)
         |SELECT h.layout, CAST(h.p AS INTEGER) AS probe, h.files_total,
         |  h.files_hit, h.rows_scanned,
         |  CAST(coalesce(m.rows_match, 0) AS BIGINT) AS rows_match
         |FROM hit h LEFT JOIN m ON h.p = m.p
         |ORDER BY h.layout, probe""".stripMargin,

    // exact-rank terciles on floor(score*1e9) (monotone, identical IEEE
    // double both engines), per-tier md5 shuffle, 3-row offset cumsum;
    // the window-sum offset is HUGEINT in DuckDB -> cast pos to BIGINT
    "q_curriculum_order" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS INTEGER) AS stop_hits,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INTEGER) AS chars_nospace
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id,
         |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) +
         |    0.25 * (1.0 - CASE WHEN n_tokens = 0 THEN NULL
         |                       ELSE CAST(stop_hits AS DOUBLE) / n_tokens END) +
         |    0.25 * least(1.0, CASE WHEN n_tokens = 0 THEN NULL
         |                           ELSE CAST(chars_nospace AS DOUBLE) / n_tokens END / 8)
         |      AS quality_score
         |  FROM base),
         |q AS MATERIALIZED (
         |  SELECT doc_id,
         |    -CAST(floor(quality_score * 1000000000) AS BIGINT) AS neg_q
         |  FROM scored WHERE quality_score IS NOT NULL),
         |r AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY neg_q, doc_id) AS grank,
         |    count(*) OVER () AS n
         |  FROM q),
         |t AS MATERIALIZED (
         |  SELECT doc_id, grank,
         |    CAST(((grank - 1) * 3) // n AS INTEGER) AS tier
         |  FROM r),
         |w AS (
         |  SELECT doc_id, tier, grank,
         |    row_number() OVER (PARTITION BY tier ORDER BY $rankOrderSql) AS wr
         |  FROM t),
         |o2 AS (
         |  SELECT tier,
         |    coalesce(sum(tn) OVER (ORDER BY tier
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS toff
         |  FROM (SELECT tier, count(*) AS tn FROM t GROUP BY tier) tc)
         |SELECT w.doc_id, w.tier, w.grank,
         |  CAST(o2.toff + w.wr AS BIGINT) AS pos
         |FROM w JOIN o2 ON w.tier = o2.tier
         |ORDER BY pos""".stripMargin,

    // HRW argmax tie-break = (hash, s) struct max -> ORDER BY hv DESC,
    // s DESC; mod hash is the repo's 60-bit md5-slice idiom
    "q_shard_assign" ->
      """WITH d AS MATERIALIZED (SELECT doc_id FROM documents),
        |sh9 AS (SELECT unnest(generate_series(0, 8)) AS s),
        |h AS MATERIALIZED (
        |  SELECT doc_id, s,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS hv
        |  FROM d CROSS JOIN sh9),
        |a9 AS MATERIALIZED (
        |  SELECT doc_id, s AS hrw9 FROM (
        |    SELECT doc_id, s,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn
        |    FROM h) t WHERE rn = 1),
        |a8 AS MATERIALIZED (
        |  SELECT doc_id, s AS hrw8 FROM (
        |    SELECT doc_id, s,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn
        |    FROM h WHERE s < 8) t WHERE rn = 1),
        |asg AS MATERIALIZED (
        |  SELECT a9.doc_id, hrw8, hrw9, mh % 8 AS mod8, mh % 9 AS mod9
        |  FROM a9
        |  JOIN a8 ON a9.doc_id = a8.doc_id
        |  JOIN (SELECT doc_id,
        |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS mh
        |        FROM d) m ON a9.doc_id = m.doc_id)
        |SELECT CAST(s AS INTEGER) AS shard,
        |  count(*) FILTER (WHERE hrw8 = s) AS n_hrw8,
        |  count(*) FILTER (WHERE hrw9 = s) AS n_hrw9,
        |  count(*) FILTER (WHERE hrw9 = s AND hrw8 <> hrw9) AS hrw_moved_in,
        |  count(*) FILTER (WHERE mod9 = s AND mod8 <> mod9) AS mod_moved_in
        |FROM asg CROSS JOIN sh9 GROUP BY s ORDER BY shard""".stripMargin,
    // compaction plan: FFD-order cumulative-division bin packing; the
    // cum window's (size desc, file_id) order is total, so RANGE = ROWS
    "q_compact_plan" ->
      """WITH f AS (
        |  SELECT p_brand AS part_dir, p_partkey AS file_id,
        |    CAST(CASE WHEN h < 70 THEN 1 + h % 24
        |              WHEN h < 90 THEN 32 + (h - 70) * 3
        |              ELSE 128 + (h - 90) * 16 END AS BIGINT) AS size_mb
        |  FROM (SELECT *, (p_partkey * 37 + 11) % 100 AS h FROM part)),
        |small AS (
        |  SELECT part_dir, file_id, size_mb,
        |    sum(size_mb) OVER (PARTITION BY part_dir
        |      ORDER BY size_mb DESC, file_id) AS cum
        |  FROM f WHERE size_mb < 128),
        |bins AS (
        |  SELECT part_dir, CAST((cum - size_mb) // 128 AS BIGINT) AS bin_id,
        |    count(*) AS n_files, CAST(sum(size_mb) AS BIGINT) AS total_bytes,
        |    min(file_id) AS min_file, max(file_id) AS max_file
        |  FROM small GROUP BY 1, 2),
        |skip AS (
        |  SELECT part_dir, CAST(-1 AS BIGINT) AS bin_id, count(*) AS n_files,
        |    CAST(sum(size_mb) AS BIGINT) AS total_bytes,
        |    min(file_id) AS min_file, max(file_id) AS max_file
        |  FROM f WHERE size_mb >= 128 GROUP BY 1),
        |u AS (SELECT * FROM bins UNION ALL SELECT * FROM skip)
        |SELECT part_dir, bin_id, n_files, total_bytes, min_file, max_file,
        |  CAST((total_bytes * 100) // 128 AS BIGINT) AS fill_pct,
        |  bin_id >= 0 AS compacted
        |FROM u ORDER BY part_dir, bin_id""".stripMargin,

    // priority sampling: k smallest h div w priorities, doc_id tiebreak
    "q_priority_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT), 1)
         |      AS w
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, w,
         |    CAST(('0x' || substr(md5('ps_' || CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) // w AS priority
         |  FROM d),
         |r AS (
         |  SELECT doc_id, w, priority,
         |    row_number() OVER (ORDER BY priority, doc_id) AS rank
         |  FROM p)
         |SELECT CAST(rank AS INTEGER) AS rank, doc_id, w, priority
         |FROM r WHERE rank <= $PrioritySampleK ORDER BY rank""".stripMargin,
    // the shuffle-order rank replays as one row_number window; first-seen
    // decile per type is min(decile) (monotone in rank, so min over the
    // decile equals the decile of the min rank); HUGEINT cumsums cast out
    "q_vocab_growth" ->
      s"""WITH r AS (
         |  SELECT doc_id, text,
         |    CAST(row_number() OVER (ORDER BY $rankOrderSql) AS BIGINT) AS samp_rank
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, text,
         |    CAST((samp_rank - 1) * 10 // (SELECT count(*) FROM documents) + 1
         |      AS INTEGER) AS decile,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         |  FROM r),
         |pd AS (SELECT decile, count(*) AS n_docs, sum(n_tokens) AS d_tokens
         |       FROM d GROUP BY 1),
         |tk AS (SELECT decile, unnest(regexp_extract_all(text, '\\S+')) AS tok
         |       FROM d),
         |fs AS (SELECT tok, min(decile) AS first_decile FROM tk GROUP BY 1),
         |nt AS (SELECT first_decile AS decile, count(*) AS new_types
         |       FROM fs GROUP BY 1),
         |j AS (
         |  SELECT pd.decile, pd.n_docs, pd.d_tokens,
         |    COALESCE(nt.new_types, 0) AS new_types
         |  FROM pd LEFT JOIN nt ON pd.decile = nt.decile)
         |SELECT decile, n_docs, new_types,
         |  CAST(sum(n_docs) OVER w AS BIGINT) AS docs_seen,
         |  CAST(sum(d_tokens) OVER w AS BIGINT) AS tokens_seen,
         |  CAST(sum(new_types) OVER w AS BIGINT) AS vocab_size,
         |  round(CAST(sum(new_types) OVER w AS DOUBLE) /
         |        CAST(sum(d_tokens) OVER w AS BIGINT), 6) AS ttr
         |FROM j
         |WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
         |             AND CURRENT ROW)
         |ORDER BY decile""".stripMargin,
    // the window formulation is the oracle for the bounded-heap cap; the
    // score formula is q_text_quality's (exact-count ratios with dyadic
    // weights, so the unrounded doubles order identically cross-engine).
    // The n_tokens = 0 guards mirror q_quality_prune's: a zero-token doc
    // scores NULL on BOTH engines (DuckDB's bare 0/0 would be NaN, which
    // sorts ABOVE every real score in ORDER BY DESC and enters the top-k,
    // while Spark's TopKAgg skips the NULL — a cross-engine divergence on
    // corpora containing empty/whitespace-only documents)
    "q_source_cap" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to)\\b')) AS INTEGER) AS stop_hits,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INTEGER) AS chars_nospace
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, source,
         |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) +
         |    0.25 * (1.0 - CASE WHEN n_tokens = 0 THEN NULL
         |                       ELSE CAST(stop_hits AS DOUBLE) / n_tokens END) +
         |    0.25 * least(1.0, CASE WHEN n_tokens = 0 THEN NULL
         |                           ELSE CAST(chars_nospace AS DOUBLE) / n_tokens END / 8)
         |      AS quality_score
         |  FROM base),
         |ranked AS (
         |  SELECT source, doc_id, quality_score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality_score DESC, doc_id ASC) AS rn
         |  FROM scored WHERE quality_score IS NOT NULL)
         |SELECT source, CAST(rn AS INTEGER) AS rank, doc_id,
         |  round(quality_score, 6) AS quality_score
         |FROM ranked WHERE rn <= $SourceCapK
         |ORDER BY source, rank""".stripMargin,
    // rotate/reflect walk unrolled to 16 column-transform stages, each
    // referenced once (linear CTE inlining); reflection mask and quadrant
    // arithmetic identical to Layout.hilbertD
    "q_hilbert_order" ->
      s"""WITH ext AS (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS xmin, CAST(max(l_partkey) AS BIGINT) AS xmax,
         |         CAST(min(l_suppkey) AS BIGINT) AS ymin, CAST(max(l_suppkey) AS BIGINT) AS ymax
         |  FROM lineitem),
         |h0 AS (
         |  SELECT row_number() OVER () AS rid,
         |    CAST(l_partkey AS BIGINT) AS x0, CAST(l_suppkey AS BIGINT) AS y0,
         |    ((CAST(l_partkey AS BIGINT) - xmin) * 65536) // (xmax - xmin + 1) AS x,
         |    ((CAST(l_suppkey AS BIGINT) - ymin) * 65536) // (ymax - ymin + 1) AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM lineitem CROSS JOIN ext),
         |${hilbertRoundsSql(16)}
         |SELECT d >> 26 AS file_id, COUNT(*) AS n_rows,
         |  min(x0) AS x_min, max(x0) AS x_max, min(y0) AS y_min, max(y0) AS y_max
         |FROM h16 GROUP BY 1 ORDER BY file_id""".stripMargin,

    // bit interleave replayed as a sum over a 16-row bit-index table;
    // integer scaling with // matches Spark's div exactly
    "q_zorder" ->
      """WITH ext AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS xmin, CAST(max(l_partkey) AS BIGINT) AS xmax,
        |         CAST(min(l_suppkey) AS BIGINT) AS ymin, CAST(max(l_suppkey) AS BIGINT) AS ymax
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y,
        |    ((CAST(l_partkey AS BIGINT) - xmin) * 65536) // (xmax - xmin + 1) AS xb,
        |    ((CAST(l_suppkey AS BIGINT) - ymin) * 65536) // (ymax - ymin + 1) AS yb,
        |    row_number() OVER () AS rid
        |  FROM lineitem CROSS JOIN ext),
        |bits AS (SELECT unnest(generate_series(0, 15)) AS i),
        |z AS (
        |  SELECT rid, x, y,
        |    CAST(sum((((xb >> i) & 1) << (2 * i)) + (((yb >> i) & 1) << (2 * i + 1))) AS BIGINT) AS zval
        |  FROM b CROSS JOIN bits GROUP BY rid, x, y)
        |SELECT zval >> 26 AS file_id, COUNT(*) AS n_rows,
        |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
        |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin,

    // md5-derived in-block offsets; spans non-overlapping by construction
    "q_span_mask" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |m AS (SELECT doc_id, words, b,
        |    1 + CAST(('0x' || substr(md5('mask_' || CAST(doc_id AS VARCHAR)
        |        || '_' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % (least(len(words) - b * 20, 20) - 2) AS off
        |  FROM w, unnest(generate_series(0, (len(words) - 1) // 20)) AS t(b)
        |  WHERE least(len(words) - b * 20, 20) >= 4)
        |SELECT doc_id, CAST(b AS INTEGER) AS block_id,
        |  CAST(b * 20 + off AS BIGINT) AS span_start,
        |  3 AS span_len,
        |  CAST(b AS INTEGER) AS sentinel_id,
        |  array_to_string(words[b*20+off : b*20+off+2], ' ') AS masked_text
        |FROM m ORDER BY doc_id, block_id""".stripMargin,

    // md5-derived split points and layout choice — same determinism
    // idiom as q_span_mask; words[] is 1-based like element_at
    "q_fim_plan" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |b AS (SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n
        |      FROM w WHERE len(words) >= 6),
        |x AS (SELECT doc_id, words, n,
        |    1 + CAST(('0x' || substr(md5('fim_m_' || CAST(doc_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % (n // 3) AS m
        |  FROM b),
        |y AS (SELECT doc_id, words, n, m,
        |    CAST(('0x' || substr(md5('fim_p_' || CAST(doc_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % (n - m + 1) AS p
        |  FROM x)
        |SELECT doc_id, n AS n_tokens,
        |  CASE WHEN CAST(('0x' || substr(md5('fim_o_' || CAST(doc_id AS VARCHAR)),
        |    1, 8)) AS BIGINT) % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
        |  p AS n_prefix, m AS n_middle, n - p - m AS n_suffix,
        |  n + 3 AS train_len,
        |  words[CAST(p + 1 AS INT)] AS middle_head
        |FROM y ORDER BY doc_id""".stripMargin,

    // isqrt via double candidate + integer envelope correction; HUGEINT
    // mirrors Spark's DECIMAL(38,0) widening of the count products
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |cd AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS cand FROM c),
        |w2 AS (SELECT lang, n_docs,
        |    CASE WHEN CAST(cand + 1 AS HUGEINT) * (cand + 1) <= n_docs THEN cand + 1
        |         WHEN CAST(cand AS HUGEINT) * cand > n_docs THEN cand - 1
        |         ELSE cand END AS w
        |  FROM cd),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot,
        |             CAST(sum(n_docs) AS BIGINT) AS n_tot FROM w2)
        |SELECT lang, n_docs, w AS w_sqrt,
        |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // n_tot AS BIGINT) AS raw_share_ppm,
        |  CAST(CAST(w AS HUGEINT) * 1000000 // w_tot AS BIGINT) AS temp_share_ppm,
        |  CAST(CAST(n_tot // 2 AS HUGEINT) * w // w_tot AS BIGINT) AS quota,
        |  round(CAST(CAST(CAST(n_tot // 2 AS HUGEINT) * w // w_tot AS BIGINT) AS DOUBLE)
        |    / n_docs, 6) AS sample_rate
        |FROM w2 CROSS JOIN t ORDER BY lang""".stripMargin,

    "q_mix_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, n_docs,
        |    CAST(CASE WHEN lang = 'en' THEN 0.5 ELSE 0.125 END AS DOUBLE) AS target_share,
        |    n_docs * (CASE WHEN lang = 'en' THEN 2 ELSE 8 END) AS max_total
        |  FROM c),
        |m AS (SELECT min(max_total) AS m FROM w)
        |SELECT lang, n_docs, target_share,
        |  CAST(floor(CAST(m AS DOUBLE) * target_share) AS BIGINT) AS quota,
        |  CAST(floor(CAST(m AS DOUBLE) * target_share) AS BIGINT) / CAST(n_docs AS DOUBLE) AS keep_prob
        |FROM w CROSS JOIN m ORDER BY lang""".stripMargin,

    // integer epochs + partial-pass pick; generate_series(1,0) is empty,
    // matching the Spark side's reps > 0 filter
    "q_mix_upsample" ->
      s"""WITH b AS (SELECT 2 * count(*) AS budget FROM documents),
         |c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |q AS (
         |  SELECT lang, n_docs,
         |    budget // (CASE WHEN lang = 'en' THEN 2 ELSE 8 END) AS c_target
         |  FROM c CROSS JOIN b),
         |q2 AS (
         |  SELECT lang, c_target // n_docs AS epochs,
         |    c_target - (c_target // n_docs) * n_docs AS rem
         |  FROM q),
         |r AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY $rankOrderSql) AS BIGINT) AS samp_rank
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, r.lang AS lang,
         |    epochs + CASE WHEN samp_rank <= rem THEN 1 ELSE 0 END AS reps
         |  FROM r JOIN q2 ON r.lang = q2.lang)
         |SELECT doc_id, lang, CAST(unnest(generate_series(1, reps)) AS BIGINT) AS epoch
         |FROM e ORDER BY lang, doc_id, epoch""".stripMargin,

    // the closed-form equivalent of the two-level rank: one global
    // row_number over the canonical (bucket, hash, id) order
    "q_shuffle_order" ->
      s"""SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY $rankOrderSql) AS BIGINT) AS pos
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_stratified_sample" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY $rankOrderSql) AS BIGINT) AS samp_rank
         |  FROM documents),
         |c AS (SELECT min(n) AS cap FROM (
         |  SELECT count(*) AS n FROM documents GROUP BY lang))
         |SELECT doc_id, lang, samp_rank, samp_rank <= cap AS keep
         |FROM r CROSS JOIN c ORDER BY doc_id""".stripMargin,

    "q_pack_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(('0x' || substr(md5('pack_' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8 AS shard
        |  FROM t WHERE n_tokens > 0),
        |c AS (
        |  SELECT shard, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM s),
        |x AS (SELECT shard, doc_id, tok_start, tok_start + n_tokens AS tok_end FROM c),
        |e AS (
        |  SELECT shard, doc_id, tok_start, tok_end,
        |    unnest(generate_series(tok_start // 128, (tok_end - 1) // 128)) AS seq_id
        |  FROM x)
        |SELECT CAST(shard AS INTEGER) AS shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(greatest(tok_start, seq_id * 128) - tok_start AS BIGINT) AS tok_from,
        |  CAST(least(tok_end, (seq_id + 1) * 128) - tok_start AS BIGINT) AS tok_to
        |FROM e ORDER BY shard, seq_id, doc_id""".stripMargin,
  )
}
