package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{SharedFrames, Tables}
import graft.ops.Dedup

/** Deduplication over `documents`: exact (hash-groupBy), n-gram Jaccard
  * (shingle equi-join), MinHash+LSH (band bucket-join + exact verify),
  * portable 16-bit SimHash (native expression; banded hamming), winnowing
  * fingerprints, incremental batch-vs-index pairs, connected-component
  * clusters, and quality-canonical selection. All variants are
  * md5-/integer-arithmetic-based, so every query here is hash-checked
  * against the DuckDB oracle.
  *
  * Scale notes:
  *  - the shingle frame is document-frequency pruned (df <= [[DfMax]]):
  *    a Zipf-hot stop-shingle makes the pair self-join quadratic in its
  *    document frequency, the standard web-scale near-dup failure mode.
  *    On the driver corpus df maxes out around 25, so DfMax=20 keeps every
  *    planted >=0.8-Jaccard pair at sf0.1 while bounding worst-case skew.
  *  - the pruned shingle frame and the verified Jaccard pair set are built
  *    once per (session, sf-dir) via [[SharedFrames.cached]] and shared by
  *    `q_dedup_jaccard`, `q_dedup_minhash` and the cluster queries; the runner
  *    releases them with `SharedFrames.clear()`.
  */
object DedupQueries extends QueryGroup {

  /** Shingle document-frequency cap, mirrored in every oracle CTE. */
  val DfMax = 20

  /** Pruned shingle frame, built once per (session, dir). */
  private[queries] def sharedShingles(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"shingles:$dir") {
      Dedup.shingles(Tables.documents(s, dir), maxShingleFreq = Some(DfMax))
    }

  /** UNPRUNED shingle frame, built once per (session, dir) — the lossless
    * operators (prefix-filter join, novelty profile) need the full feature
    * sets that the df<=20 frame deliberately drops. */
  private[queries] def sharedShinglesRaw(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"shingles_raw:$dir") {
      Dedup.shingles(Tables.documents(s, dir))
    }

  /** Verified >=0.8-Jaccard pair set, built once per (session, dir) —
    * shared by the pair-listing query and the corpus dedup-apply query. */
  private[queries] def sharedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"jacpairs:$dir") {
      Dedup.jaccardPairs(sharedShingles(s, dir), 0.8)
    }

  /** Session-memoized row count of [[sharedJaccardPairs]] — the planning
    * stat every iterative graph op gates on; without it each of the seven
    * consumers re-counts the same persisted frame (one fixed-cost driver
    * job per op invocation). */
  private[queries] def sharedJaccardPairsCount(s: SparkSession, dir: String): Long =
    SharedFrames.memoCount(s, s"jacpairs:$dir")(sharedJaccardPairs(s, dir))

  /** df-pruned winnow fingerprint frame (doc_id, fp), built once per
    * (session, dir) — the winnow expression (a rolling hash over every
    * char of every doc) is the expensive part, shared by the overlap-pairs
    * query and the contamination check. */
  private[queries] def sharedWinnowFps(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"winnowfps:$dir") {
      // raw is registered too: it feeds both the df-filter and the join,
      // and without its own persist the winnow expression would evaluate
      // twice while materializing this frame
      val raw = SharedFrames.register(Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.Winnow.winnow(Dedup.normText(col("text")))).as("fp"))
        .distinct())
      val keep = raw.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DfMax).select("fp")
      raw.join(keep, Seq("fp"))
    }

  /** Shared oracle preamble: shingles + df-prune + per-doc sizes. The
    * `HAVING count(*) <= DfMax` CTE mirrors [[Dedup.shingles]]'s
    * `maxShingleFreq` exactly. */
  private[queries] val shingleSqlPrefix =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
       |idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i FROM w),
       |sh0 AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx),
       |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $DfMax),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)""".stripMargin

  /** (doc_id, fp) exact-fingerprint frame, built once per (session, dir):
    * the regex normalization + md5 over every byte of the corpus is the
    * expensive part, and it feeds TWO plan arms in each consumer (group
    * stats + join-back) in two queries (`q_dedup_exact`,
    * `q_dedup_funnel`'s k1 stage) — unpersisted it would evaluate four
    * times. ~40 bytes per doc cached. */
  private[queries] def sharedExactFps(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"exactfps:$dir") {
      Tables.documents(s, dir)
        .withColumn("fp", md5(Dedup.normText(col("text"))))
        .select("doc_id", "fp")
    }

  /** Exact dedup: md5 fingerprint of normalized text; canonical = min id.
    *
    * Shape at scale: the group stats come from `groupBy(fp).agg`, NOT a
    * `Window.partitionBy(fp)`. md5 keys are uniform over DISTINCT texts,
    * but group multiplicity is not — a boilerplate page duplicated 10M+
    * times in a web corpus would put its whole group through one
    * WindowExec task that AQE cannot split. The aggregation map-side
    * combines (the Zipf head collapses to one row per distinct text
    * before the exchange) and the join-back on fp is AQE-skew-splittable.
    * Same discipline as the line-dedup pass ("first-occurrence = min
    * AGGREGATION, never row_number over record"); guarded by PlanSpec's
    * no-Window assert and SkewSpec's mega-duplicate fixture. */
  private def exact(s: SparkSession, dir: String): DataFrame = {
    val fps = sharedExactFps(s, dir)
    val groups = fps.groupBy("fp")
      .agg(count(lit(1)).as("n_same"), min(col("doc_id")).as("canon_id"))
    fps.join(groups, Seq("fp"))
      .withColumn("is_canonical", col("doc_id") === col("canon_id"))
      .select("doc_id", "fp", "n_same", "is_canonical")
      .orderBy("doc_id")
  }

  /** N-gram Jaccard near-dup pairs (threshold 0.8, df-pruned shingles). */
  private def jaccard(s: SparkSession, dir: String): DataFrame =
    sharedJaccardPairs(s, dir)
      .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** MinHash (k=8 windows of one md5) + LSH (4 bands of 2), exact-verified
    * >= 0.7 against the shared pruned shingle frame. */
  private def minhash(s: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(s, dir)
    val banded = SharedFrames.register(
      Dedup.withBands(Dedup.minhashSignatures(sh, 8, withSize = true), 8, 2))
    // length filter in the band join (sz rides the signature agg free):
    // size-incompatible collisions never reach the verify's feature-set
    // probe — result-identical at the 0.7 verify (DedupSpec law)
    Dedup.verifyCandidates(
        Dedup.bandCandidatesLengthPruned(banded, 4, 0.7), sh, 0.7)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Portable 16-bit SimHash candidate pairs at hamming <= 1. The 2x8-bit
    * banded plan is result-identical to the oracle's brute-force self-join
    * (pigeonhole: one differing bit falls in one band, the other band
    * matches) while staying an equi-join at scale. This is the
    * candidate-generation primitive — the 64-bit production variant
    * ([[Dedup.simhashPairs]]) has finer resolution and is golden-tested in
    * DedupSpec; this query pins the whole token-hash/vote/band pipeline to
    * the SQL oracle bit-for-bit. */
  private def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash16Pairs(Tables.documents(s, dir), maxHamming = 1)
      .withColumn("hamming", col("hamming").cast("int"))
      .orderBy("id_a", "id_b")

  /** PRODUCTION SimHash: the 64-bit fingerprint ([[graft.functions.SimHash]]
    * native codegen expression) banded into 4x16-bit bucket keys, candidate
    * pairs verified at hamming <= 3 — exhaustive by pigeonhole (three
    * differing bits can dirty at most three of the four bands). Unlike the
    * 16-bit portable variant above (256 buckets/band — saturates on large
    * corpora), 65,536 buckets per band keep the bucket join selective at
    * 100 TB. The oracle replays the full 64-bit pipeline: token hash =
    * first 16 hex chars of md5(token) split into four 16-bit chunks,
    * per-bit +-1 votes with multiplicity, sign-vector fingerprint, then a
    * brute-force hamming self-join (equal to the banded plan for
    * hamming <= 3). */
  /** 64-bit SimHash pair frame, built once per (session, dir) — consumed
    * by q_dedup_simhash64 and the ensemble query. */
  private[queries] def sharedSimhash64Pairs(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"simhash64:$dir") {
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
        .select("id_a", "id_b", "hamming")
    }

  private def simhash64(s: SparkSession, dir: String): DataFrame =
    sharedSimhash64Pairs(s, dir)
      .orderBy("id_a", "id_b")

  /** Winnow overlap pair frame (shared_fps >= 5) — the aggregation over
    * the shared fingerprint frame, reused by q_dedup_winnow and the
    * ensemble query (cheap enough to not persist separately). */
  private[queries] def winnowPairFrame(s: SparkSession, dir: String): DataFrame = {
    val fps = sharedWinnowFps(s, dir)
    fps.select(col("doc_id").as("id_a"), col("fp"))
      .join(fps.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 5)
  }

  /** ENSEMBLE near-dup detection: the full outer union of three
    * independent detectors — shingle Jaccard (>= 0.8), 64-bit SimHash
    * (hamming <= 3) and winnowing overlap (>= 5 shared fingerprints) —
    * with per-method flags and an agreement count. Real curation runs
    * several detectors and keys the drop decision on agreement (each
    * method has blind spots: Jaccard misses short docs, SimHash misses
    * partial overlap, winnowing misses paraphrase); this is the voting
    * frame that decision reads. All three inputs are the session-shared
    * pair frames, so the ensemble costs two outer joins. */
  private def ensemble(s: SparkSession, dir: String): DataFrame = {
    val jac = sharedJaccardPairs(s, dir)
      .select(col("id_a"), col("id_b"), lit(true).as("by_jaccard"))
    val sim = sharedSimhash64Pairs(s, dir)
      .select(col("id_a"), col("id_b"), lit(true).as("by_simhash"))
    val win = winnowPairFrame(s, dir)
      .select(col("id_a"), col("id_b"), lit(true).as("by_winnow"))
    jac.join(sim, Seq("id_a", "id_b"), "full_outer")
      .join(win, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        coalesce(col("by_jaccard"), lit(false)).as("by_jaccard"),
        coalesce(col("by_simhash"), lit(false)).as("by_simhash"),
        coalesce(col("by_winnow"), lit(false)).as("by_winnow"))
      .withColumn("n_methods",
        (col("by_jaccard").cast("int") + col("by_simhash").cast("int") +
          col("by_winnow").cast("int")))
      .orderBy("id_a", "id_b")
  }

  /** Winnowing fingerprint overlap pairs (rolling-hash k-gram window
    * minima, Schleimer/Wilkerson/Aiken). Docs sharing >= 5 selected
    * fingerprints are overlap candidates; fingerprints with df > DfMax are
    * vocabulary, not overlap, and are pruned before the self-join. The
    * rolling hash is a polynomial mod 2^61-1 over char codes, which the
    * oracle reproduces in HUGEINT arithmetic — fully hash-checked. */
  private def winnowPairs(s: SparkSession, dir: String): DataFrame =
    winnowPairFrame(s, dir).orderBy("id_a", "id_b")

  /** Near-dup CLUSTERS: connected components over the >=0.8-Jaccard pair
    * graph (min-label propagation; see [[Dedup.connectedComponents]]).
    * Pairs alone under-delete: a~b, b~c must collapse to one kept doc even
    * though (a,c) was never directly verified. cluster_id = smallest
    * reachable doc_id = the canonical member. */
  private def clusters(s: SparkSession, dir: String): DataFrame = {
    val comp = sharedClusters(s, dir)
    val w = Window.partitionBy("cluster_id")
    comp
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Incremental dedup: docs with doc_id % 10 = 9 play the arriving batch;
    * their near-dup pairs against the rest of the corpus (and each other)
    * come from [[Dedup.incrementalJaccardPairs]] — batch-vs-index joins
    * only, never corpus x corpus. The oracle computes the FULL pair set
    * and restricts it to batch-touching pairs, which proves the
    * incremental plan loses nothing. */
  private def incremental(s: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(s, dir)
    val isNew = col("doc_id") % 10 === 9
    Dedup.incrementalJaccardPairs(sh.filter(!isNew), sh.filter(isNew), 0.8)
      .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Incremental SimHash64: same batch split as q_dedup_incremental
    * (doc_id % 10 = 9 plays the arriving batch), but against the PERSISTED
    * banded fingerprint index — batch-vs-index band joins only. The oracle
    * computes the FULL 64-bit pair set and restricts it to batch-touching
    * pairs, proving the incremental plan loses nothing; this completes the
    * incremental story for the production (64-bit) detector. */
  private def incrSimhash(s: SparkSession, dir: String): DataFrame = {
    val idx = SharedFrames.register(
      Dedup.simhashIndex(Tables.documents(s, dir)))
    val isNew = col("doc_id") % 10 === 9
    Dedup.incrementalSimhashPairs(idx.filter(!isNew), idx.filter(isNew), 3)
      .withColumn("hamming", col("hamming").cast("int"))
      .orderBy("id_a", "id_b")
  }

  /** Canonical selection per near-dup cluster: the kept representative is
    * the highest-QUALITY member (longest text, doc_id tiebreak), not
    * merely the smallest id — the policy real corpus curation uses. One
    * row per cluster with the representative and member count. */
  private def canonical(s: SparkSession, dir: String): DataFrame = {
    val comp = sharedClusters(s, dir)
    val sized = comp.join(
      Tables.documents(s, dir).select("doc_id", "n_chars"), Seq("doc_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    sized
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("n_chars").as("rep_n_chars"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Shared clusters frame (CC over the Jaccard pair graph), used by both
    * q_dedup_clusters and q_dedup_canonical. */
  private[queries] def sharedClusters(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"clusters:$dir") {
      Dedup.connectedComponents(sharedJaccardPairs(s, dir),
        knownSize = Some(sharedJaccardPairsCount(s, dir)))
    }

  /** Cluster-purity audit — the transitive-drift check a dedup owner
    * runs BEFORE collapsing clusters to one survivor: connected
    * components merge a~b, b~c into one cluster even when (a, c) was
    * never verified, so a long chain can glue documents far below the
    * similarity bar into one "duplicate" group. Per cluster: how close
    * the VERIFIED pair set is to a clique (density_pct = 100·2e div
    * n(n−1), exact integers), the weakest verified similarity inside it
    * (min over the pair frame's own IEEE-exact jaccard — one division,
    * order-independent min, so it hash-gates), and the exact integer
    * (Σ common, Σ union) mass for an order-independent mean. Density
    * 100 = clique (safe to collapse); low density + low min_jaccard is
    * the chain-drift signature.
    *
    * Shape at scale: both inputs are the session-shared frames; one
    * cluster-keyed aggregation over the pair frame (both endpoints of a
    * verified pair share a cluster by construction, so the id_a side
    * alone keys the lookup), one over the membership frame, and a
    * cluster-count-bounded join. */
  private def clusterPurity(s: SparkSession, dir: String): DataFrame = {
    val cc = sharedClusters(s, dir)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val e = sharedJaccardPairs(s, dir)
      .join(cc.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("min_jaccard"),
        sum(col("common")).cast("long").as("sum_common"),
        sum(col("size_a") + col("size_b") - col("common")).cast("long")
          .as("sum_union"))
    sizes.join(e, Seq("cluster_id"))
      .withColumn("density_pct",
        expr("(200 * n_edges) div (n_members * (n_members - 1))"))
      .select("cluster_id", "n_members", "n_edges", "density_pct",
        "min_jaccard", "sum_common", "sum_union")
      .orderBy("cluster_id")
  }

  // declaration order = dependency order (shingles -> pairs -> clusters);
  // the bench prewarms in this order so each build time is its own stage's
  override def shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_exact_fps" -> sharedExactFps,
    "dedup_shingles_raw" -> sharedShinglesRaw,
    "dedup_shingles" -> sharedShingles,
    "dedup_jaccard_pairs" -> sharedJaccardPairs,
    "dedup_clusters" -> sharedClusters,
    "dedup_winnow_fps" -> sharedWinnowFps,
    "dedup_simhash64_pairs" -> sharedSimhash64Pairs,
    "dedup_spans" -> sharedSpans,
  )

  /** KMV (k-minimum-values) distinct sketch, ORACLE-GATED: per-source
    * distinct-shingle cardinality estimated from the k smallest 32-bit
    * md5 slices, next to the exact count and the relative error. Unlike
    * HLL (implementation-specific bias tables — bounds-testable only,
    * see ApproxSpec), KMV over a deterministic hash is a pure function
    * of the data: est = (k−1)·2³² div h₍ₖ₎ — so the ESTIMATOR ITSELF
    * hash-gates cross-engine. The k smallest hashes ride the same
    * bounded-heap aggregate as `q_source_cap` (negating the value turns
    * max-k into min-k); map-side partials move ≤ k hashes per source per
    * partition — the sketch that replaces exact distinct counting at
    * 100 TB, verified here against the exact count it replaces. Groups
    * with fewer than k distinct hashes report the exact count (the KMV
    * small-cardinality convention). */
  private val KmvK = 64
  /** Per-source distinct KMV hash frame — ONE definition of the sketch
    * hashing shared by the distinct-count estimator and the pair
    * Jaccard (a drifted copy would break their documented calibration
    * pairing); cached because the Jaccard query reads it three times
    * (signatures + both sides of the exact-overlap self-join). */
  private def kmvHashes(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"kmvh:$dir") {
      sharedShinglesRaw(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "source"),
          Seq("doc_id"))
        .select(col("source"),
          conv(substring(md5(concat(lit("kmv_"), col("shingle"))), 1, 8),
            16, 10).cast("long").as("h"))
        .distinct()
    }

  private def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = kmvHashes(s, dir)
    h.groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        graft.functions.TopK.topK((-col("h")).cast("double"), col("h"), KmvK)
          .as("mins"))
      .withColumn("kth",
        when(size(col("mins")) < KmvK, lit(null))
          .otherwise(element_at(col("mins"), KmvK).getField("id")))
      .withColumn("est_distinct",
        when(col("kth").isNull, col("n_exact"))
          .otherwise(expr(s"(${KmvK - 1} * 4294967296) div kth")))
      .select(col("source"), col("n_exact"), col("est_distinct"),
        round((col("est_distinct") - col("n_exact")).cast("double") /
          col("n_exact").cast("double"), 6).as("rel_err"))
      .orderBy("source")
  }

  /** KMV set-similarity between sources — the SKETCH answer to "how
    * much distinct-shingle overlap do two crawls share" (theta-sketch
    * set operations, Dasgupta et al.): each source's k-min-values
    * signature (the `q_kmv_distinct` sketch) supports a UNION estimate
    * by merging two signatures and reading the union's k-th minimum;
    * intersection and Jaccard then follow by inclusion–exclusion —
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), clamped at 0. The whole pair
    * computation runs on |sources|² signature rows of ≤ k hashes each
    * (array_union + array_sort in-row), so at corpus scale the
    * estimate costs NOTHING beyond the per-source sketches — which is
    * the point of sketch set ops. The EXACT Jaccard rides along (one
    * self-join of the distinct-hash frame) as the eval column, the
    * `q_ann_recall` discipline: at 100 TB only the estimate side runs.
    * All arithmetic integer; ppm numerators DECIMAL-widened (distinct
    * counts ~1e12 × 1e6 cross 2^63). Known estimator behavior, visible
    * in the eval column: inclusion–exclusion amplifies the per-sketch
    * error, so small Jaccards (J « 1/√k) are noisy at k = 64 — the
    * production knob is k, and the exact column is exactly the
    * calibration a deployment reads before picking it. */
  private def kmvJaccard(s: SparkSession, dir: String): DataFrame = {
    val h = kmvHashes(s, dir)
    val sig = h.groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        graft.functions.TopK.topK((-col("h")).cast("double"), col("h"), KmvK)
          .as("mins"))
      .select(col("source"), col("n_exact"),
        expr("transform(mins, m -> m.id)").as("sig"))
    def est(nCol: String, sigCol: String): org.apache.spark.sql.Column =
      when(size(col(sigCol)) < KmvK, col(nCol))
        .otherwise(expr(
          s"(${KmvK - 1} * 4294967296) div element_at($sigCol, $KmvK)"))
    // broadcast the pair axis: |sources| signature rows — a non-equi
    // join of two unbroadcast aggregates would otherwise plan cartesian
    val pairs = sig.select(col("source").as("src_a"),
        col("n_exact").as("n_a"), col("sig").as("sig_a"))
      .join(broadcast(sig.select(col("source").as("src_b"),
        col("n_exact").as("n_b"), col("sig").as("sig_b"))),
        col("src_a") < col("src_b"))
      .withColumn("merged", array_sort(array_union(col("sig_a"), col("sig_b"))))
      .withColumn("est_a", est("n_a", "sig_a"))
      .withColumn("est_b", est("n_b", "sig_b"))
      .withColumn("est_u",
        when(size(col("merged")) < KmvK, size(col("merged")).cast("long"))
          .otherwise(expr(
            s"(${KmvK - 1} * 4294967296) div element_at(merged, $KmvK)")))
      .withColumn("est_inter",
        greatest(col("est_a") + col("est_b") - col("est_u"), lit(0L)))
    val inter = h.select(col("source").as("src_a"), col("h"))
      .join(h.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        expr("(1000000 * CAST(est_inter AS DECIMAL(38,0))) div est_u")
          .as("est_jaccard_ppm"),
        expr("(1000000 * CAST(inter AS DECIMAL(38,0))) div (n_a + n_b - inter)")
          .as("exact_jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** LSH parameter-tuning report — the empirical S-CURVE of the
    * production banding (k=8 slots, 4 bands × 2 rows): for every
    * co-shingle pair, bucket its exact Jaccard into tenths and report
    * what fraction of each bucket the band join actually surfaces as a
    * candidate. This is the table an engineer reads before committing
    * (bands, rows) at 100 TB: buckets far below the threshold should be
    * ≈0 (wasted verify work), buckets above it ≈1 (recall). Truth pairs
    * are the co-shingle pair space under the same df≤20 pruning as the
    * detector (disjoint-shingle pairs have Jaccard 0 and nothing to
    * surface); the bucket index is (common·10) div union — exact
    * integers, no float boundary. */
  private def lshCurve(s: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(s, dir)
    val truth = Dedup.jaccardPairs(sh, 0.0)
    val cands = Dedup.bandCandidates(
        Dedup.withBands(Dedup.minhashSignatures(sh, 8), 8, 2), 4)
      .withColumn("is_cand", lit(1L))
    truth.join(cands, Seq("id_a", "id_b"), "left")
      .withColumn("bucket",
        expr("(common * 10) div (size_a + size_b - common)").cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_candidates"))
      .select(col("bucket"), col("n_pairs"), col("n_candidates"),
        round(col("n_candidates").cast("double") / col("n_pairs"), 6)
          .as("candidate_rate"))
      .orderBy("bucket")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lsh_curve" -> lshCurve,
    "q_kmv_distinct" -> kmvDistinct,
    "q_kmv_jaccard" -> kmvJaccard,
    "q_dedup_canonical" -> canonical,
    "q_dedup_incremental" -> incremental,
    "q_dedup_incr_simhash" -> incrSimhash,
    "q_dedup_winnow" -> winnowPairs,
    "q_dedup_exact" -> exact,
    "q_dedup_jaccard" -> jaccard,
    "q_dedup_minhash" -> minhash,
    "q_dedup_simhash" -> simhash,
    "q_dedup_simhash64" -> simhash64,
    "q_dedup_ensemble" -> ensemble,
    "q_dedup_clusters" -> clusters,
    "q_cluster_purity" -> clusterPurity,
    "q_dedup_funnel" -> dedupFunnel,
    "q_cluster_sizes" -> clusterSizes,
    "q_tfidf_pairs" -> tfidf,
    "q_pagerank" -> pagerank,
    "q_graph_triangles" -> triangles,
    "q_communities" -> communities,
    "q_kcore" -> kcore,
    "q_dbscan" -> dbscanQ,
    "q_dedup_spans" -> dedupSpans,
    "q_span_cut" -> spanCut,
    "q_contamination_hops" -> contaminationHops,
    "q_ppjoin" -> ppjoin,
    "q_doc_novelty" -> docNovelty,
    "q_dup_source_matrix" -> dupSourceMatrix,
    "q_containment" -> containment,
    "q_minhash_est" -> minhashEst,
  )

  /** MinHash as a Jaccard ESTIMATOR: for each LSH candidate pair, the
    * signature agreement fraction (matching slots / 8) NEXT TO the exact
    * Jaccard and the estimation error — the sketch a 100 TB pipeline
    * ranks candidates with when exact verification is the expensive step
    * (E[matching/k] = J; k=8 keeps it coarse but md5-deterministic, so
    * the whole estimator replays in SQL and can be hash-gated — unlike a
    * seeded-random sketch). Signature frame is persisted once and feeds
    * bands, the estimate join, and nothing else twice. */
  private def minhashEst(s: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(s, dir)
    val sig = SharedFrames.register(Dedup.minhashSignatures(sh, 8))
    val cands = Dedup.bandCandidates(Dedup.withBands(sig, 8, 2), 4)
    val slotsA = sig.toDF("id_a" +: (1 to 8).map(j => s"a$j"): _*)
    val slotsB = sig.toDF("id_b" +: (1 to 8).map(j => s"b$j"): _*)
    val matches = (1 to 8).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    val exact = Dedup.verifyCandidates(cands, sh, 0.0)
    exact.join(slotsA, Seq("id_a")).join(slotsB, Seq("id_b"))
      .withColumn("est_jaccard", matches.cast("double") / 8)
      .select(col("id_a"), col("id_b"),
        col("est_jaccard"),
        round(col("jaccard"), 6).as("jaccard"),
        round(abs(matches.cast("double") / 8 - col("jaccard")), 6).as("abs_err"))
      .orderBy("id_a", "id_b")
  }

  /** Asymmetric CONTAINMENT pairs — the partial-dup case Jaccard misses:
    * a short doc quoted inside a long one has tiny J (the union is
    * dominated by the long doc) but containment |A∩B|/min(|A|,|B|) near
    * 1. Same bucketed shingle equi-join as the Jaccard pair generator;
    * the 9/10 threshold compares in the integer domain (common*10 >=
    * min_size*9), so no float boundary exists. */
  private def containment(s: SparkSession, dir: String): DataFrame = {
    val sh = sharedShingles(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = sh.select(col("doc_id").as("id_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("size_b")), Seq("id_b"))
      .filter(col("common") * 10 >= least(col("size_a"), col("size_b")) * 9)
      .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"),
        round(col("common").cast("double") / least(col("size_a"), col("size_b")), 6)
          .as("containment"))
      .orderBy("id_a", "id_b")
  }

  /** Duplicate-cluster size histogram — the dedup health report: how many
    * clusters of each size exist and how many docs they hold (a fat tail
    * of giant clusters usually means template spam or a detector-threshold
    * bug). Two tiny aggregations over the session clusters frame;
    * singleton docs never enter CC, so sizes start at 2. */
  private def clusterSizes(s: SparkSession, dir: String): DataFrame =
    sharedClusters(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")

  /** Per-document novelty/diversity profile — the memorization-risk
    * monitor: type-token ratio (lexical diversity) plus the fraction of
    * the doc's distinct shingles that occur NOWHERE else in the corpus
    * (novelty; 1 - shared ratio). Uses the UNPRUNED shingle frame — the
    * hot features the df<=20 frame drops are exactly the shared ones.
    * Shape: one token projection, one df aggregation over the shared raw
    * shingle frame, one vocab-bounded equi-join back. All ratios divide
    * exact counts. */
  private def docNovelty(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.functions.split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct_tokens"))
    val sh = sharedShinglesRaw(s, dir)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val shStats = sh.join(dfreq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_shingles"))
    toks.join(shStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        round(col("n_distinct_tokens").cast("double") / col("n_tokens"), 6).as("ttr"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        round(when(col("n_shingles").isNull, lit(1.0))
          .otherwise(lit(1.0) - col("n_shared_shingles").cast("double") / col("n_shingles")),
          6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix — the "who copies whom" monitor a
    * multi-source corpus needs: verified near-dup pair counts rolled up
    * by unordered source pair (within-source pairs on the diagonal).
    * Marginal cost over the session pair frame: two narrow doc->source
    * lookups + a |sources|²-bounded aggregation. */
  private def dupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    sharedJaccardPairs(s, dir)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("source_a") === col("source_b"))
      .orderBy("source_a", "source_b")
  }

  private val LpIters = 4
  private val HopRadius = 4

  /** Contamination blast radius ([[graft.ops.Graph.hopDistances]]): hop
    * distance from the benchmark docs (doc_id < 10) through the verified near-dup
    * graph, radius {{HopRadius}} — a near-dup of a near-dup of an eval
    * doc is still a leakage risk the direct-overlap check misses. */
  private def contaminationHops(s: SparkSession, dir: String): DataFrame = {
    val pairs = sharedJaccardPairs(s, dir)
    val seeds = Tables.documents(s, dir)
      .filter(col("doc_id") < 10).select("doc_id")
    graft.ops.Graph.hopDistances(pairs, seeds, maxHops = HopRadius,
        knownSize = sharedJaccardPairsCount(s, dir))
      .orderBy("doc_id")
  }

  /** LPA communities over the verified near-dup pair graph
    * ([[graft.ops.Graph.labelPropagation]]) — the density-aware companion
    * of `q_dedup_clusters`: bridge-linked cliques separate instead of
    * merging. Fixed {{LpIters}} synchronous rounds, argmax label with
    * min-label tiebreak, replayed exactly as unrolled SQL stages. */
  private def communities(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.labelPropagation(sharedJaccardPairs(s, dir), iters = LpIters,
        knownSize = sharedJaccardPairsCount(s, dir))
      .orderBy("doc_id")

  /** Shared ExactSubstr-span oracle preamble: 8-gram seeds (corpus count
    * >= 2), per-doc interval merge (lag + running sum), merged `spans`
    * CTE — consumed by the span-listing query and the span-cut apply.
    * `w` (per-doc word arrays) intentionally covers ALL docs; only `sh`
    * filters to len >= 8. */
  private val spansSqlPrefix: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    array_to_string(words[i:i+7], ' ') AS g
      |  FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - 7)) AS i
      |        FROM w WHERE len(words) >= 8)),
      |df AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
      |m AS (
      |  SELECT doc_id, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM sh JOIN df USING (g)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CAST(sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id
      |  FROM m),
      |spans AS (
      |  SELECT doc_id, span_id, min(pos) AS tok_from, max(pos) + 7 AS tok_to,
      |    count(*) AS n_seeds
      |  FROM isl GROUP BY doc_id, span_id)""".stripMargin

  /** Unrolled LPA rounds l1..l`n` over CTEs `edges` / `l0` (mirrors
    * Graph.labelPropagation's argmax recurrence). */
  private def lpRoundsSql(n: Int): String =
    (1 to n).map { k =>
      s"""c$k AS (
         |  SELECT e.dst, l.label, count(*) AS c
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.doc_id
         |  GROUP BY 1, 2),
         |l$k AS (
         |  SELECT dst AS doc_id, label FROM (
         |    SELECT dst, label,
         |      row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rn
         |    FROM c$k)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** Prefix-filter rational threshold 4/5 = 0.8, shared with the oracle. */
  private val PpNum = 4
  private val PpDen = 5

  /** Prefix-filtered set-similarity join ([[Dedup.prefixJaccardPairs]]):
    * the LOSSLESS alternative to this group's df<=20-pruned pair queries —
    * no feature is dropped, candidates come only from rarest-first
    * prefixes, and the whole pipeline (prefix length, length filter,
    * verify) compares in the integer domain. Runs on UNPRUNED shingles by
    * definition, so its pair set is a superset of `q_dedup_jaccard`'s. */
  private def ppjoin(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(sharedShinglesRaw(s, dir), PpNum, PpDen)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")

  /** Per-node triangle counts over the verified near-dup pair graph
    * ([[graft.ops.Graph.triangleCounts]]) — the local-density companion of
    * CC and PageRank: triangle-rich docs sit inside duplicate cliques,
    * triangle-free linked docs are the chain/bridge cases a pairwise
    * threshold admits. Shares the session pair frame, so the marginal
    * cost is the two wedge/closure equi-joins. */
  private def triangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleCounts(sharedJaccardPairs(s, dir))
      .orderBy("doc_id")

  private val DbscanMinPts = 2

  /** DBSCAN over the verified near-dup pair graph
    * ([[graft.ops.Similarity.dbscan]], minPts = {{DbscanMinPts}}): the
    * pair frame is the eps-neighborhood relation, degree >= minPts marks
    * cores, CC over core-core edges forms clusters, borders take their
    * MIN core neighbor's cluster, the rest (including docs with no pair
    * at all) is noise — the density-aware clustering next to CC's pure
    * reachability and LPA's label dynamics. The op is pair-source
    * generic: the LSH cosine pair frame plugs in identically (at test
    * scale that graph is nearly degree-1 everywhere, so the lexical
    * graph is the demonstrative substrate). */
  private def dbscanQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.dbscan(sharedJaccardPairs(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("vec_id")),
        DbscanMinPts,
        knownPairs = Some(sharedJaccardPairsCount(s, dir)),
        knownIds = Some(Tables.rowCount(s, dir, "documents")))
      .withColumnRenamed("vec_id", "doc_id")
      .orderBy("doc_id")

  /** Dedup attrition funnel — the `q_curation_gate` report shape for the
    * DEDUP stack: every document through three dedup signals IN SEQUENCE
    * (exact md5 → verified-Jaccard clusters → SimHash near-dup graph),
    * one row per stage with the docs passing that signal ALONE (n_pass)
    * and the docs surviving the stack so far (n_survivors) — the
    * attrition report a dedup owner reads before shipping the stack,
    * where the per-method queries only show each signal in isolation.
    * Keep rule per signal: the doc is its signal-group's CANONICAL
    * (smallest member of its md5 group / Jaccard CC cluster / SimHash
    * component; docs no signal pairs are their own canonical).
    *
    * Shape at scale: exact keying is the `q_dedup_exact` groupBy(fp)
    * agg + join-back (map-side combined, AQE-skew-splittable — NOT an
    * fp window, which would straggle on a mega-duplicated text),
    * Jaccard clusters are the session-shared CC frame, the SimHash
    * component runs CC over the session-shared banded pair frame
    * (sub-reducer scoped); the funnel itself is three doc_id left joins
    * + ONE counter aggregation unpivoted to 4 rows. */
  private def dedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val fps = sharedExactFps(s, dir)
    val canon = fps.groupBy("fp").agg(min(col("doc_id")).as("canon_id"))
    val ex = fps.join(canon, Seq("fp"))
      .select(col("doc_id"), (col("doc_id") === col("canon_id")).as("k1"))
    val jc = sharedClusters(s, dir)
    // the persisted frame goes in UNWRAPPED (CC projects id_a/id_b
    // itself): a .select here would hide the persist from the
    // assertPersisted contract check and from cache lookup
    val sc = Dedup.connectedComponents(
      sharedSimhash64Pairs(s, dir),
      knownSize = Some(SharedFrames.memoCount(s, s"simhash64:$dir")(
        sharedSimhash64Pairs(s, dir))))
      .withColumnRenamed("cluster_id", "s_cluster")
    val flags = ex
      .join(jc, Seq("doc_id"), "left")
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("k1"),
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .as("k2"),
        (col("s_cluster").isNull || col("s_cluster") === col("doc_id"))
          .as("k3"))
    flags.agg(
        count(lit(1)).as("n_total"),
        sum(when(col("k1"), 1L).otherwise(0L)).as("p1"),
        sum(when(col("k2"), 1L).otherwise(0L)).as("p2"),
        sum(when(col("k3"), 1L).otherwise(0L)).as("p3"),
        sum(when(col("k1") && col("k2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("k1") && col("k2") && col("k3"), 1L).otherwise(0L))
          .as("c3"))
      .select(expr(
        """stack(4,
          |  '0_total', n_total, n_total,
          |  '1_exact', p1, p1,
          |  '2_jaccard_cc', p2, c2,
          |  '3_simhash', p3, c3) AS (stage, n_pass, n_survivors)"""
          .stripMargin))
      .orderBy("stage")
  }

  private val CoreK = 2
  private val CoreIters = 4

  /** k-core backbone of the verified near-dup pair graph
    * ([[graft.ops.Graph.kCore]], k={{CoreK}}): the global-density member
    * of the graph trio — CC says reachable, triangles say locally dense,
    * k-core says the node survives after every sparse appendage peels
    * off. Fixed {{CoreIters}} peeling rounds replayed as unrolled SQL
    * stages (equality holds at any horizon: both engines run the same
    * rounds). */
  private def kcore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.kCore(sharedJaccardPairs(s, dir), CoreK, CoreIters,
        knownSize = sharedJaccardPairsCount(s, dir))
      .orderBy("doc_id")

  /** Unrolled peeling rounds e1..e`n` over the CTE `e0` (mirrors
    * Graph.kCore: degree filter >= `k`, then restrict both endpoints).
    * Every CTE is MATERIALIZED: each round references the previous edge
    * frame three times (degree agg + both endpoint joins), and DuckDB
    * inlines plain CTEs per reference — without materialization the
    * shingle self-join upstream re-expands 3^rounds times, which spills
    * DuckDB to death at sf0.1 (observed: 80 GB of temp before ENOSPC). */
  private def kcoreRoundsSql(n: Int, k: Int): String =
    (1 to n).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT src FROM e${r - 1} GROUP BY src HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN k$r a ON e.src = a.src
         |  JOIN k$r b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")

  /** Exact duplicated-substring spans ([[Dedup.duplicatedSpans]]) with
    * 8-token seeds: the ExactSubstr complement of the whole-document
    * near-dup detectors — it reports WHICH token ranges are duplicated
    * corpus-wide, the cut list for span-level dedup. */
  /** Duplicated-span frame built once per (session, dir) — the
    * seed-and-merge pipeline is the expensive part, shared by the
    * span-listing query and the span-cut apply. */
  private[queries] def sharedSpans(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"spans:$dir") {
      Dedup.duplicatedSpans(Tables.documents(s, dir), minLen = 8)
    }

  private def dedupSpans(s: SparkSession, dir: String): DataFrame =
    sharedSpans(s, dir).orderBy("doc_id", "tok_from")

  /** Apply side of the ExactSubstr spans: every token inside a duplicated
    * span is cut and docs are reassembled from the survivors — the
    * span-level dedup a whole-doc detector can't do. Spans explode to cut
    * positions (bounded: total cut tokens <= corpus tokens) and the cut
    * is ONE (doc_id, pos) equi-join; spans are disjoint by the
    * maximality law, so the left join cannot duplicate token rows. */
  private def spanCut(s: SparkSession, dir: String): DataFrame = {
    val spans = sharedSpans(s, dir)
    val cutPos = spans.select(col("doc_id"),
      explode(org.apache.spark.sql.functions.sequence(
        col("tok_from"), col("tok_to"))).as("pos"))
      .withColumn("cut", lit(true))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.functions.split(
          trim(col("text")), "\\s+")).as(Seq("p0", "tok")))
      .withColumn("pos", (col("p0") + 1).cast("long"))
    toks.join(cutPos, Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_cut"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("cut").isNull,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Structure-based centrality over the verified near-dup pair graph —
    * the companion of `q_dedup_clusters` (CC says which docs form a
    * group; PageRank says which member is most central). Fixed-point
    * integer iteration (see [[graft.ops.Graph.pageRank]]) so five rounds
    * replay exactly as five unrolled SQL stages. */
  private def pagerank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRank(sharedJaccardPairs(s, dir), iters = PrIters,
        knownSize = sharedJaccardPairsCount(s, dir))
      .orderBy("doc_id")

  private val PrIters = 5

  /** Unrolled fixed-point PageRank rounds r1..r`n` over CTEs `edges` /
    * `degs` / `nn` (mirrors Graph.pageRank's integer recurrence). */
  private def prRoundsSql(n: Int): String =
    (1 to n).map { k =>
      s"""r$k AS (
         |  SELECT e.dst AS doc_id,
         |    (1000000000000000 * 15) // (100 * (SELECT n FROM nn))
         |      + (85 * sum(r.pr // d.deg)) // 100 AS pr
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.doc_id
         |               JOIN degs d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")

  /** TF-IDF weighted cosine pairs over the shared df-pruned shingle frame
    * — the weighted complement of `q_dedup_jaccard` (shared rare shingles
    * count for more than shared common ones). See
    * [[Dedup.tfidfCosinePairs]] for why idf is the rational 1/df rather
    * than ln(N/df): the whole similarity stays in exact integer
    * arithmetic, which is what lets DuckDB replay it bit-for-bit. */
  private def tfidf(s: SparkSession, dir: String): DataFrame =
    Dedup.tfidfCosinePairs(sharedShingles(s, dir), DfMax, 0.5)
      .orderBy("id_a", "id_b")

  /** Winnow constants for the oracle: B^j mod M for the direct k-gram
    * polynomial (equal to the Scala rolling evaluation mod M). */
  private val WinnowM = (1L << 61) - 1
  private val WinnowPows: Seq[Long] = {
    val B = 1000003L
    Iterator.iterate(java.math.BigInteger.ONE)(
      _.multiply(java.math.BigInteger.valueOf(B))
        .mod(java.math.BigInteger.valueOf(WinnowM)))
      .map(_.longValueExact).take(8).toSeq
  }

  /** Shared oracle preamble ending in the df-pruned `fps(doc_id, fp)` CTE
    * — the SQL twin of [[sharedWinnowFps]]. K-gram hash = polynomial in
    * B=1000003 over char codes mod 2^61-1 (HUGEINT keeps the 8-term sum
    * exact); window minima via a 16-row frame; short docs (ngrams <= 16)
    * take the global min, which is the i=1 frame. */
  /** Shared oracle preamble ending in the brute-force 64-bit SimHash
    * `pairs(id_a, id_b, hamming)` CTE — consumed by q_dedup_simhash64
    * (full set) and q_dedup_incr_simhash (batch-restricted). */
  private val simhash64SqlPrefix: String =
    """WITH norm AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
      |th AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER) AS c0,
      |    CAST(('0x' || substr(md5(w), 5, 4)) AS INTEGER) AS c1,
      |    CAST(('0x' || substr(md5(w), 9, 4)) AS INTEGER) AS c2,
      |    CAST(('0x' || substr(md5(w), 13, 4)) AS INTEGER) AS c3
      |  FROM toks WHERE w <> ''),
      |votes AS (
      |  SELECT doc_id, b.bit,
      |    sum(CASE WHEN (
      |      (CASE WHEN b.bit < 16 THEN c3
      |            WHEN b.bit < 32 THEN c2
      |            WHEN b.bit < 48 THEN c1
      |            ELSE c0 END) >> (b.bit % 16)) & 1 = 1
      |      THEN 1 ELSE -1 END) AS vote
      |  FROM th, (SELECT unnest(generate_series(0, 63)) AS bit) b
      |  GROUP BY 1, 2),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN vote > 0 AND bit < 16 THEN 1 << bit ELSE 0 END) AS INTEGER) AS b1,
      |    CAST(sum(CASE WHEN vote > 0 AND bit >= 16 AND bit < 32 THEN 1 << (bit - 16) ELSE 0 END) AS INTEGER) AS b2,
      |    CAST(sum(CASE WHEN vote > 0 AND bit >= 32 AND bit < 48 THEN 1 << (bit - 32) ELSE 0 END) AS INTEGER) AS b3,
      |    CAST(sum(CASE WHEN vote > 0 AND bit >= 48 THEN 1 << (bit - 48) ELSE 0 END) AS INTEGER) AS b4
      |  FROM votes GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.b1, b.b1)) + bit_count(xor(a.b2, b.b2))
      |       + bit_count(xor(a.b3, b.b3)) + bit_count(xor(a.b4, b.b4)) AS INTEGER) AS hamming
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)""".stripMargin

  private[queries] val winnowSqlPrefix: String = winnowSqlPrefixWith("keep")

  /** Same preamble with the df-prune CTE name parameterized: the ensemble
    * oracle splices this after [[shingleSqlPrefix]], which already defines
    * a `keep` CTE — the caller passes a non-colliding name instead of
    * post-hoc string surgery on the SQL text. */
  private[queries] def winnowSqlPrefixWith(keepCte: String): String = {
    val p = WinnowPows
    s"""WITH norm AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |g AS (SELECT doc_id, t, len(t) - 7 AS ngrams FROM norm WHERE len(t) >= 8),
       |pos AS (SELECT doc_id, t, ngrams, unnest(generate_series(1, ngrams)) AS i FROM g),
       |hx AS (SELECT doc_id, ngrams, i, CAST((
       |    unicode(substr(t, i, 1))::HUGEINT * ${p(7)} +
       |    unicode(substr(t, i+1, 1))::HUGEINT * ${p(6)} +
       |    unicode(substr(t, i+2, 1))::HUGEINT * ${p(5)} +
       |    unicode(substr(t, i+3, 1))::HUGEINT * ${p(4)} +
       |    unicode(substr(t, i+4, 1))::HUGEINT * ${p(3)} +
       |    unicode(substr(t, i+5, 1))::HUGEINT * ${p(2)} +
       |    unicode(substr(t, i+6, 1))::HUGEINT * ${p(1)} +
       |    unicode(substr(t, i+7, 1))::HUGEINT * ${p(0)}
       |  ) % $WinnowM AS BIGINT) AS h
       |  FROM pos),
       |sel AS (SELECT doc_id, i, ngrams,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
       |  FROM hx),
       |raw AS (SELECT DISTINCT doc_id, fp FROM sel WHERE i <= greatest(ngrams - 15, 1)),
       |$keepCte AS (SELECT fp FROM raw GROUP BY fp HAVING count(*) <= $DfMax),
       |fps AS (SELECT raw.doc_id, raw.fp FROM raw JOIN $keepCte USING (fp))""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    // truth = every co-shingle pair (no threshold); candidates = the
    // same sig/band CTEs as q_dedup_minhash; bucket = (common*10)//union
    "q_lsh_curve" ->
      s"""$shingleSqlPrefix,
         |p AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |t AS (
         |  SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b
         |  FROM p JOIN sizes sa ON id_a = sa.doc_id
         |         JOIN sizes sb ON id_b = sb.doc_id),
         |sig AS (
         |  SELECT doc_id,
         |    min(substr(md5('mh1_' || shingle), 1, 16)) AS h1, min(substr(md5('mh2_' || shingle), 1, 16)) AS h2,
         |    min(substr(md5('mh3_' || shingle), 1, 16)) AS h3, min(substr(md5('mh4_' || shingle), 1, 16)) AS h4,
         |    min(substr(md5('mh5_' || shingle), 1, 16)) AS h5, min(substr(md5('mh6_' || shingle), 1, 16)) AS h6,
         |    min(substr(md5('mh7_' || shingle), 1, 16)) AS h7, min(substr(md5('mh8_' || shingle), 1, 16)) AS h8
         |  FROM sh GROUP BY doc_id),
         |banded AS MATERIALIZED (
         |  SELECT doc_id, md5(h1 || h2) AS band1, md5(h3 || h4) AS band2,
         |    md5(h5 || h6) AS band3, md5(h7 || h8) AS band4
         |  FROM sig),
         |cands AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band3 = b.band3 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band4 = b.band4 AND a.doc_id < b.doc_id))
         |SELECT CAST((common * 10) // (size_a + size_b - common) AS INTEGER)
         |    AS bucket,
         |  count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_candidates,
         |  round(CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS candidate_rate
         |FROM t LEFT JOIN cands c USING (id_a, id_b)
         |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // sh0 is the UNPRUNED shingle CTE; the k-th smallest hash via one
    // per-source rank window, the estimator in integer floor division
    "q_kmv_distinct" ->
      s"""$shingleSqlPrefix,
         |hv AS (SELECT DISTINCT d.source,
         |  CAST(('0x' || substr(md5('kmv_' || sh0.shingle), 1, 8)) AS BIGINT) AS h
         |  FROM sh0 JOIN documents d USING (doc_id)),
         |r AS (SELECT source, h,
         |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hv),
         |k AS (SELECT source, count(*) AS n_exact,
         |  max(CASE WHEN rn = $KmvK THEN h END) AS kth FROM r GROUP BY 1),
         |e AS (SELECT source, n_exact,
         |  CASE WHEN kth IS NULL THEN n_exact
         |       ELSE (${KmvK - 1} * 4294967296) // kth END AS est
         |  FROM k)
         |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(est AS BIGINT) AS est_distinct,
         |  round(CAST(est - n_exact AS DOUBLE) / n_exact, 6) AS rel_err
         |FROM e ORDER BY source""".stripMargin,
    // per-source KMV signatures (rn <= k), pair union re-ranked, both
    // estimators with the exact-fallback CASE, exact Jaccard via the
    // distinct-hash self-join; ppm numerators HUGEINT-widened
    "q_kmv_jaccard" ->
      s"""$shingleSqlPrefix,
         |hv AS (SELECT DISTINCT d.source,
         |  CAST(('0x' || substr(md5('kmv_' || sh0.shingle), 1, 8)) AS BIGINT) AS h
         |  FROM sh0 JOIN documents d USING (doc_id)),
         |r AS (SELECT source, h,
         |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n_exact FROM hv),
         |sig AS (SELECT source, max(n_exact) AS n_exact,
         |  max(CASE WHEN rn = $KmvK THEN h END) AS kth FROM r GROUP BY 1),
         |es AS (SELECT source, n_exact,
         |  CASE WHEN kth IS NULL THEN n_exact
         |       ELSE (${KmvK - 1} * 4294967296) // kth END AS est FROM sig),
         |px AS (SELECT a.source AS src_a, b.source AS src_b,
         |    a.n_exact AS n_a, b.n_exact AS n_b, a.est AS est_a, b.est AS est_b
         |  FROM es a JOIN es b ON a.source < b.source),
         |uh AS (SELECT p.src_a, p.src_b, x.h
         |  FROM px p JOIN (SELECT source, h FROM r WHERE rn <= $KmvK) x
         |    ON x.source = p.src_a OR x.source = p.src_b),
         |ud AS (SELECT DISTINCT src_a, src_b, h FROM uh),
         |ur AS (SELECT src_a, src_b, h,
         |  row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn,
         |  count(*) OVER (PARTITION BY src_a, src_b) AS nu FROM ud),
         |uk AS (SELECT src_a, src_b, max(nu) AS nu,
         |  max(CASE WHEN rn = $KmvK THEN h END) AS kth_u FROM ur GROUP BY 1, 2),
         |ue AS (SELECT src_a, src_b,
         |  CASE WHEN kth_u IS NULL THEN nu
         |       ELSE (${KmvK - 1} * 4294967296) // kth_u END AS est_u FROM uk),
         |ix AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
         |  FROM hv a JOIN hv b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
         |  CAST((1000000 *
         |      CAST(greatest(p.est_a + p.est_b - u.est_u, 0) AS HUGEINT))
         |    // u.est_u AS BIGINT) AS est_jaccard_ppm,
         |  CAST((1000000 * CAST(coalesce(ix.inter, 0) AS HUGEINT))
         |    // (p.n_a + p.n_b - coalesce(ix.inter, 0)) AS BIGINT)
         |    AS exact_jaccard_ppm
         |FROM px p JOIN ue u USING (src_a, src_b)
         |LEFT JOIN ix USING (src_a, src_b)
         |ORDER BY src_a, src_b""".stripMargin,

    "q_dedup_exact" ->
      """WITH fps AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp,
        |  count(*) OVER (PARTITION BY fp) AS n_same,
        |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
        |FROM fps ORDER BY doc_id""".stripMargin,

    // seed-and-merge ExactSubstr replay: 8-gram seeds with corpus count
    // >= 2, per-doc interval merge via lag + running sum; sh MATERIALIZED
    // (two consumers), window sum cast from DuckDB's HUGEINT to BIGINT
    "q_dedup_spans" ->
      s"""$spansSqlPrefix
         |SELECT doc_id, span_id, tok_from, tok_to, n_seeds
         |FROM spans ORDER BY doc_id, tok_from""".stripMargin,

    // apply side of the ExactSubstr spans: tokens inside any duplicated
    // span are cut (explode spans to cut positions -> one (doc_id, pos)
    // equi-join; spans are disjoint by the maximality law, so the left
    // join cannot duplicate token rows), docs reassembled from survivors
    "q_span_cut" ->
      s"""$spansSqlPrefix,
         |cut AS (SELECT doc_id, unnest(generate_series(tok_from, tok_to)) AS pos
         |        FROM spans),
         |toks AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, words[i] AS tok
         |         FROM (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i
         |               FROM w)),
         |j AS (SELECT t.doc_id, t.pos, t.tok, c.pos IS NOT NULL AS is_cut
         |      FROM toks t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         |  coalesce(string_agg(CASE WHEN NOT is_cut THEN tok END, ' ' ORDER BY pos), '')
         |    AS cleaned_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // L = lcm(1..DfMax) = 232792560: every (L/df)^2 is an exact integer,
    // HUGEINT sums mirror Spark's DECIMAL(38,0) sums bit-for-bit, and only
    // the final cosine ratio runs in (deterministic) IEEE double
    "q_tfidf_pairs" ->
      s"""$shingleSqlPrefix,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         |wsh AS (SELECT sh.doc_id, sh.shingle,
         |  CAST(232792560 // df AS HUGEINT) * CAST(232792560 // df AS HUGEINT) AS w2
         |  FROM sh JOIN dfs USING (shingle)),
         |norms AS (SELECT doc_id, sum(w2) AS s2 FROM wsh GROUP BY 1),
         |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    sum(a.w2) AS s_ab, count(*) AS n_common
         |  FROM wsh a JOIN wsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common,
         |  round(CAST(CAST(s_ab AS VARCHAR) AS DOUBLE)
         |    / sqrt(CAST(CAST(na.s2 AS VARCHAR) AS DOUBLE) * CAST(CAST(nb.s2 AS VARCHAR) AS DOUBLE)), 6) AS cosine
         |FROM dots JOIN norms na ON dots.id_a = na.doc_id
         |          JOIN norms nb ON dots.id_b = nb.doc_id
         |WHERE CAST(CAST(s_ab AS VARCHAR) AS DOUBLE)
         |    / sqrt(CAST(CAST(na.s2 AS VARCHAR) AS DOUBLE) * CAST(CAST(nb.s2 AS VARCHAR) AS DOUBLE)) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_jaccard" ->
      s"""$shingleSqlPrefix,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
         |  CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // sig slots mirror Dedup.minhashSignatures (independent family):
    // slot j = min first-16-hex of md5('mh<j>_' || shingle)
    "q_dedup_minhash" ->
      s"""$shingleSqlPrefix,
         |sig AS (
         |  SELECT doc_id,
         |    min(substr(md5('mh1_' || shingle), 1, 16)) AS h1, min(substr(md5('mh2_' || shingle), 1, 16)) AS h2,
         |    min(substr(md5('mh3_' || shingle), 1, 16)) AS h3, min(substr(md5('mh4_' || shingle), 1, 16)) AS h4,
         |    min(substr(md5('mh5_' || shingle), 1, 16)) AS h5, min(substr(md5('mh6_' || shingle), 1, 16)) AS h6,
         |    min(substr(md5('mh7_' || shingle), 1, 16)) AS h7, min(substr(md5('mh8_' || shingle), 1, 16)) AS h8
         |  FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, md5(h1 || h2) AS band1, md5(h3 || h4) AS band2,
         |    md5(h5 || h6) AS band3, md5(h7 || h8) AS band4
         |  FROM sig),
         |cands AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band3 = b.band3 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band4 = b.band4 AND a.doc_id < b.doc_id)),
         |common AS (
         |  SELECT c.id_a, c.id_b, count(*) AS common
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.id_a
         |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT m.id_a, m.id_b,
         |  CAST(m.common AS DOUBLE) / (sa.sz + sb.sz - m.common) AS jaccard
         |FROM common m
         |JOIN sizes sa ON m.id_a = sa.doc_id
         |JOIN sizes sb ON m.id_b = sb.doc_id
         |WHERE CAST(m.common AS DOUBLE) / (sa.sz + sb.sz - m.common) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin,

    // same sig/banded/cands CTEs as q_dedup_minhash; the estimate is the
    // slot-agreement fraction (dyadic n/8 — exact in doubles), compared
    // against the raw exact jaccard before any rounding
    "q_minhash_est" ->
      s"""$shingleSqlPrefix,
         |sig AS (
         |  SELECT doc_id,
         |    min(substr(md5('mh1_' || shingle), 1, 16)) AS h1, min(substr(md5('mh2_' || shingle), 1, 16)) AS h2,
         |    min(substr(md5('mh3_' || shingle), 1, 16)) AS h3, min(substr(md5('mh4_' || shingle), 1, 16)) AS h4,
         |    min(substr(md5('mh5_' || shingle), 1, 16)) AS h5, min(substr(md5('mh6_' || shingle), 1, 16)) AS h6,
         |    min(substr(md5('mh7_' || shingle), 1, 16)) AS h7, min(substr(md5('mh8_' || shingle), 1, 16)) AS h8
         |  FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, md5(h1 || h2) AS band1, md5(h3 || h4) AS band2,
         |    md5(h5 || h6) AS band3, md5(h7 || h8) AS band4
         |  FROM sig),
         |cands AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band3 = b.band3 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a
         |      JOIN banded b ON a.band4 = b.band4 AND a.doc_id < b.doc_id)),
         |common AS (
         |  SELECT c.id_a, c.id_b, count(*) AS common
         |  FROM cands c
         |  JOIN sh sa ON sa.doc_id = c.id_a
         |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT m.id_a, m.id_b, m.common,
         |    CAST(a.h1 = b.h1 AS INT) + CAST(a.h2 = b.h2 AS INT) +
         |    CAST(a.h3 = b.h3 AS INT) + CAST(a.h4 = b.h4 AS INT) +
         |    CAST(a.h5 = b.h5 AS INT) + CAST(a.h6 = b.h6 AS INT) +
         |    CAST(a.h7 = b.h7 AS INT) + CAST(a.h8 = b.h8 AS INT) AS nmatch
         |  FROM common m
         |  JOIN sig a ON m.id_a = a.doc_id
         |  JOIN sig b ON m.id_b = b.doc_id)
         |SELECT e.id_a, e.id_b, e.nmatch / 8.0 AS est_jaccard,
         |  round(CAST(e.common AS DOUBLE) / (sa.sz + sb.sz - e.common), 6) AS jaccard,
         |  round(abs(e.nmatch / 8.0
         |    - CAST(e.common AS DOUBLE) / (sa.sz + sb.sz - e.common)), 6) AS abs_err
         |FROM est e
         |JOIN sizes sa ON e.id_a = sa.doc_id
         |JOIN sizes sb ON e.id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    // mirrors SimHash.compute16: token hash = first 4 hex chars of
    // md5(token); per-bit +-1 votes with multiplicity; bit b set iff
    // vote(b) > 0. Brute-force hamming self-join == the 2x8-bit banded
    // Spark plan for hamming <= 1 (pigeonhole).
    "q_dedup_simhash" ->
      """WITH norm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER) AS h
        |  FROM toks WHERE w <> ''),
        |votes AS (
        |  SELECT doc_id, b.bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th, (SELECT unnest(generate_series(0, 15)) AS bit) b
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS sh16
        |  FROM votes GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.sh16, b.sh16)) AS INTEGER) AS hamming
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // mirrors SimHash.compute (64-bit): token hash = first 16 hex chars of
    // md5(token) = four 16-bit chunks c0..c3 (c0 = bits 63..48, hex chars
    // 1-4; c3 = bits 15..0, hex chars 13-16); per-bit +-1 votes with token
    // multiplicity; fingerprint kept as the four 16-bit band values b1..b4
    // (b1 = bits 0-15) so hamming = sum of per-band bit_count(xor) without
    // any 64-bit sign hazards. Brute-force self-join == the 4x16-bit
    // banded Spark plan for hamming <= 3 (pigeonhole).
    "q_dedup_simhash64" ->
      s"""$simhash64SqlPrefix
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // the FULL 64-bit pair set restricted to pairs touching the batch
    // (doc_id % 10 = 9) — equality with the batch-vs-index incremental
    // plan proves it loses nothing
    "q_dedup_incr_simhash" ->
      s"""$simhash64SqlPrefix
         |SELECT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= 3 AND (id_a % 10 = 9 OR id_b % 10 = 9)
         |ORDER BY id_a, id_b""".stripMargin,

    // the three detector pipelines verbatim (shingle-Jaccard, winnow
    // overlap with CTEs renamed to avoid the `keep` collision, 64-bit
    // SimHash with s-prefixed CTEs), outer-merged with per-method flags
    "q_dedup_ensemble" -> {
      val winnowPart = winnowSqlPrefixWith("wkeep").stripPrefix("WITH ")
      s"""$shingleSqlPrefix,
         |jp0 AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b, true AS by_jaccard FROM jp0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |$winnowPart,
         |wp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, true AS by_winnow
         |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |snorm AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
         |stoks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS ws FROM snorm),
         |sth AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(ws), 1, 4)) AS INTEGER) AS c0,
         |    CAST(('0x' || substr(md5(ws), 5, 4)) AS INTEGER) AS c1,
         |    CAST(('0x' || substr(md5(ws), 9, 4)) AS INTEGER) AS c2,
         |    CAST(('0x' || substr(md5(ws), 13, 4)) AS INTEGER) AS c3
         |  FROM stoks WHERE ws <> ''),
         |svotes AS (
         |  SELECT doc_id, sb.bit,
         |    sum(CASE WHEN (
         |      (CASE WHEN sb.bit < 16 THEN c3
         |            WHEN sb.bit < 32 THEN c2
         |            WHEN sb.bit < 48 THEN c1
         |            ELSE c0 END) >> (sb.bit % 16)) & 1 = 1
         |      THEN 1 ELSE -1 END) AS vote
         |  FROM sth, (SELECT unnest(generate_series(0, 63)) AS bit) sb
         |  GROUP BY 1, 2),
         |sfp AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN vote > 0 AND bit < 16 THEN 1 << bit ELSE 0 END) AS INTEGER) AS b1,
         |    CAST(sum(CASE WHEN vote > 0 AND bit >= 16 AND bit < 32 THEN 1 << (bit - 16) ELSE 0 END) AS INTEGER) AS b2,
         |    CAST(sum(CASE WHEN vote > 0 AND bit >= 32 AND bit < 48 THEN 1 << (bit - 32) ELSE 0 END) AS INTEGER) AS b3,
         |    CAST(sum(CASE WHEN vote > 0 AND bit >= 48 THEN 1 << (bit - 48) ELSE 0 END) AS INTEGER) AS b4
         |  FROM svotes GROUP BY 1),
         |sp AS (
         |  SELECT a.doc_id AS id_a, c.doc_id AS id_b, true AS by_simhash
         |  FROM sfp a JOIN sfp c ON a.doc_id < c.doc_id
         |  WHERE bit_count(xor(a.b1, c.b1)) + bit_count(xor(a.b2, c.b2))
         |      + bit_count(xor(a.b3, c.b3)) + bit_count(xor(a.b4, c.b4)) <= 3),
         |merged AS (
         |  SELECT id_a, id_b,
         |    COALESCE(by_jaccard, false) AS by_jaccard,
         |    COALESCE(by_simhash, false) AS by_simhash,
         |    COALESCE(by_winnow, false) AS by_winnow
         |  FROM jp
         |  FULL JOIN sp USING (id_a, id_b)
         |  FULL JOIN wp USING (id_a, id_b))
         |SELECT id_a, id_b, by_jaccard, by_simhash, by_winnow,
         |  CAST(by_jaccard AS INT) + CAST(by_simhash AS INT) + CAST(by_winnow AS INT) AS n_methods
         |FROM merged ORDER BY id_a, id_b""".stripMargin
    },

    // full pair set restricted to batch-touching pairs == what the
    // incremental batch-vs-index plan must produce
    "q_dedup_incremental" ->
      s"""$shingleSqlPrefix,
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
         |  CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8
         |  AND (id_a % 10 = 9 OR id_b % 10 = 9)
         |ORDER BY id_a, id_b""".stripMargin,

    // same recursive closure as q_dedup_clusters, then the quality pick
    // (longest text, id tiebreak) per component
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |sized AS (
         |  SELECT c.doc_id, c.cluster_id, d.n_chars,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |                       ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM comp c JOIN documents d USING (doc_id))
         |SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars, n_members
         |FROM sized WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // transitive closure via recursive CTE == the min-label fixpoint the
    // Spark side iterates to (both are "min reachable doc_id"); component
    // sizes are tiny so the closure is bounded
    // per-cluster counts -> size histogram over the same recursive closure
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |per AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  cluster_size * count(*) AS n_docs
         |FROM per GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM comp ORDER BY doc_id""".stripMargin,

    // cluster membership via the same recursive closure as
    // q_dedup_clusters; the purity stats aggregate the VERIFIED pair
    // frame per cluster (id_a's cluster keys the lookup — both endpoints
    // share one by construction)
    "q_cluster_purity" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jpx AS MATERIALIZED (
         |  SELECT id_a, id_b, common, sa.sz AS sza, sb.sz AS szb,
         |    CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
         |  FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jpx
         |          UNION SELECT id_b, id_a FROM jpx),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS MATERIALIZED (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |mem AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |        FROM comp GROUP BY 1),
         |es AS (SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
         |    min(j.jaccard) AS min_jaccard,
         |    CAST(sum(j.common) AS BIGINT) AS sum_common,
         |    CAST(sum(j.sza + j.szb - j.common) AS BIGINT) AS sum_union
         |  FROM jpx j JOIN comp c ON j.id_a = c.doc_id GROUP BY 1)
         |SELECT m.cluster_id, m.n_members, e.n_edges,
         |  (200 * e.n_edges) // (m.n_members * (m.n_members - 1)) AS density_pct,
         |  e.min_jaccard, e.sum_common, e.sum_union
         |FROM mem m JOIN es e USING (cluster_id)
         |ORDER BY cluster_id""".stripMargin,

    // dedup attrition funnel: exact-md5 window + the Jaccard recursive
    // closure + a second recursive closure over the brute-force SimHash
    // pairs (hamming <= 3); survivors = canonical under every prior
    // signal. The simhash prefix's own `pairs`/`fp` CTE names are
    // disjoint from the shingle prefix's; the exact stage uses `xfp`.
    "q_dedup_funnel" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |${simhash64SqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS MATERIALIZED (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |sp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs WHERE hamming <= 3),
         |sedges AS (SELECT id_a AS src, id_b AS dst FROM sp
         |           UNION SELECT id_b, id_a FROM sp),
         |reach2 AS (
         |  SELECT src, dst FROM sedges
         |  UNION
         |  SELECT r.src, e.dst FROM reach2 r JOIN sedges e ON r.dst = e.src),
         |comp2 AS MATERIALIZED (
         |  SELECT src AS doc_id, least(src, min(dst)) AS s_cluster
         |  FROM reach2 GROUP BY src),
         |exk AS (
         |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY xfp) AS k1
         |  FROM (SELECT doc_id,
         |          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS xfp
         |        FROM documents)),
         |flags AS (
         |  SELECT e.doc_id, e.k1,
         |    (c.cluster_id IS NULL OR c.cluster_id = e.doc_id) AS k2,
         |    (s2.s_cluster IS NULL OR s2.s_cluster = e.doc_id) AS k3
         |  FROM exk e
         |  LEFT JOIN comp c ON e.doc_id = c.doc_id
         |  LEFT JOIN comp2 s2 ON e.doc_id = s2.doc_id),
         |agg AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n_total,
         |    CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         |    CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
         |    CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
         |    CAST(sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END) AS BIGINT) AS c2x,
         |    CAST(sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END) AS BIGINT) AS c3x
         |  FROM flags)
         |SELECT '0_total' AS stage, n_total AS n_pass, n_total AS n_survivors FROM agg
         |UNION ALL SELECT '1_exact', p1, p1 FROM agg
         |UNION ALL SELECT '2_jaccard_cc', p2, c2x FROM agg
         |UNION ALL SELECT '3_simhash', p3, c3x FROM agg
         |ORDER BY stage""".stripMargin,

    // integer-mass PageRank: every round is exact integer arithmetic
    // (BIGINT // floors exactly like Spark's div), so 5 unrolled stages
    // reproduce the iterative Spark loop bit-for-bit
    "q_pagerank" ->
      s"""$shingleSqlPrefix,
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |degs AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM degs),
         |r0 AS (SELECT src AS doc_id,
         |       1000000000000000 // (SELECT n FROM nn) AS pr FROM degs),
         |${prRoundsSql(PrIters)}
         |SELECT p.doc_id, d.deg, CAST(p.pr AS BIGINT) AS pr_scaled
         |FROM r$PrIters p JOIN degs d ON p.doc_id = d.src
         |ORDER BY p.doc_id""".stripMargin,

    // containment threshold in the integer domain (common*10 >= min*9)
    "q_containment" ->
      s"""$shingleSqlPrefix,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
         |  round(CAST(common AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
         |FROM p
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE common * 10 >= least(sa.sz, sb.sz) * 9
         |ORDER BY id_a, id_b""".stripMargin,

    // bounded recursive BFS: UNION dedupes (doc_id, level) rows and
    // level < HopRadius bounds the recursion; min(level) = hop distance
    // because BFS levels only grow
    "q_contamination_hops" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |r AS (
         |  SELECT src AS doc_id, 0 AS level
         |  FROM (SELECT DISTINCT src FROM edges) WHERE src < 10
         |  UNION
         |  SELECT e.dst, r.level + 1
         |  FROM r JOIN edges e ON e.src = r.doc_id
         |  WHERE r.level < $HopRadius)
         |SELECT doc_id, CAST(min(level) AS BIGINT) AS hops
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // UNPRUNED shingles (the shared features are exactly what df-pruning
    // drops); counts exact, ratios divide exact counts
    "q_doc_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |t AS (SELECT doc_id, count(*) AS n_tokens,
        |        count(DISTINCT tok) AS n_distinct_tokens FROM toks GROUP BY 1),
        |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
        |idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx),
        |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |ss AS (SELECT sh.doc_id, count(*) AS n_shingles,
        |         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |       FROM sh JOIN dfq USING (shingle) GROUP BY 1)
        |SELECT t.doc_id, n_tokens, n_distinct_tokens,
        |  round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) AS ttr,
        |  coalesce(n_shingles, 0) AS n_shingles,
        |  coalesce(n_shared, 0) AS n_shared_shingles,
        |  round(CASE WHEN n_shingles IS NULL THEN 1.0
        |             ELSE 1.0 - CAST(n_shared AS DOUBLE) / n_shingles END, 6) AS novelty
        |FROM t LEFT JOIN ss USING (doc_id) ORDER BY doc_id""".stripMargin,

    // near-dup pair counts by unordered source pair over the same jp set
    "q_dup_source_matrix" ->
      s"""$shingleSqlPrefix,
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |m AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b
         |  FROM jp
         |  JOIN documents da ON jp.id_a = da.doc_id
         |  JOIN documents db ON jp.id_b = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |  source_a = source_b AS within_source
         |FROM m GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // synchronous LPA, LpIters unrolled rounds; argmax = row_number over
    // (c DESC, label ASC) == Spark's max(struct(c, -label))
    "q_communities" ->
      s"""$shingleSqlPrefix,
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS label FROM edges),
         |${lpRoundsSql(LpIters)}
         |SELECT doc_id, label AS community
         |FROM l$LpIters ORDER BY doc_id""".stripMargin,

    // degree >= minPts marks cores, recursive closure over core-core
    // edges forms clusters, borders take their MIN core neighbor's
    // cluster, the rest is noise
    "q_dbscan" ->
      s"""WITH RECURSIVE ${shingleSqlPrefix.stripPrefix("WITH ")},
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |und AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
         |        UNION ALL SELECT id_b, id_a FROM jp),
         |deg AS MATERIALIZED (SELECT src, count(*) AS degree FROM und GROUP BY 1),
         |core AS (SELECT src AS id FROM deg WHERE degree >= $DbscanMinPts),
         |ce AS (SELECT id_a, id_b FROM jp
         |       JOIN core a ON id_a = a.id JOIN core b2 ON id_b = b2.id),
         |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ce
         |          UNION SELECT id_b, id_a FROM ce),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |comp AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
         |         FROM reach GROUP BY src),
         |cclu AS (SELECT c.id, coalesce(comp.cluster_id, c.id) AS cluster_id
         |         FROM core c LEFT JOIN comp ON c.id = comp.id),
         |border AS (
         |  SELECT u.src AS doc_id, min(k.cluster_id) AS b_cluster
         |  FROM und u JOIN cclu k ON u.dst = k.id
         |  WHERE u.src NOT IN (SELECT id FROM core)
         |  GROUP BY u.src)
         |SELECT d0.doc_id,
         |  CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
         |  CASE WHEN cclu.id IS NOT NULL THEN 'core'
         |       WHEN border.doc_id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(cclu.cluster_id, border.b_cluster) AS cluster_id
         |FROM (SELECT doc_id FROM documents) d0
         |LEFT JOIN deg ON d0.doc_id = deg.src
         |LEFT JOIN cclu ON d0.doc_id = cclu.id
         |LEFT JOIN border ON d0.doc_id = border.doc_id
         |ORDER BY d0.doc_id""".stripMargin,

    // iterative peeling, CoreIters unrolled rounds; equality holds at any
    // horizon because both engines run exactly the same rounds
    "q_kcore" ->
      s"""$shingleSqlPrefix,
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
         |       UNION SELECT id_b, id_a FROM jp),
         |${kcoreRoundsSql(CoreIters, CoreK)}
         |SELECT src AS doc_id, count(*) AS core_deg
         |FROM e$CoreIters GROUP BY src ORDER BY doc_id""".stripMargin,

    // canonical-orientation triangle enumeration: jp rows carry id_a < id_b,
    // so the wedge+closure joins yield each triangle once with a < b < c
    "q_graph_triangles" ->
      s"""$shingleSqlPrefix,
         |pairs0 AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM pairs0
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8),
         |tri AS (
         |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         |  FROM jp e1 JOIN jp e2 ON e1.id_b = e2.id_a
         |  JOIN jp e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         |nodes AS (SELECT a AS doc_id FROM tri
         |          UNION ALL SELECT b FROM tri
         |          UNION ALL SELECT c FROM tri)
         |SELECT doc_id, count(*) AS n_triangles
         |FROM nodes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // UNPRUNED shingles by definition (the lossless complement of the
    // df<=20 family); prefix length, length filter, and verify all in
    // integer arithmetic -- `//` floors exactly like Spark's div
    "q_ppjoin" ->
      s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         |idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i FROM w),
         |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle FROM idx),
         |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |rk AS (SELECT s.doc_id, s.shingle, z.sz,
         |         row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS r
         |       FROM sh s JOIN dfreq d USING (shingle) JOIN sizes z USING (doc_id)),
         |pref AS (SELECT doc_id, shingle, sz FROM rk
         |         WHERE r <= sz - ($PpNum * sz + ${PpDen - 1}) // $PpDen + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |           a.sz AS size_a, b.sz AS size_b
         |         FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |         WHERE least(a.sz, b.sz) * $PpDen >= greatest(a.sz, b.sz) * $PpNum),
         |com AS (SELECT c.id_a, c.id_b, c.size_a, c.size_b, count(*) AS common
         |        FROM cand c
         |        JOIN sh x ON x.doc_id = c.id_a
         |        JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
         |        GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, common, size_a, size_b,
         |  round(CAST(common AS DOUBLE) / (size_a + size_b - common), 6) AS jaccard
         |FROM com
         |WHERE common * $PpDen >= (size_a + size_b - common) * $PpNum
         |ORDER BY id_a, id_b""".stripMargin,

    // same df<=20 pruning and shared_fps >= 5 cut as the Spark query
    "q_dedup_winnow" ->
      s"""$winnowSqlPrefix
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5
         |ORDER BY id_a, id_b""".stripMargin,
  )
}
