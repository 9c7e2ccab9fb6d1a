package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.SharedFrames
import graft.functions.SimHash

/** Deduplication operators for the training-data pipeline surface:
  * exact (hash-groupBy), n-gram Jaccard (shingle equi-join), MinHash+LSH
  * (band bucket-join + exact verify), SimHash (native expression + banded
  * hamming candidates), incremental batch-vs-index detection, and
  * connected-components clustering of the pair graph.
  *
  * Scale notes (the 100 TB design point):
  *  - shingle joins shuffle on the shingle string — high cardinality, well
  *    distributed; document-frequency pruning (drop shingles appearing in
  *    > df_max docs) bounds worst-case skew and is standard for web-scale
  *    near-dup; exposed via `maxShingleFreq` and APPLIED by the live
  *    queries (one Zipf-hot stop-shingle otherwise makes the self-join
  *    quadratic in its document frequency);
  *  - MinHash/LSH replaces the quadratic pair space with band-bucket
  *    equi-joins: candidates ~ true-positive pairs + band collisions, then
  *    an exact Jaccard verify over candidates only;
  *  - everything is hash-portable (md5-based), so results are reproducible
  *    across engines and runs — no JVM hashCode dependence;
  *  - nothing here persists silently: frames reused across queries are
  *    cached at the query layer via [[graft.core.SharedFrames.cached]],
  *    frames self-joined within one plan via
  *    [[graft.core.SharedFrames.register]] — both released by the runner's
  *    `SharedFrames.clear()`.
  */
object Dedup {

  /** Normalized text: lower, collapse whitespace. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Word n-gram shingles, one row per (doc_id, distinct shingle). */
  def shingles(docs: DataFrame, n: Int = 3,
               maxShingleFreq: Option[Int] = None): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val base = docs
      .withColumn("words", words)
      .withColumn("i",
        explode(when(size(col("words")) >= n,
            sequence(lit(1), size(col("words")) - (n - 1)))
          .otherwise(array().cast("array<int>"))))
      .withColumn("shingle",
        concat_ws(" ", (0 until n).map(k => element_at(col("words"), col("i") + k)): _*))
      .select("doc_id", "shingle")
      .distinct()
    maxShingleFreq match {
      case None => base
      case Some(f) =>
        // document-frequency pruning: stop-shingles explode the pair space
        val keep = base.groupBy("shingle").count().filter(col("count") <= f)
          .select("shingle")
        base.join(keep, Seq("shingle"))
    }
  }

  /** Prefix-filtered set-similarity join (the PPJoin family's prefix +
    * length filters): LOSSLESS candidate generation for Jaccard >= tNum/tDen
    * — the complement of document-frequency pruning, which bounds the pair
    * space by DROPPING hot features (and is mirrored as part of the query
    * definition). Here no feature is dropped:
    *
    *  - order each doc's features rarest-first (global df asc, feature
    *    tiebreak — the canonical ordering every doc agrees on);
    *  - a doc of size s only EMITS its first `s - ceil(t*s) + 1` features
    *    (the prefix): two sets with Jaccard >= t must overlap within their
    *    prefixes (pigeonhole — skipping that many features of either set
    *    cannot leave an intersection of the required size), so joining on
    *    prefix features finds every qualifying pair;
    *  - the length filter (tDen*min >= tNum*max, implied by J >= t) cuts
    *    size-incompatible candidates before verification;
    *  - exact set-overlap verify on the FULL feature sets, compared in the
    *    integer domain (c*tDen >= (sa+sb-c)*tNum — no float boundary).
    *
    * Scale shape: candidates shuffle ONLY on prefix features, which the
    * rarest-first ordering biases toward low-df keys — the Zipf head that
    * makes a naive feature self-join quadratic never becomes a join key
    * unless a doc is nearly all stop-features. Everything is integer
    * (ceil via `(tNum*s + tDen - 1) div tDen`), so the plan replays
    * bit-for-bit in any SQL engine.
    *
    * @param sh  distinct (doc_id, shingle) feature sets, UNPRUNED
    * @return (id_a, id_b, common, size_a, size_b, jaccard) pairs, J >= t
    */
  def prefixJaccardPairs(shRaw: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen)
    // the feature frame feeds four plan arms (df count, prefix build, and
    // both verify sides) — persist it within the query or the shingle
    // explode evaluates four times (skip if the caller passed an
    // already-persisted shared frame)
    val sh =
      if (shRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        SharedFrames.register(shRaw)
      else shRaw
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "shingle")
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pref = sh.join(dfreq, Seq("shingle"))
      .withColumn("r", row_number().over(w))
      .join(sizes, Seq("doc_id"))
      .filter(col("r") <= col("sz") - expr(s"($tNum * sz + ${tDen - 1}) div $tDen") + 1)
      .select("doc_id", "shingle", "sz")
    val prefP = SharedFrames.register(pref)
    val cand = prefP.select(col("doc_id").as("id_a"), col("shingle"), col("sz").as("size_a"))
      .join(prefP.select(col("doc_id").as("id_b"), col("shingle"), col("sz").as("size_b")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        least(col("size_a"), col("size_b")) * tDen >=
          greatest(col("size_a"), col("size_b")) * tNum)
      .select("id_a", "id_b", "size_a", "size_b")
      .distinct()
    val common = cand
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("common"))
    common
      .filter(col("common") * tDen >= (col("size_a") + col("size_b") - col("common")) * tNum)
      .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"),
        (col("common").cast("double") /
          (col("size_a") + col("size_b") - col("common"))).as("jaccard"))
  }

  /** Exact pairwise Jaccard over a shingle equi-join; emits pairs with
    * jaccard >= `threshold`. */
  def jaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    // NOTE (r12): an early-attach variant (sizes riding the shingle rows
    // into the self-join + PPJoin length prune before the pair count,
    // join-backs deleted) was implemented and MEASURED WORSE here: with
    // the shingle frame cached, the un-persisted sizes+join interior is
    // re-evaluated once per join side (AQE stage reuse does not fire
    // across InMemoryTableScan subtrees), and the lsh-curve truth build
    // (threshold 0) regressed 24->42 task-seconds. The join-back form
    // evaluates `sizes` exactly once. The lossless pruned shape at scale
    // is [[prefixJaccardPairs]] (which REGISTERS its annotated prefix
    // frame); the banded detectors prune via
    // [[bandCandidatesLengthPruned]].
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.select(col("doc_id").as("id_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("size_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("size_a") + col("size_b") - col("common")))
      .filter(col("jaccard") >= threshold)
  }

  /** Portable MinHash signature, k slots per doc. Two hash families:
    *
    *  - `independent = true` (default): slot j = min over shingles of the
    *    first 16 hex chars of `md5("mh<j>_" || shingle)` — k SALTED
    *    digests, so the slots are independent hash functions and the LSH
    *    band-collision probability follows the standard `1-(1-s^r)^b`
    *    S-curve. This is the production family: recall does not sag on
    *    corpora where correlated slots would collide (or miss) together.
    *  - `independent = false`: the one-digest variant — slot j = the
    *    16-hex-char window of md5(shingle) starting at hex position 2j-1
    *    (lexicographic min of the hex window == min of its 64-bit value).
    *    8x less digest work, but the overlapping windows make the slots
    *    correlated; kept as an option for throughput-bound candidate
    *    generation where the exact-Jaccard verify already guarantees the
    *    final answer.
    *
    * DedupSpec proves the independent family's candidate recall >= the
    * windowed family's on a planted near-dup corpus. */
  def minhashSignatures(sh: DataFrame, k: Int,
                        independent: Boolean = true,
                        withSize: Boolean = false): DataFrame = {
    if (independent) {
      // `withSize` rides the exact set size on the SAME per-doc
      // aggregation (zero extra pass/shuffle) — the length-filter input
      // of [[bandCandidatesLengthPruned]]; identical to the verify-side
      // `sizes` count by construction (same frame, same grouping)
      val aggs = (1 to k).map(j =>
        min(substring(md5(concat(lit(s"mh${j}_"), col("shingle"))), 1, 16)).as(s"h$j")) ++
        (if (withSize) Seq(count(lit(1)).as("sz")) else Nil)
      sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    } else {
      require(k >= 1 && 2 * (k - 1) + 16 <= 32,
        s"k=$k slots must fit as 16-hex windows of one md5 digest (k <= 9)")
      val withFp = sh.withColumn("fp", md5(col("shingle")))
      val aggs = (1 to k).map(j =>
        min(substring(col("fp"), 2 * (j - 1) + 1, 16)).as(s"h$j"))
      withFp.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }
  }

  /** LSH band keys over a signature: band b = md5(h_{2b-1} || h_{2b}). */
  def withBands(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    (1 to nBands).foldLeft(sig) { (df, b) =>
      val cols = ((b - 1) * rowsPerBand + 1 to b * rowsPerBand).map(j => col(s"h$j"))
      df.withColumn(s"band$b", md5(concat(cols: _*)))
    }
  }

  /** Candidate pairs from any band collision (distinct). Bands are
    * STACKED into (band_idx, band_key) rows and self-joined once on the
    * compound key — one shuffle of nBands x rows instead of one full
    * shuffle per band (same bytes moved, 1/nBands the stages; at cluster
    * scale neither join side is broadcastable, so stage count is the
    * cost). Callers persist `banded` (via SharedFrames) so the signature
    * aggregation isn't recomputed per side. */
  def bandCandidates(banded: DataFrame, nBands: Int): DataFrame = {
    val stacked = banded.select(col("doc_id"),
      explode(array((1 to nBands).map(b =>
        struct(lit(b).as("bi"), col(s"band$b").as("bk"))): _*)).as("band"))
      .select(col("doc_id"), col("band.bi").as("bi"), col("band.bk").as("bk"))
    stacked.select(col("doc_id").as("id_a"), col("bi"), col("bk"))
      .join(stacked.select(col("doc_id").as("id_b"), col("bi"), col("bk")),
        Seq("bi", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** [[bandCandidates]] with the PPJoin length filter folded into the band
    * self-join — for candidates that will be VERIFIED at Jaccard >=
    * `threshold` (`q_dedup_minhash`'s path; the curve/estimator queries
    * measure the RAW candidate set and must not prune). J = c/(sa+sb−c)
    * with c <= min and sa+sb−c >= max, and double division is monotone in
    * both arguments, so fl(J) <= fl(min/max): every pair the verify's
    * `jaccard >= threshold` filter can keep satisfies this filter — the
    * prune is result-identical (DedupSpec law) while cutting
    * size-incompatible candidates BEFORE the verify join probes the full
    * feature sets, which at corpus scale is the expensive pass. `banded`
    * must carry `sz` ([[minhashSignatures]] `withSize = true` — the size
    * rides the signature aggregation for free). */
  def bandCandidatesLengthPruned(banded: DataFrame, nBands: Int,
                                 threshold: Double): DataFrame = {
    val stacked = banded.select(col("doc_id"), col("sz"),
      explode(array((1 to nBands).map(b =>
        struct(lit(b).as("bi"), col(s"band$b").as("bk"))): _*)).as("band"))
      .select(col("doc_id"), col("sz"),
        col("band.bi").as("bi"), col("band.bk").as("bk"))
    stacked.select(col("doc_id").as("id_a"), col("sz").as("sz_a"),
        col("bi"), col("bk"))
      .join(stacked.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
        col("bi"), col("bk")), Seq("bi", "bk"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")) >= threshold)
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact-Jaccard verification restricted to candidate pairs. The second
    * shingle join keys on (id_b, shingle) — joining on id_b alone and
    * post-filtering shingle equality would materialize a size_a x size_b
    * intermediate per candidate pair, a quadratic-per-pair blowup at
    * scale; keyed on both columns it probes the intersection directly. */
  def verifyCandidates(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = cands
      .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("size_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("size_a") + col("size_b") - col("common")))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection: the pairs a NEW batch introduces —
    * batch-vs-corpus plus batch-vs-batch — WITHOUT re-joining the existing
    * corpus against itself. This is the production shape at scale: the
    * corpus shingle frame is a persisted index that each arriving batch
    * joins against, so per-batch cost is O(batch x collision rate), not
    * O(corpus^2). Result == the full self-join restricted to pairs
    * touching the batch (law-tested in DedupSpec and oracle-gated via
    * `q_dedup_incremental`).
    *
    * `shOld`/`shNew` are (doc_id, shingle) frames (df-pruning should be
    * applied upstream over the union so sizes agree with the full run);
    * pair ids are oriented (least, greatest) to match the self-join's
    * `id_a < id_b` convention. */
  def incrementalJaccardPairs(shOld: DataFrame, shNew: DataFrame,
                              threshold: Double): DataFrame = {
    // NOTE (r12): the jaccardPairs early-attach + length-prune variant
    // was tried here too and measured 9->17 jobs / +40% task time — the
    // un-persisted union-sizes interior re-evaluates once per consumer
    // (three join sides read it). Join-back keeps it at one evaluation.
    val all = shOld.unionByName(shNew)
    val sizes = all.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val newNew = shNew.select(col("doc_id").as("id_a"), col("shingle"))
      .join(shNew.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
    val newOld = shOld.select(col("doc_id").as("id_o"), col("shingle"))
      .join(shNew.select(col("doc_id").as("id_n"), col("shingle")), Seq("shingle"))
      .filter(col("id_o") =!= col("id_n")) // no self-pairs on overlapping sets
      .select(least(col("id_o"), col("id_n")).as("id_a"),
        greatest(col("id_o"), col("id_n")).as("id_b"), col("shingle"))
    val common = newNew.select("id_a", "id_b", "shingle")
      .unionByName(newOld)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("size_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("size_a") + col("size_b") - col("common")))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components of the near-dup pair graph: every doc that
    * appears in a pair, labeled with the smallest doc_id reachable through
    * pairs (the cluster id / canonical member). Pairs say "a duplicates
    * b"; clusters are what dedup actually needs — a chain a~b, b~c must
    * collapse to ONE kept document even though (a,c) was never directly
    * verified.
    *
    * Algorithm: min-label propagation (each vertex repeatedly takes the
    * min of its own and its neighbors' labels) — the standard distributed
    * CC formulation; converges in <= graph-diameter rounds, so `maxIters`
    * bounds the component diameter the call can handle (near-dup graphs
    * are near-cliques, diameter ~1-2; raise it for long-chain graphs).
    * Each round is one equi-join + one aggregation. Lineage is truncated
    * every round so round N's plan does not replay rounds 1..N-1:
    * `localCheckpoint` by default (blocks on executors — fast, but on a
    * real cluster a lost executor kills the job mid-iteration), or a
    * RELIABLE `checkpoint` when `reliable = true` (requires
    * `spark.sparkContext.setCheckpointDir` on durable storage — the 100 TB
    * configuration). The fixpoint (min reachable label) is unique, so the
    * result is deterministic regardless of scheduling.
    *
    * Convergence is detected by COUNTING changed labels (zero = fixpoint)
    * — a label-sum comparison would be cheaper to express but Spark's
    * non-ANSI Long sum wraps silently, and at billions of vertices "sum
    * unchanged" no longer implies "no label changed". Rounds run FUSED in
    * pairs (two propagations per convergence action): the fixpoint is
    * invariant under extra rounds, so a diameter-D component costs
    * ceil(D/2) convergence jobs instead of D at an identical result. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          reliable: Boolean = false,
                          knownSize: Option[Long] = None): DataFrame = {
    // Lazy truncation + reliable-mode checkpoint hygiene (see
    // [[RoundCheckpointer]]): the convergence-count action below
    // materializes each round's checkpoint, so a round costs ONE job,
    // and superseded label-frame checkpoints are deleted as the loop
    // advances instead of leaking one copy per round on durable storage.
    val cp = new RoundCheckpointer(pairs.sparkSession, reliable)
    def truncate(df: DataFrame): DataFrame = cp.truncate(df)
    // persist the input pair frame once (the symmetric build reads it
    // twice) and size the round-planning policy by it: AQE off for
    // sub-reducer-scale graphs — including the edge-frame BUILD, whose
    // 3 shuffle stages otherwise each pay an AQE replan — and on (skew
    // splitting) for real ones. |edges| <= 2|pairs| + |V|, so the pair
    // count is an honest proxy for every frame the loop touches.
    // `knownSize` = the caller vouches `pairs` is ALREADY persisted and
    // this is its row count (or an honest upper bound — the value only
    // gates round planning): skip the redundant re-persist and the count
    // job. Session-shared pair frames are counted once per session
    // ([[SharedFrames.memoCount]]) instead of once per consuming op.
    val p = knownSize match {
      case Some(_) =>
        SharedFrames.assertPersisted(pairs, "connectedComponents")
        pairs.select(col("id_a"), col("id_b"))
      case None => SharedFrames.register(pairs.select(col("id_a"), col("id_b")))
    }
    val nPairs = knownSize.getOrElse(p.count())
    Rounds.scopedForSize(pairs.sparkSession, nPairs) {
      // symmetric edges PLUS a self-loop per vertex: with (v, v) present,
      // min over neighbor labels already includes v's own label, so each
      // round is ONE join + ONE aggregation — the separate keep-own-label
      // join that a no-self-loop formulation needs per round is folded away
      val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      val edges = SharedFrames.register(
        sym.unionByName(
          sym.select(col("src")).distinct().select(col("src"), col("src").as("dst")))
          .distinct())
      // round 0 folds the first neighbor-min in: lbl = min(id, min nbr)
      var labels = truncate(edges.groupBy("src")
        .agg(min(col("dst")).as("lbl"))
        .select(col("src").as("id"), col("lbl")))
      // sum over an EMPTY frame yields a null cell — coalesce it so a
      // pair-free corpus converges to an empty result instead of an NPE
      def changedCount(df: DataFrame): Long = {
        val cell = df.agg(sum(col("chg"))).head().get(0)
        if (cell == null) 0L else cell.asInstanceOf[Long]
      }
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        val before = cp.beginRound()
        // TWO propagation rounds per convergence action: the result (the
        // unique min-reachable-label fixpoint) is invariant under extra
        // rounds, and "no label changed" checked on the SECOND half-step
        // is the same convergence criterion — so a diameter-D component
        // costs ceil(D/2) driver jobs instead of D. The mid frame stays
        // lineage-internal (plan depth is bounded at two rounds; lineage
        // still truncates once per action).
        val mid = edges
          .join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
          .groupBy("src").agg(min(col("lbl")).as("lbl"))
          .select(col("src").as("id"), col("lbl"))
        // the self-loop row carries each vertex's own label through the
        // join, so min(lbl) is the next label and the own-label minimum
        // (dst == src) detects change — one aggregation computes both
        val next = truncate(edges
          .join(mid.select(col("id").as("dst"), col("lbl")), Seq("dst"))
          .groupBy("src")
          .agg(min(col("lbl")).as("nlbl"),
            min(when(col("dst") === col("src"), col("lbl"))).as("own"))
          .select(col("src").as("id"), col("nlbl").as("lbl"),
            (col("nlbl") < col("own")).cast("long").as("chg")))
        converged = changedCount(next) == 0L
        // `next` is now fully materialized on durable storage; every one of
        // our checkpoints that predates this round is superseded — delete it
        cp.endRound(before)
        labels = next.select("id", "lbl")
        iter += 2
      }
      require(converged,
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component diameter exceeds maxIters; raise it for long-chain graphs")
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    }
  }

  /** Banded 64-bit SimHash fingerprint index: (doc_id, sh, b1..b4). This
    * is the frame a production pipeline PERSISTS as its corpus index —
    * each arriving batch fingerprints itself and joins the index per band
    * (see [[incrementalSimhashPairs]]); the full self-join detectors build
    * it on the fly. Token-less docs (empty/whitespace-only text) get
    * fingerprint 0 and would all pair with each other at hamming 0 —
    * meaningless matches a SQL replay also can't see (its token CTE drops
    * such docs); excluded up front. */
  def simhashIndex(docs: DataFrame): DataFrame =
    docs
      .filter(length(normText(col("text"))) > 0)
      .select(col("doc_id"),
        SimHash.simhash(normText(col("text"))).as("sh"))
      .withColumn("b1", col("sh").bitwiseAND(lit(0xffffL)))
      .withColumn("b2", shiftrightunsigned(col("sh"), 16).bitwiseAND(lit(0xffffL)))
      .withColumn("b3", shiftrightunsigned(col("sh"), 32).bitwiseAND(lit(0xffffL)))
      .withColumn("b4", shiftrightunsigned(col("sh"), 48).bitwiseAND(lit(0xffffL)))

  /** SimHash near-dup candidates: 4x16-bit bands of the 64-bit fingerprint
    * as bucket keys, hamming distance <= `maxHamming` verify.
    *
    * Pipeline-order contract at scale: run EXACT dedup first. Exact
    * duplicates share a fingerprint, so a text at multiplicity m makes
    * every band bucket m-hot and the verified pair set itself is
    * O(m^2) — no banding scheme can bound an output that is inherently
    * quadratic in duplicate multiplicity. Restrict the input to exact
    * canonicals first (`q_dedup_exact`'s min-id keep rule) and the
    * bucket join sees one row per distinct text, which is the profile
    * the md5-uniform banding is designed for. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding is exhaustive only for hamming <= 3")
    val banded = SharedFrames.register(simhashIndex(docs))
    val cands = (1 to 4).map { b =>
      val a = banded.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col(s"b$b").as("bk"))
      val c = banded.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col(s"b$b").as("bk"))
      a.join(c, Seq("bk")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    }.reduce(_ unionByName _).distinct()
    cands
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental SimHash64 near-dup detection: the pairs a NEW batch
    * introduces against a persisted banded fingerprint index
    * ([[simhashIndex]]) — batch-vs-corpus plus batch-vs-batch per band,
    * never corpus x corpus. The production shape at scale: per-batch cost
    * is O(batch x band collision rate) against the index, and the result
    * equals the full self-join restricted to batch-touching pairs
    * (fingerprints are per-doc, so the restriction is exact — law-tested
    * in DedupSpec, oracle-gated via `q_dedup_incr_simhash`). Pair ids are
    * oriented (least, greatest) to match the self-join's `id_a < id_b`. */
  def incrementalSimhashPairs(idxOld: DataFrame, idxNew: DataFrame,
                              maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding is exhaustive only for hamming <= 3")
    val cands = (1 to 4).map { b =>
      val nn = idxNew.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col(s"b$b").as("bk"))
        .join(idxNew.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col(s"b$b").as("bk")),
          Seq("bk"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
      val no = idxOld.select(col("doc_id").as("id_o"), col("sh").as("sh_o"), col(s"b$b").as("bk"))
        .join(idxNew.select(col("doc_id").as("id_n"), col("sh").as("sh_n"), col(s"b$b").as("bk")),
          Seq("bk"))
        // guard against overlapping id sets (a doc present in both index
        // and batch must not emit a degenerate self-pair)
        .filter(col("id_o") =!= col("id_n"))
        .select(
          least(col("id_o"), col("id_n")).as("id_a"),
          greatest(col("id_o"), col("id_n")).as("id_b"),
          when(col("id_o") < col("id_n"), col("sh_o")).otherwise(col("sh_n")).as("sh_a"),
          when(col("id_o") < col("id_n"), col("sh_n")).otherwise(col("sh_o")).as("sh_b"))
      nn.unionByName(no)
    }.reduce(_ unionByName _).distinct()
    cands
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 16-bit portable SimHash near-dup pairs: fingerprint = sign vector of
    * per-bit vote counts over md5-derived 16-bit token hashes (see
    * [[graft.functions.SimHash.compute16]] — every step is md5/bit-ops, so
    * a SQL engine reproduces it exactly). Banding into the two 8-bit
    * halves is exhaustive for hamming <= 1 (pigeonhole: one differing bit
    * falls in one band, the other band matches), so the banded plan is
    * result-identical to a brute-force self-join while staying an
    * equi-join at scale. */
  def simhash16Pairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 1,
      "2x8-bit banding is exhaustive only for hamming <= 1")
    // same empty-doc exclusion as simhashPairs (fingerprint-0 cross-pairs)
    val withSh = docs
      .filter(length(normText(col("text"))) > 0)
      .select(col("doc_id"),
        SimHash.simhash16(normText(col("text"))).as("sh16"))
    val banded = SharedFrames.register(withSh
      .withColumn("b1", col("sh16").bitwiseAND(lit(0xffL)))
      .withColumn("b2", shiftrightunsigned(col("sh16"), 8)))
    val cands = (1 to 2).map { b =>
      val a = banded.select(col("doc_id").as("id_a"), col("sh16").as("sh_a"), col(s"b$b").as("bk"))
      val c = banded.select(col("doc_id").as("id_b"), col("sh16").as("sh_b"), col(s"b$b").as("bk"))
      a.join(c, Seq("bk")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    }.reduce(_ unionByName _).distinct()
    cands
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** TF-IDF weighted cosine pair similarity over a (doc_id, feature) frame
    * — the weighted counterpart of [[jaccardPairs]] (which treats every
    * shared feature equally, this one down-weights common features).
    * Feature weight is rational idf `1/df`; the classic `ln(N/df)` is
    * deliberately NOT used because `ln` is libm-dependent and would break
    * bit-parity with a SQL oracle, while `1/df` keeps the whole similarity
    * inside exact integer arithmetic: with `L = lcm(1..dfMax)` each
    * squared weight is the exact integer `(L/df)^2` (the `1/L^2` common
    * factor cancels in the cosine ratio), norms and dot products are
    * DECIMAL(38,0) sums — order-independent and engine-identical — and
    * only the final `dot / sqrt(na*nb)` runs in IEEE double.
    *
    * Scale shape: identical to the Jaccard pipeline — one inverted-index
    * equi-join on the feature, viable only because the caller feeds a
    * df-pruned feature frame (`df <= dfMax`); a stop-feature would make
    * the self-join quadratic, which is exactly what the pruning bounds.
    * Reference analog: `fuzzy match against master` name-token overlap
    * scoring (chat_acreage_bot.py:1329–1395), generalized to weighted
    * lexical features. */
  def tfidfCosinePairs(feats: DataFrame, dfMax: Int, threshold: Double,
                       featureCol: String = "shingle"): DataFrame = {
    // lcm(1..dfMax) so every L/df is an exact integer
    val L: Long = (1 to dfMax).foldLeft(1L)((a, b) =>
      a / BigInt(a).gcd(BigInt(b)).toLong * b)
    // EXACT integer interior without per-row DECIMAL aggregation (r12):
    // w2 = (L/df)^2 <= L^2 (~5.4e16 at dfMax 20) fits a LONG, but per-doc
    // and per-pair SUMS of w2 overflow 2^63 at corpus scale — the old
    // form summed DECIMAL(38,0), a non-codegen-friendly 128-bit add per
    // row in the two hottest aggregations. Split each w2 into hi/lo LONG
    // halves at 2^28 and sum the halves: Σhi <= (L^2/2^28)·n ~ 2e8·n and
    // Σlo < 2^28·n stay far under 2^63 for any per-doc/per-pair
    // multiplicity n <= ~3e10 (no document carries 30 G shingles), and
    // the exact total Σw2 = Σhi·2^28 + Σlo is recombined in DECIMAL once
    // per GROUP (doc or pair), not per row. Bit-identical output: every
    // step is exact integer arithmetic and the final double cast sees
    // the same integer. Topology unchanged (norms joined back onto the
    // aggregated pair frame — an early-attach variant measured +50% task
    // time here because the un-persisted weighted frame re-evaluates per
    // join side over cached scans).
    val two28 = 1L << 28
    val dfs = feats.groupBy(featureCol).agg(count(lit(1)).as("df"))
    // REGISTERED (r12): the weighted frame feeds three plan arms (both
    // join sides + norms), and without a persist the df-count aggregation
    // and join re-evaluate once per arm (timed stage by stage in one JVM: the
    // ~0.7 s dfs+join interior ran 3x of the 2.7 s total; exchange reuse
    // does not fire across cached-scan subtrees). Same discipline as
    // prefixJaccardPairs' prefix frame.
    val wsh = SharedFrames.register(feats.join(dfs, Seq(featureCol))
      .withColumn("w2",
        (lit(L).cast("long") / col("df")).cast("long") *
          (lit(L).cast("long") / col("df")).cast("long"))
      .select(col("doc_id"), col(featureCol).as("feat"),
        expr(s"w2 div $two28").as("w2h"), (col("w2") % two28).as("w2l")))
    def whole(hi: String, lo: String) =
      expr(s"CAST($hi AS DECIMAL(38,0)) * $two28 + $lo")
    val norms = wsh.groupBy("doc_id")
      .agg(sum("w2h").as("nh"), sum("w2l").as("nl"))
      .select(col("doc_id"), whole("nh", "nl").as("s2"))
    val a = wsh.select(col("doc_id").as("id_a"), col("feat"),
      col("w2h"), col("w2l"))
    val b = wsh.select(col("doc_id").as("id_b"), col("feat"))
    val dots = a.join(b, Seq("feat"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum("w2h").as("sh"), sum("w2l").as("sl"),
        count(lit(1)).as("n_common"))
      .select(col("id_a"), col("id_b"), whole("sh", "sl").as("s_ab"),
        col("n_common"))
    dots
      .join(norms.select(col("doc_id").as("id_a"), col("s2").as("na")), Seq("id_a"))
      .join(norms.select(col("doc_id").as("id_b"), col("s2").as("nb")), Seq("id_b"))
      .withColumn("cosine",
        col("s_ab").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Exact duplicated-substring spans — the ExactSubstr dedup mode
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every maximal token span of a document covered by
    * `minLen`-token shingles occurring at least twice in the corpus
    * (self-repeats count, as in the paper). Near-dup detectors flag
    * whole documents; this reports WHICH ranges to cut.
    *
    * The paper's suffix array is a single-machine construct; the
    * distributed shape is seed-and-merge:
    *  1. L-gram explode with positions (bounded fan-out, one row per
    *     token);
    *  2. corpus-wide occurrence counts — one shuffle on the gram key,
    *     map-side partials absorb the Zipf head, and the count table is
    *     gram-cardinality, not corpus-cardinality;
    *  3. seeds (count >= 2) join back on the gram key;
    *  4. per-document gaps-and-islands: overlapping/adjacent seed
    *     intervals [pos, pos+L-1] merge into maximal spans (break when
    *     pos > prev + L). The lag + running-sum windows and the final
    *     span rollup all ride ONE doc_id exchange (the rollup's
    *     (doc_id, span_id) clustering is satisfied by the doc_id hash
    *     partitioning).
    *
    * Output: (doc_id, span_id, tok_from, tok_to, n_seeds), token
    * positions 1-based inclusive. */
  def duplicatedSpans(docs: DataFrame, minLen: Int): DataFrame = {
    val w = docs
      .withColumn("w", split(trim(col("text")), "\\s+"))
      .filter(size(col("w")) >= minLen)
    // the gram string exists only transiently IN-ROW: what leaves the row
    // is its 16-byte md5 (the ExactSubstr practice) — the seed frame that
    // explodes, shuffles for the count, and joins back is (doc_id, pos,
    // 16 bytes) instead of carrying ~minLen-word strings through two
    // exchanges. Grouping by the 128-bit hash is grouping by the gram
    // (collision odds ~2^-128·pairs — the same exactness class as the
    // repo's other md5 fingerprint keys); the oracle groups by the gram
    // text itself, so a collision would surface as a hash mismatch.
    val sh = w.select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (minLen - 1)), i =>
          struct(i.cast("long").as("pos"),
            unhex(md5(concat_ws(" ", slice(col("w"), i, lit(minLen)))))
              .as("gk")))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.gk").as("gk"))
    val counts = sh.groupBy("gk").agg(count(lit(1)).as("n_occ"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    sh.join(counts.filter(col("n_occ") >= 2), "gk")
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + minLen, 1L)
          .otherwise(0L))
      .withColumn("span_id",
        sum("brk").over(byDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("tok_from"),
        (max("pos") + (minLen - 1)).as("tok_to"),
        count(lit(1)).as("n_seeds"))
  }

}
