package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** BM25 retrieval over the `documents` corpus ([[graft.ops.Retrieval]]):
  * top-k, rerank, feedback expansion, passage ranking, pruning reports,
  * incremental indexes, phrase/proximity matching and the ranking-eval
  * metrics, each pinned by a DuckDB oracle. */
object RetrievalQueries extends QueryGroup {

  /** Term-frequency frame shared by the BM25, inverted-index, and
    * rank-fusion pipelines — built once per (session, dir). */
  private[queries] def sharedTermFreqs(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"bm25tf:$dir") {
      graft.ops.Retrieval.termFrequencies(Tables.documents(s, dir))
    }

  /** Positional postings shared by the phrase / proximity / MaxP
    * pipelines — the posexplode is one corpus pass; each consumer
    * otherwise re-runs it (twice, when it probes the frame against a
    * broadcast subset of itself). */
  private[queries] def sharedPostings(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"postings:$dir") {
      graft.ops.Retrieval.positionalPostings(Tables.documents(s, dir))
    }

  /** Session-shared BM25 index artifacts (tf/dl/df/stats): every consumer
    * that needs the index (scores, contribs, PRF's second pass) reads the
    * SAME cached dl/df/stats aggregations instead of re-running the
    * corpus-cardinality aggs per query — the materialize-once discipline
    * a 100 TB pipeline applies to its index build. */
  private[queries] def sharedBm25Index(
      s: SparkSession, dir: String): graft.ops.Retrieval.Bm25Index = {
    val tf = sharedTermFreqs(s, dir)
    // built by Retrieval.buildBm25Index itself — ONE definition of the
    // index formulas (an inline re-derivation here could silently drift
    // from directly-built indexes); only the caching layer is added
    val idx = graft.ops.Retrieval.buildBm25Index(
      Tables.documents(s, dir), Some(tf))
    graft.ops.Retrieval.Bm25Index(
      tf,
      graft.core.SharedFrames.cached(s, s"bm25dl:$dir")(idx.dl),
      graft.core.SharedFrames.cached(s, s"bm25df:$dir")(idx.df),
      graft.core.SharedFrames.cached(s, s"bm25st:$dir")(idx.stats))
  }

  /** Per-(query, doc) BM25 scores, built once per (session, dir) —
    * shared by the top-k query and the rank-fusion sparse side (they
    * differ only in the final k cut). */
  private[queries] def sharedBm25Scores(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"bm25sc:$dir") {
      graft.ops.Retrieval.bm25ScoresFromIndex(
        sharedBm25Index(s, dir), col("doc_id") < 3)
    }

  /** BM25 top-10 retrieval ([[graft.ops.Retrieval.bm25TopK]]): each doc
    * with doc_id < 3 queries the corpus with its 5 highest-tf tokens —
    * the eval-prompt / hard-negative retrieval pass, scored by the
    * log-free rational-idf BM25 in exact integer arithmetic (broadcast
    * postings probe + bounded-heap top-k; nothing per-query ever
    * sorts the corpus). */
  private def bm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.bm25TopK(Tables.documents(s, dir), col("doc_id") < 3,
        scoredOpt = Some(sharedBm25Scores(s, dir)))
      .orderBy("query_id", "rank")

  /** Late-interaction (MaxSim/ColBERT-style) rerank of the BM25 top-10
    * ([[graft.ops.Retrieval.maxSimRerank]]): per-query-token char-3-gram
    * hashed vectors, Σ_q max_d ⟨v_q, v_d⟩ over the candidate set, exact
    * integers end to end. Rides the session-shared tf + scored frames;
    * everything past the broadcast candidate probe is queries·k-bounded. */
  private def maxsimRerank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.maxSimRerank(Tables.documents(s, dir),
        col("doc_id") < 3, tfOpt = Some(sharedTermFreqs(s, dir)),
        scoredOpt = Some(sharedBm25Scores(s, dir)))
      .orderBy("query_id", "new_rank")

  /** RM3-style pseudo-relevance-feedback expansion
    * ([[graft.ops.Retrieval.prfExpand]]): top-5 feedback docs per query,
    * 3 heaviest non-query terms mined, second BM25 pass over the
    * expanded term set. Null `orig_rank` marks docs only expansion
    * surfaces. Rides the shared tf + scored frames. */
  private def prfExpandQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.prfExpand(Tables.documents(s, dir),
        col("doc_id") < 3, idxOpt = Some(sharedBm25Index(s, dir)),
        scoredOpt = Some(sharedBm25Scores(s, dir)))
      .orderBy("query_id", "new_rank")

  /** Passage-level BM25 with MaxP document ranking
    * ([[graft.ops.Retrieval.bm25MaxP]]): 50-token passages, documents
    * ranked by their best passage — the length-dilution fix for long
    * docs. Rides the shared doc-level tf only for the query terms; the
    * passage index is its own granularity. */
  private def bm25MaxPQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.bm25MaxP(Tables.documents(s, dir),
        col("doc_id") < 3, tfOpt = Some(sharedTermFreqs(s, dir)),
        postingsOpt = Some(sharedPostings(s, dir)))
      .orderBy("query_id", "rank")

  /** Inverted-index size statistics
    * ([[graft.ops.Retrieval.invertedIndexStats]]): block-delta postings
    * (128-doc blocks, LEB128 gap cost) rolled up per term — df, cf,
    * block count, encoded bytes — top-50 terms by df. The shard-size
    * estimate an index planner reads before building the real index. */
  private def invidxStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.invertedIndexStats(Tables.documents(s, dir),
        tfOpt = Some(sharedTermFreqs(s, dir)))
      .orderBy(col("df").desc, col("tok").asc)

  /** Append-batch split for the incremental-retrieval queries: documents
    * above 4/5 of the max doc id play the ARRIVING segment — append-only
    * ids, the Lucene segment model (new docs always get larger ids than
    * anything indexed), which is the contract
    * [[graft.ops.Retrieval.mergeIndexBlocks]] requires. The threshold
    * stays in the lazy plan (1-row broadcast cross join). */
  private def docsSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir)
    val thr = d.agg(expr("max(doc_id) * 4 div 5").as("thr"))
    (d.crossJoin(broadcast(thr)).filter(col("doc_id") <= col("thr")).drop("thr"),
      d.crossJoin(broadcast(thr)).filter(col("doc_id") > col("thr")).drop("thr"))
  }

  /** MaxScore pruning report ([[graft.ops.Retrieval.maxScorePrune]]):
    * per-term BM25 impact upper bounds vs the top-10 heap floor — how
    * many matched postings a MaxScore traversal provably skips for each
    * query. Rides the shared tf frame; the bounds aggregate the same
    * broadcast probe the scores use. */
  private def maxscorePrune(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.maxScorePrune(
        sharedBm25Contribs(s, dir), sharedBm25Scores(s, dir), 10)
      .orderBy("query_id")

  /** Session-shared per-term contribution frame — the probe the prune
    * reports max-aggregate; the scores frame sums the same rows. */
  private[queries] def sharedBm25Contribs(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"bm25ct:$dir") {
      graft.ops.Retrieval.bm25TermContribs(
        sharedBm25Index(s, dir), col("doc_id") < 3, 5)
    }

  /** Retrieval quality metrics over the BM25 top-10 — P@10, R@10, and
    * MRR per query, the eval loop every retrieval deployment closes
    * (the `q_ann_recall` pairing for the sparse side). Relevance label
    * DERIVED FROM THE DATA (the [[sharedTriLabels]] judgments): a doc is
    * relevant iff it shares at least one distinct word 3-gram with the
    * query doc — a lexical signal the ranking actually optimizes, so
    * precision/recall/MRR move when the ranking does (the earlier
    * same-`source` metadata stand-in scored near-random). MRR is
    * exact-rational as ppm (10^6 div first relevant rank); only the
    * displayed P/R are rounded doubles. Rides the session-shared scored
    * and label frames; every join side beyond the corpus lookup is
    * queries-bounded and broadcasts. */
  private def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val labels = sharedTriLabels(s, dir)
      .select(col("query_id"), col("doc_id"), lit(true).as("rel"))
    val topk = graft.ops.Retrieval
      .bm25TopKFromScores(sharedBm25Scores(s, dir), 10)
    val labeled = topk
      .join(labels, Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(false)))
    val relTotals = labels
      .groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    labeled.groupBy("query_id")
      .agg(sum(when(col("rel"), 1L).otherwise(0L)).as("hits"),
        min(when(col("rel"), col("rank"))).as("first_rel_rank"))
      .join(broadcast(relTotals), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"), col("first_rel_rank"),
        round(col("hits").cast("double") / 10d, 6).as("p_at_10"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          round(col("hits").cast("double") / col("n_rel"), 6))
          .as("recall_at_10"),
        coalesce(expr("1000000L div first_rel_rank"), lit(0L)).as("mrr_ppm"))
      .orderBy("query_id")
  }

  /** Hard-negative mining: per query, the top-5 HIGHEST-scoring
    * non-relevant documents (different `source`) — the contrastive-
    * training companion of [[retrievalEval]]: what an embedding model
    * trains AGAINST is exactly the lexically-close-but-wrong tail.
    * The negatives cut rides the same bounded-heap top-k aggregate as
    * the main ranking (k rows per query cross the exchange, never a
    * window over the match set). */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val qsrc = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("source").as("q_source"))
    val negScored = sharedBm25Scores(s, dir)
      .join(broadcast(qsrc), Seq("query_id"))
      .join(docs, Seq("doc_id"))
      .filter(col("source") =!= col("q_source"))
      .select("query_id", "doc_id", "n_terms_hit", "score")
    graft.ops.Retrieval.bm25TopKFromScores(negScored, 5)
      .join(docs, Seq("doc_id"))
      .select(col("query_id"), col("rank").as("neg_rank"),
        col("doc_id"), col("score"), col("source"))
      .orderBy("query_id", "neg_rank")
  }

  /** Block-Max WAND report ([[graft.ops.Retrieval.blockMaxPrune]]): the
    * per-(term, 128-doc-block) maxima vs the heap floor — what the block
    * skip structure buys INSIDE the essential terms MaxScore must walk. */
  private def blockmaxPrune(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.blockMaxPrune(
        sharedBm25Contribs(s, dir), sharedBm25Scores(s, dir), 10)
      .orderBy("query_id")

  /** Incremental BM25 ([[graft.ops.Retrieval.mergeBm25Index]]): the base
    * 4/5 of the corpus plays the shipped index (tf/dl/df/stats already
    * materialized), the top 1/5 arrives as a new batch — only the batch
    * is tokenized; postings and lengths append, df and the corpus totals
    * merge. Scoring the merged index must reproduce the full-rebuild
    * ranking EXACTLY (the oracle is the same full-corpus SQL as
    * `q_bm25_topk`), closing the one family that still rebuilt its index
    * per batch. */
  /** The shipped-index half of the incremental BM25 story, session-shared:
    * the base 4/5 index is deterministic per (session, dir) — exactly the
    * cost class the shared `sharedBm25Index` removed for the full-corpus
    * consumers — and without the cache the merged scoring plan re-runs the
    * base dl/df/stats aggregations once per artifact that reads them. The
    * base tf is the SESSION-SHARED tf restricted to base doc ids (tf rows
    * are per-doc, so the restriction is exact) — rebuilding it would
    * re-tokenize 4/5 of the corpus. */
  private[queries] def sharedBm25BaseIndex(
      s: SparkSession, dir: String): graft.ops.Retrieval.Bm25Index = {
    val (base, _) = docsSplit(s, dir)
    val baseTf = splitTf(s, dir)._1
    val idx = graft.ops.Retrieval.buildBm25Index(base, Some(baseTf))
    graft.ops.Retrieval.Bm25Index(
      baseTf,
      graft.core.SharedFrames.cached(s, s"bm25basedl:$dir")(idx.dl),
      graft.core.SharedFrames.cached(s, s"bm25basedf:$dir")(idx.df),
      graft.core.SharedFrames.cached(s, s"bm25basest:$dir")(idx.stats))
  }

  /** The shared tf split at the same 4/5 boundary as [[docsSplit]] —
    * (base, delta). Both halves are cheap filters over the persisted tf
    * (re-evaluation never re-tokenizes), so neither needs its own cache. */
  private def splitTf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val thr = Tables.documents(s, dir)
      .agg(expr("max(doc_id) * 4 div 5").as("thr"))
    val tf = sharedTermFreqs(s, dir)
    (tf.crossJoin(broadcast(thr)).filter(col("doc_id") <= col("thr")).drop("thr"),
      tf.crossJoin(broadcast(thr)).filter(col("doc_id") > col("thr")).drop("thr"))
  }

  private def bm25Incr(s: SparkSession, dir: String): DataFrame = {
    val (_, delta) = docsSplit(s, dir)
    // the delta tf is the shared tf restricted to the arriving ids — the
    // merge contract only needs the BATCH's postings, and the restriction
    // of the persisted frame costs a filter per re-evaluation instead of
    // a tokenization pass per index artifact
    val merged = graft.ops.Retrieval.mergeBm25Index(
      sharedBm25BaseIndex(s, dir), delta, dTfOpt = Some(splitTf(s, dir)._2))
    // the top-k cut reads its scores frame twice (heap + join-back);
    // sharedBm25Scores makes that free for the full-corpus consumers —
    // same discipline here, or the whole merged-scoring plan runs twice
    val scored = graft.core.SharedFrames.cached(s, s"bm25incrsc:$dir") {
      graft.ops.Retrieval.bm25ScoresFromIndex(merged, col("doc_id") < 3, 5)
    }
    graft.ops.Retrieval.bm25TopKFromScores(scored, 10)
      .orderBy("query_id", "rank")
  }

  /** Incremental inverted-index stats
    * ([[graft.ops.Retrieval.mergeIndexBlocks]]): base blocks play the
    * shipped block index; the arriving batch's postings fold in with
    * ONE (term, block) outer join — boundary blocks re-price only the
    * bridge gap, untouched blocks pass through byte-identical. Oracle:
    * the full-rebuild SQL of `q_invidx_stats`. */
  private def invidxIncr(s: SparkSession, dir: String): DataFrame = {
    val (base, delta) = docsSplit(s, dir)
    val merged = graft.ops.Retrieval.mergeIndexBlocks(
      graft.ops.Retrieval.indexBlocks(graft.ops.Retrieval.termFrequencies(base)),
      graft.ops.Retrieval.termFrequencies(delta))
    graft.ops.Retrieval.statsFromBlocks(merged, 50)
      .orderBy(col("df").desc, col("tok").asc)
  }

  /** Exact phrase match ([[graft.ops.Retrieval.phraseMatch]]): each query
    * doc's first 3 tokens as the phrase, answered by positional-posting
    * intersection (broadcast phrase terms, start-anchored adjacency
    * count) — never a substring scan of the corpus. */
  private def phraseMatchQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.phraseMatch(Tables.documents(s, dir),
        col("doc_id") < 3, 3, postingsOpt = Some(sharedPostings(s, dir)))
      .orderBy("query_id", "doc_id")

  /** Pairwise min-window proximity ranking
    * ([[graft.ops.Retrieval.proximityRank]]): per (query, doc), the
    * minimum token distance between every co-occurring pair of query
    * terms, scored Σ 10^6 div min_gap — the positional signal between
    * bag-of-words BM25 and exact phrase match. Rides the shared tf
    * frame; the in-row tagged-merge fold replaces the quadratic
    * position cross product (see the op scaladoc). */
  private def proximityRankQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.proximityRank(Tables.documents(s, dir),
        col("doc_id") < 3, tfOpt = Some(sharedTermFreqs(s, dir)),
        postingsOpt = Some(sharedPostings(s, dir)))
      .orderBy("query_id", "rank")

  /** Standard log2-discount nDCG@10 over the BM25 top-10 with graded
    * relevance DERIVED FROM THE DATA, not metadata: the judgment for
    * (query, doc) is the count of distinct word 3-grams the two texts
    * share (the shingle space the dedup family measures), tiered
    * gain 2 = ≥ 2 shared trigrams, gain 1 = exactly 1, 0 otherwise
    * (the query doc itself is excluded) — a real lexical-relevance
    * signal aligned with what the ranking is supposed to surface, so
    * the metric moves when the ranking does (the metadata stand-in
    * scored near-random). The ten rank discounts are PRECOMPUTED
    * integer constants floor(10^12 / log2(r+1)) — identical literals in
    * the Spark plan and the oracle SQL, so the one transcendental in
    * the metric never crosses an engine boundary and every sum/division
    * is exact (the ndcg product rides DECIMAL(38,0): dcg·10^6 tops
    * 2·10^19 > 2^63). IDCG needs only the per-query gain-2/gain-1
    * counts — the label aggregation plus a 10-row discount cross join,
    * never a sort of the relevance set.
    *
    * Shape at scale: the query shingles are queries-bounded and
    * BROADCAST against the corpus shingle frame (the contamination
    * probe's shape — the corpus never shuffles for the labels); the
    * (query, doc) overlap aggregation combines map-side. */
  /** Session-shared graded judgments for the retrieval-eval pair
    * (q_ndcg, q_retrieval_eval): (query_id, doc_id, ov) where ov = the
    * count of distinct word 3-grams the query doc and the candidate
    * share — only pairs with ov ≥ 1 appear. Query shingles broadcast
    * against the corpus shingle frame (the contamination probe's
    * shape); the aggregation combines map-side. */
  private[queries] def sharedTriLabels(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.cached(s, s"trilabels:$dir") {
      val sh = graft.ops.Dedup.shingles(Tables.documents(s, dir), n = 3)
      val qsh = sh.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("shingle"))
      sh.join(broadcast(qsh), Seq("shingle"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(count(lit(1)).as("ov"))
    }

  private def ndcgEval(s: SparkSession, dir: String): DataFrame = {
    // graded judgments: distinct shared trigrams per (query, candidate)
    val labels = sharedTriLabels(s, dir)
      .withColumn("gain", when(col("ov") >= 2, 2L).otherwise(1L))
    val disc = {
      import s.implicits._
      NdcgDiscounts.toDF("rank", "w")
    }
    val dcg = graft.ops.Retrieval
      .bm25TopKFromScores(sharedBm25Scores(s, dir), 10)
      .join(labels, Seq("query_id", "doc_id"), "left")
      .withColumn("gain", coalesce(col("gain"), lit(0L)))
      .join(broadcast(disc), Seq("rank"))
      .groupBy("query_id")
      .agg(sum(col("gain") * col("w")).as("dcg"))
    val idcg = labels
      .groupBy("query_id")
      .agg(sum(when(col("gain") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("gain") === 1, 1L).otherwise(0L)).as("n1"))
      .crossJoin(broadcast(disc)) // queries-bounded × 10 discount rows
      .withColumn("g",
        when(col("rank") <= col("n2"), 2L)
          .when(col("rank") <= col("n2") + col("n1"), 1L)
          .otherwise(0L))
      .groupBy("query_id", "n2", "n1")
      .agg(sum(col("g") * col("w")).as("idcg"))
    dcg.join(broadcast(idcg), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        col("dcg"),
        coalesce(col("idcg"), lit(0L)).as("idcg"),
        when(coalesce(col("idcg"), lit(0L)) > 0,
          expr("CAST(CAST(dcg AS DECIMAL(38,0)) * 1000000 div idcg AS BIGINT)"))
          .otherwise(0L).as("ndcg_ppm"))
      .orderBy("query_id")
  }

  /** floor(10^12 / log2(r+1)) for r = 1..10 — the published constant
    * table both engines read (computed once at 40-digit precision). */
  private val NdcgDiscounts: Seq[(Int, Long)] = Seq(
    1 -> 1000000000000L, 2 -> 630929753571L, 3 -> 500000000000L,
    4 -> 430676558073L, 5 -> 386852807234L, 6 -> 356207187108L,
    7 -> 333333333333L, 8 -> 315464876785L, 9 -> 301029995663L,
    10 -> 289064826317L)

  private def ndcgDiscountValuesSql: String =
    NdcgDiscounts.map { case (r, w) => s"($r, ${w}::BIGINT)" }.mkString(", ")

  override def shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "bm25_tf" -> (sharedTermFreqs(_, _)),
    "positional_postings" -> (sharedPostings(_, _)),
    "bm25_dl" -> ((s, d) => sharedBm25Index(s, d).dl),
    "bm25_df" -> ((s, d) => sharedBm25Index(s, d).df),
    "bm25_stats" -> ((s, d) => sharedBm25Index(s, d).stats),
    "bm25_scores" -> (sharedBm25Scores(_, _)),
    "bm25_contribs" -> (sharedBm25Contribs(_, _)),
    "tri_labels" -> (sharedTriLabels(_, _)),
    "bm25_base_dl" -> ((s, d) => sharedBm25BaseIndex(s, d).dl),
    "bm25_base_df" -> ((s, d) => sharedBm25BaseIndex(s, d).df),
    "bm25_base_stats" -> ((s, d) => sharedBm25BaseIndex(s, d).stats),
  )

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_topk" -> bm25TopK,
    "q_maxsim_rerank" -> maxsimRerank,
    "q_prf_expand" -> prfExpandQ,
    "q_bm25_maxp" -> bm25MaxPQ,
    "q_maxscore_prune" -> maxscorePrune,
    "q_blockmax_prune" -> blockmaxPrune,
    "q_retrieval_eval" -> retrievalEval,
    "q_hard_negatives" -> hardNegatives,
    "q_invidx_stats" -> invidxStats,
    "q_bm25_incr" -> bm25Incr,
    "q_invidx_incr" -> invidxIncr,
    "q_phrase_match" -> phraseMatchQ,
    "q_proximity_rank" -> proximityRankQ,
    "q_ndcg" -> ndcgEval,
  )

  /** BM25 pipeline CTEs (tokenize → tf/dl/df → corpus stats → top-5
    * query terms for doc_id < 3 → integer per-term contribution →
    * per-(query, doc) score → rank). Shared with the rank-fusion
    * oracle in SimilarityQueries; final rank cut applied by callers. */
  private[queries] def bm25CtesSql: String =
    """bt AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
      |       FROM documents),
      |btf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |        FROM bt GROUP BY 1, 2),
      |bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1),
      |bst AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
      |               (SELECT CAST(coalesce(sum(dl), 0) AS BIGINT) FROM bdl) AS t_total),
      |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
      |bqt AS (SELECT doc_id AS query_id, tok FROM (
      |    SELECT doc_id, tok,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tf DESC, tok ASC) AS rn
      |    FROM btf WHERE doc_id < 3) WHERE rn <= 5),
      |contrib AS (
      |  SELECT q.query_id, f.doc_id,
      |    (CAST(2 * (s.n - d.df) + 1 AS HUGEINT) * 22 * f.tf * s.t_total * 1000000)
      |      // (CAST(2 * d.df + 1 AS HUGEINT) *
      |          (10 * f.tf * s.t_total + 3 * s.t_total + 9 * l.dl * s.n)) AS c
      |  FROM bqt q JOIN btf f ON q.tok = f.tok
      |  JOIN bdf d ON q.tok = d.tok
      |  JOIN bdl l ON f.doc_id = l.doc_id
      |  CROSS JOIN bst s),
      |bsc AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
      |        CAST(sum(c) AS BIGINT) AS score FROM contrib GROUP BY 1, 2),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |         ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM bsc)""".stripMargin

  override def oracle: Map[String, String] = Map(
    // log-free rational-idf BM25 (k1=6/5, b=3/4, tf term multiplied
    // through by 10T): every per-term contribution is one HUGEINT
    // floored division, the score a BIGINT sum — no float anywhere
    "q_bm25_topk" ->
      s"""WITH $bm25CtesSql
        |SELECT query_id, doc_id, n_terms_hit, score, rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // MaxSim over the BM25 top-10: char-3-gram hashed token vectors
    // (substr clamps short tokens to themselves), integer dots, per-qtok
    // max clamped at 0, candidates with no interacting grams keep 0
    "q_maxsim_rerank" ->
      s"""WITH $bm25CtesSql,
        |cand AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 10),
        |itok AS (SELECT DISTINCT tok FROM (
        |    SELECT tok FROM bqt
        |    UNION ALL
        |    SELECT f.tok FROM btf f
        |      JOIN (SELECT DISTINCT doc_id FROM cand) cd USING (doc_id))),
        |g AS (SELECT tok, substr(tok, CAST(i AS INTEGER), 3) AS g
        |      FROM (SELECT tok,
        |              unnest(generate_series(1, greatest(length(tok) - 2, 1))) AS i
        |            FROM itok)),
        |vec AS (SELECT tok, CAST(h % 16 AS INTEGER) AS dim,
        |          CAST(sum(1 - 2 * ((h // 16) % 2)) AS BIGINT) AS v
        |        FROM (SELECT tok,
        |            CAST(('0x' || substr(md5('fh3_' || g), 1, 8)) AS BIGINT) AS h
        |          FROM g)
        |        GROUP BY 1, 2),
        |qv AS (SELECT q.query_id, q.tok AS qtok, v.dim, v.v AS vq
        |       FROM bqt q JOIN vec v ON v.tok = q.tok),
        |dv AS (SELECT f.doc_id, f.tok AS dtok, v.dim, v.v AS vd
        |       FROM btf f
        |       JOIN (SELECT DISTINCT doc_id FROM cand) cd USING (doc_id)
        |       JOIN vec v ON v.tok = f.tok),
        |dots AS (SELECT c.query_id, c.doc_id, q.qtok, d.dtok,
        |           sum(q.vq * d.vd) AS dot
        |         FROM cand c
        |         JOIN qv q ON q.query_id = c.query_id
        |         JOIN dv d ON d.doc_id = c.doc_id AND d.dim = q.dim
        |         GROUP BY 1, 2, 3, 4),
        |mx AS (SELECT query_id, doc_id, qtok, greatest(max(dot), 0) AS m
        |       FROM dots GROUP BY 1, 2, 3),
        |ms AS (SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS maxsim
        |       FROM mx GROUP BY 1, 2)
        |SELECT c.query_id, c.doc_id, c.rank AS bm25_rank,
        |  coalesce(ms.maxsim, 0) AS maxsim,
        |  CAST(row_number() OVER (PARTITION BY c.query_id
        |    ORDER BY coalesce(ms.maxsim, 0) DESC, c.rank ASC) AS INTEGER)
        |    AS new_rank
        |FROM cand c
        |LEFT JOIN ms ON ms.query_id = c.query_id AND ms.doc_id = c.doc_id
        |ORDER BY c.query_id, new_rank""".stripMargin,

    // passage-granular BM25 (positions assigned BEFORE the empty-token
    // filter, like positionalPostings), MaxP argmax with p-asc tiebreak,
    // doc-level bqt for the query terms
    "q_bm25_maxp" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |tokp AS (SELECT doc_id, words[i] AS tok, i
        |  FROM (SELECT doc_id, words,
        |          unnest(generate_series(1, len(words))) AS i FROM w)
        |  WHERE words[i] <> ''),
        |ptf AS (SELECT doc_id, (i - 1) // 50 AS p, tok,
        |          CAST(count(*) AS BIGINT) AS tf
        |        FROM tokp GROUP BY 1, 2, 3),
        |pdl AS (SELECT doc_id, p, CAST(sum(tf) AS BIGINT) AS dl
        |        FROM ptf GROUP BY 1, 2),
        |pst AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pdl) AS n,
        |          (SELECT CAST(coalesce(sum(dl), 0) AS BIGINT) FROM pdl)
        |            AS t_total),
        |pdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM ptf GROUP BY 1),
        |qtf AS (SELECT doc_id, tok, count(*) AS tf FROM tokp
        |        WHERE doc_id < 3 GROUP BY 1, 2),
        |bq AS (SELECT doc_id AS query_id, tok FROM (
        |    SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, tok ASC) AS rn FROM qtf) WHERE rn <= 5),
        |pc AS (SELECT q.query_id, f.doc_id, f.p,
        |    (CAST(2 * (s.n - d.df) + 1 AS HUGEINT) * 22 * f.tf * s.t_total * 1000000)
        |      // (CAST(2 * d.df + 1 AS HUGEINT) *
        |          (10 * f.tf * s.t_total + 3 * s.t_total + 9 * l.dl * s.n)) AS c
        |  FROM bq q JOIN ptf f ON q.tok = f.tok
        |  JOIN pdf d ON q.tok = d.tok
        |  JOIN pdl l ON f.doc_id = l.doc_id AND f.p = l.p
        |  CROSS JOIN pst s),
        |ps AS (SELECT query_id, doc_id, p, CAST(sum(c) AS BIGINT) AS pscore
        |       FROM pc GROUP BY 1, 2, 3),
        |bb AS (SELECT query_id, doc_id, p, pscore,
        |    row_number() OVER (PARTITION BY query_id, doc_id
        |      ORDER BY pscore DESC, p ASC) AS rn FROM ps),
        |bd AS (SELECT query_id, doc_id, CAST(p AS BIGINT) AS best_p,
        |         pscore AS best_score FROM bb WHERE rn = 1),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY best_score DESC, doc_id ASC) AS INTEGER) AS rank
        |       FROM bd)
        |SELECT query_id, doc_id, best_p, best_score, rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // RM3 PRF: feedback = rk top-5, expansion terms by total tf with a
    // NOT EXISTS original-term guard, second contribution pass over the
    // expanded term set (same integer formula), new top-10 left-joined
    // to the original ranks
    "q_prf_expand" ->
      s"""WITH $bm25CtesSql,
        |fb AS (SELECT query_id, doc_id FROM rk WHERE rank <= 5),
        |mined AS (
        |  SELECT f.query_id, t.tok, CAST(sum(t.tf) AS BIGINT) AS wt
        |  FROM fb f JOIN btf t USING (doc_id)
        |  WHERE NOT EXISTS (SELECT 1 FROM bqt q
        |                    WHERE q.query_id = f.query_id AND q.tok = t.tok)
        |  GROUP BY 1, 2),
        |ex AS (SELECT query_id, tok FROM (
        |    SELECT query_id, tok, row_number() OVER (PARTITION BY query_id
        |      ORDER BY wt DESC, tok ASC) AS rn FROM mined) WHERE rn <= 3),
        |qt2 AS (SELECT query_id, tok FROM bqt
        |        UNION ALL SELECT query_id, tok FROM ex),
        |contrib2 AS (
        |  SELECT q.query_id, f.doc_id,
        |    (CAST(2 * (s.n - d.df) + 1 AS HUGEINT) * 22 * f.tf * s.t_total * 1000000)
        |      // (CAST(2 * d.df + 1 AS HUGEINT) *
        |          (10 * f.tf * s.t_total + 3 * s.t_total + 9 * l.dl * s.n)) AS c
        |  FROM qt2 q JOIN btf f ON q.tok = f.tok
        |  JOIN bdf d ON q.tok = d.tok
        |  JOIN bdl l ON f.doc_id = l.doc_id
        |  CROSS JOIN bst s),
        |bsc2 AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
        |         CAST(sum(c) AS BIGINT) AS score FROM contrib2 GROUP BY 1, 2),
        |rk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM bsc2),
        |orig AS (SELECT query_id, doc_id, rank AS orig_rank FROM rk WHERE rank <= 10)
        |SELECT r.query_id, r.doc_id, r.rank AS new_rank, r.score AS exp_score,
        |  o.orig_rank
        |FROM rk2 r
        |LEFT JOIN orig o ON o.query_id = r.query_id AND o.doc_id = r.doc_id
        |WHERE r.rank <= 10
        |ORDER BY r.query_id, new_rank""".stripMargin,

    // MaxScore impact bounds: per-term max contribution over its matched
    // postings, ascending-bound prefix sums STRICTLY below the top-10
    // heap floor mark non-essential terms; the ct CTE is the contrib
    // probe with the term kept
    "q_maxscore_prune" ->
      s"""WITH $bm25CtesSql,
        |ct AS (
        |  SELECT q.query_id, q.tok, f.doc_id,
        |    (CAST(2 * (s.n - d.df) + 1 AS HUGEINT) * 22 * f.tf * s.t_total * 1000000)
        |      // (CAST(2 * d.df + 1 AS HUGEINT) *
        |          (10 * f.tf * s.t_total + 3 * s.t_total + 9 * l.dl * s.n)) AS c
        |  FROM bqt q JOIN btf f ON q.tok = f.tok
        |  JOIN bdf d ON q.tok = d.tok
        |  JOIN bdl l ON f.doc_id = l.doc_id
        |  CROSS JOIN bst s),
        |thr AS (SELECT query_id, CAST(min(score) AS BIGINT) AS threshold
        |        FROM rk WHERE rank <= 10 GROUP BY 1),
        |b AS (SELECT query_id, tok, CAST(max(c) AS BIGINT) AS ub,
        |        CAST(count(*) AS BIGINT) AS postings
        |      FROM ct GROUP BY 1, 2),
        |cb AS (SELECT b.query_id, tok, ub, postings, threshold,
        |    CAST(sum(ub) OVER (PARTITION BY b.query_id ORDER BY ub, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ub
        |  FROM b JOIN thr USING (query_id))
        |SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(CASE WHEN cum_ub < threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonessential,
        |  CAST(sum(postings) AS BIGINT) AS postings_total,
        |  CAST(sum(CASE WHEN cum_ub < threshold THEN postings ELSE 0 END) AS BIGINT)
        |    AS postings_skippable,
        |  CAST(min(threshold) AS BIGINT) AS threshold,
        |  CAST(sum(CASE WHEN cum_ub < threshold THEN postings ELSE 0 END) * 100
        |    // sum(postings) AS BIGINT) AS skip_pct
        |FROM cb GROUP BY query_id ORDER BY query_id""".stripMargin,

    // same-source relevance label; MRR exact-rational as ppm
    "q_retrieval_eval" ->
      s"""WITH $bm25CtesSql,
        |wsh AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
        |        FROM documents),
        |shidx AS (SELECT doc_id, words,
        |    unnest(generate_series(1, len(words) - 2)) AS i
        |  FROM wsh),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    array_to_string(words[i:i+2], ' ') AS shingle
        |  FROM shidx),
        |qsh AS (SELECT doc_id AS query_id, shingle FROM sh WHERE doc_id < 3),
        |rel AS MATERIALIZED (SELECT q.query_id, s.doc_id
        |      FROM sh s JOIN qsh q USING (shingle)
        |      WHERE s.doc_id <> q.query_id
        |      GROUP BY 1, 2),
        |lab AS (SELECT rk.query_id, rk.doc_id, rk.rank,
        |    (r.doc_id IS NOT NULL) AS rel
        |  FROM rk LEFT JOIN rel r ON rk.query_id = r.query_id
        |    AND rk.doc_id = r.doc_id
        |  WHERE rk.rank <= 10),
        |rt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM rel GROUP BY 1),
        |ag AS (SELECT query_id,
        |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    min(CASE WHEN rel THEN rank END) AS first_rel_rank
        |  FROM lab GROUP BY 1)
        |SELECT ag.query_id, CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
        |  hits, first_rel_rank,
        |  round(CAST(hits AS DOUBLE) / 10, 6) AS p_at_10,
        |  CASE WHEN coalesce(n_rel, 0) > 0
        |       THEN round(CAST(hits AS DOUBLE) / n_rel, 6) END AS recall_at_10,
        |  CAST(coalesce(1000000 // first_rel_rank, 0) AS BIGINT) AS mrr_ppm
        |FROM ag LEFT JOIN rt USING (query_id) ORDER BY query_id""".stripMargin,

    // highest-scoring different-source docs; the oracle's window is the
    // single-reducer formulation of the bounded-heap negatives cut
    "q_hard_negatives" ->
      s"""WITH $bm25CtesSql,
        |qsrc AS (SELECT doc_id AS query_id, source AS q_source
        |         FROM documents WHERE doc_id < 3),
        |neg AS (SELECT b.query_id, b.doc_id, b.score, d.source,
        |    row_number() OVER (PARTITION BY b.query_id
        |      ORDER BY b.score DESC, b.doc_id ASC) AS neg_rank
        |  FROM bsc b JOIN qsrc q USING (query_id)
        |  JOIN documents d ON b.doc_id = d.doc_id
        |  WHERE d.source <> q.q_source)
        |SELECT query_id, CAST(neg_rank AS INTEGER) AS neg_rank, doc_id,
        |  score, source
        |FROM neg WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin,

    // per-(term, block) maxima vs the heap floor; a block skips when its
    // best doc plus every OTHER term's global bound stays strictly below
    "q_blockmax_prune" ->
      s"""WITH $bm25CtesSql,
        |ct AS (
        |  SELECT q.query_id, q.tok, f.doc_id,
        |    (CAST(2 * (s.n - d.df) + 1 AS HUGEINT) * 22 * f.tf * s.t_total * 1000000)
        |      // (CAST(2 * d.df + 1 AS HUGEINT) *
        |          (10 * f.tf * s.t_total + 3 * s.t_total + 9 * l.dl * s.n)) AS c
        |  FROM bqt q JOIN btf f ON q.tok = f.tok
        |  JOIN bdf d ON q.tok = d.tok
        |  JOIN bdl l ON f.doc_id = l.doc_id
        |  CROSS JOIN bst s),
        |thr AS (SELECT query_id, CAST(min(score) AS BIGINT) AS threshold
        |        FROM rk WHERE rank <= 10 GROUP BY 1),
        |b AS (SELECT query_id, tok, CAST(max(c) AS BIGINT) AS ub
        |      FROM ct GROUP BY 1, 2),
        |tt AS (SELECT query_id, CAST(sum(ub) AS BIGINT) AS tot_ub
        |       FROM b GROUP BY 1),
        |bm AS (SELECT query_id, tok, doc_id // 128 AS blk,
        |    CAST(max(c) AS BIGINT) AS blk_max
        |  FROM ct GROUP BY 1, 2, 3),
        |cs AS (SELECT bm.query_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CASE WHEN (blk_max + (tot_ub - ub)) < threshold
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable_blocks
        |  FROM bm JOIN b USING (query_id, tok)
        |  JOIN tt USING (query_id) JOIN thr USING (query_id)
        |  GROUP BY 1),
        |du AS (SELECT ct.query_id, ct.doc_id,
        |    CAST(sum(blk_max) AS BIGINT) AS ub_doc
        |  FROM ct JOIN bm ON ct.query_id = bm.query_id AND ct.tok = bm.tok
        |    AND ct.doc_id // 128 = bm.blk
        |  GROUP BY 1, 2),
        |dr AS (SELECT du.query_id, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN ub_doc < threshold THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_docs_rejected,
        |    CAST(min(threshold) AS BIGINT) AS threshold
        |  FROM du JOIN thr USING (query_id) GROUP BY 1)
        |SELECT cs.query_id, n_blocks, n_skippable_blocks, n_docs,
        |  n_docs_rejected, threshold,
        |  CAST(n_docs_rejected * 100 // n_docs AS BIGINT) AS reject_pct
        |FROM cs JOIN dr USING (query_id) ORDER BY query_id""".stripMargin,

    // 128-doc-id block-delta postings; per-gap varint cost
    // ceil(bits/7) via length(bin(gap)); top-50 terms by df
    "q_invidx_stats" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |g AS (SELECT tok, doc_id, tf, doc_id // 128 AS blk FROM tf),
        |d AS (SELECT tok, tf, blk,
        |    coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok, blk
        |      ORDER BY doc_id), doc_id - blk * 128 + 1) AS gap
        |  FROM g)
        |SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf,
        |  CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
        |  CAST(sum((length(bin(gap)) + 6) // 7) AS BIGINT) AS encoded_bytes
        |FROM d GROUP BY 1 ORDER BY df DESC, tok ASC LIMIT 50""".stripMargin,

    // incremental (batch-vs-index) BM25 must equal the full rebuild —
    // the oracle is exactly the full-corpus pipeline
    "q_bm25_incr" ->
      s"""WITH $bm25CtesSql
        |SELECT query_id, doc_id, n_terms_hit, score, rank
        |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // incremental block-index merge must equal the full rebuild —
    // same full-corpus SQL as q_invidx_stats
    "q_invidx_incr" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |g AS (SELECT tok, doc_id, tf, doc_id // 128 AS blk FROM tf),
        |d AS (SELECT tok, tf, blk,
        |    coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok, blk
        |      ORDER BY doc_id), doc_id - blk * 128 + 1) AS gap
        |  FROM g)
        |SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf,
        |  CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
        |  CAST(sum((length(bin(gap)) + 6) // 7) AS BIGINT) AS encoded_bytes
        |FROM d GROUP BY 1 ORDER BY df DESC, tok ASC LIMIT 50""".stripMargin,

    // positional-posting phrase intersection: every start position where
    // ALL 3 phrase offsets hit (positions unique per doc, so count(*)
    // counts offsets), then occurrences per (query, doc)
    "q_phrase_match" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |p AS (SELECT doc_id, words[i] AS tok, i AS pos
        |      FROM (SELECT doc_id, words,
        |              unnest(generate_series(1, len(words))) AS i FROM w)
        |      WHERE len(words[i]) > 0),
        |q AS (SELECT doc_id AS query_id, words[o] AS tok, o AS off
        |      FROM (SELECT doc_id, words, unnest(generate_series(1, 3)) AS o
        |            FROM w WHERE doc_id < 3)
        |      WHERE len(words[o]) > 0),
        |j AS (SELECT q.query_id, p.doc_id, p.pos - q.off + 1 AS start
        |      FROM q JOIN p ON q.tok = p.tok),
        |occ AS (SELECT query_id, doc_id, start FROM j WHERE start >= 1
        |        GROUP BY 1, 2, 3 HAVING count(*) = 3)
        |SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
        |FROM occ GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin,

    // pairwise min-window proximity: query terms from the BM25 bqt CTE,
    // positions from the phrase-match p CTE; the oracle may pay the
    // quadratic position cross product the Spark fold avoids
    "q_proximity_rank" ->
      s"""WITH $bm25CtesSql,
        |w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
        |      FROM documents),
        |p AS (SELECT doc_id, words[i] AS tok, i AS pos
        |      FROM (SELECT doc_id, words,
        |              unnest(generate_series(1, len(words))) AS i FROM w)
        |      WHERE len(words[i]) > 0),
        |mp AS (SELECT q.query_id, p.doc_id, q.tok, p.pos
        |       FROM bqt q JOIN p ON q.tok = p.tok),
        |pg AS (SELECT a.query_id, a.doc_id, a.tok AS t1, b.tok AS t2,
        |         min(abs(a.pos - b.pos)) AS min_gap
        |       FROM mp a JOIN mp b
        |         ON a.query_id = b.query_id AND a.doc_id = b.doc_id
        |         AND a.tok < b.tok
        |       GROUP BY 1, 2, 3, 4),
        |sc2 AS (SELECT query_id, doc_id,
        |         CAST(count(*) AS BIGINT) AS n_pairs_hit,
        |         CAST(sum(1000000 // min_gap) AS BIGINT) AS prox_score
        |       FROM pg GROUP BY 1, 2),
        |rk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY prox_score DESC, doc_id ASC) AS INTEGER) AS rank
        |       FROM sc2)
        |SELECT query_id, doc_id, n_pairs_hit, prox_score, rank
        |FROM rk2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // standard log2-discount nDCG@10 with the precomputed integer
    // discount table (identical literals on the Spark side); graded
    // gains from source/lang metadata; HUGEINT only for the final
    // ppm product (mirrors the Spark DECIMAL(38,0) interior)
    "q_ndcg" ->
      s"""WITH $bm25CtesSql,
        |disc AS (SELECT * FROM (VALUES $ndcgDiscountValuesSql) AS t(rank, w)),
        |wsh AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
        |        FROM documents),
        |shidx AS (SELECT doc_id, words,
        |    unnest(generate_series(1, len(words) - 2)) AS i
        |  FROM wsh),
        |sh AS (SELECT DISTINCT doc_id,
        |    array_to_string(words[i:i+2], ' ') AS shingle
        |  FROM shidx),
        |qsh AS (SELECT doc_id AS query_id, shingle FROM sh WHERE doc_id < 3),
        |lab AS (SELECT q.query_id, s.doc_id,
        |        CASE WHEN count(*) >= 2 THEN 2 ELSE 1 END AS gain
        |      FROM sh s JOIN qsh q USING (shingle)
        |      WHERE s.doc_id <> q.query_id
        |      GROUP BY 1, 2),
        |g AS (SELECT r.query_id, r.rank, coalesce(l.gain, 0) AS gain
        |      FROM rk r
        |      LEFT JOIN lab l ON r.query_id = l.query_id
        |        AND r.doc_id = l.doc_id
        |      WHERE r.rank <= 10),
        |dcg AS (SELECT query_id, CAST(sum(gain * w) AS BIGINT) AS dcg
        |        FROM g JOIN disc USING (rank) GROUP BY 1),
        |c AS (SELECT query_id,
        |        CAST(sum(CASE WHEN gain = 2 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n2,
        |        CAST(sum(CASE WHEN gain = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n1
        |      FROM lab
        |      GROUP BY 1),
        |i AS (SELECT c.query_id, c.n2, c.n1,
        |        CAST(sum(CASE WHEN disc.rank <= c.n2 THEN 2 * w
        |                 WHEN disc.rank <= c.n2 + c.n1 THEN w
        |                 ELSE 0 END) AS BIGINT) AS idcg
        |      FROM c CROSS JOIN disc GROUP BY 1, 2, 3)
        |SELECT dcg.query_id,
        |  coalesce(i.n2, 0) AS n2, coalesce(i.n1, 0) AS n1, dcg.dcg,
        |  coalesce(i.idcg, 0) AS idcg,
        |  CASE WHEN coalesce(i.idcg, 0) > 0 THEN
        |    CAST((CAST(dcg.dcg AS HUGEINT) * 1000000) // i.idcg AS BIGINT)
        |  ELSE 0 END AS ndcg_ppm
        |FROM dcg LEFT JOIN i ON dcg.query_id = i.query_id
        |ORDER BY dcg.query_id""".stripMargin,
  )
}
