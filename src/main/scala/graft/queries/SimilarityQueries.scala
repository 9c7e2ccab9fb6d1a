package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SharedFrames, Tables}
import graft.ops.Similarity

/** Similarity search over `embeddings`: brute-force cosine top-k (the
  * correctness baseline), random-hyperplane LSH bucketed near-dup pairs
  * and seeded IVF ANN (both scale paths).
  * Every query is oracle-verified — the LSH plane matrix is inlined into
  * the generated SQL, and the IVF centroid seeding is recomputed by the
  * SQL itself.
  */
object SimilarityQueries extends QueryGroup {

  /** Brute-force cosine top-5 for query vectors vec_id < 5. */
  private def topk(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(Tables.embeddings(s, dir), col("vec_id") < 5, 5)
      .orderBy("query_id", "rank")

  /** Embedding-space decontamination — the semantic sibling of the
    * n-gram/winnow checks: flag corpus vectors whose cosine to ANY
    * benchmark vector (modeled as vec_id < 8) reaches 0.3 (calibrated to
    * the synthetic embeddings, max cross cosine ~0.49). Directional
    * broadcast shape: the eval set is tiny and rides to every executor,
    * the corpus never shuffles, and the per-vector argmax window
    * partitions on vec_id with at most |eval| rows — the check costs one
    * narrow pass over the corpus at any scale. Output per contaminated
    * vector: hit count, best-matching benchmark id (cosine desc, id asc
    * tiebreak on the ROUNDED cosine — the cross-engine comparison key),
    * best cosine. */
  private def contaminationEmbed(s: SparkSession, dir: String): DataFrame = {
    val n = Similarity.withNorm(Tables.embeddings(s, dir))
    val q = n.filter(col("vec_id") < 8)
      .select(col("vec_id").as("eval_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val hits = n.filter(col("vec_id") >= 8)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        round(Similarity.dot(col("qv"), col("v")) /
          (col("qn") * col("nrm")), 6))
      .filter(col("cosine") >= 0.3)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
    val rw = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("eval_id").asc)
    hits
      .withColumn("n_eval_hits", count(lit(1)).over(cw))
      .withColumn("rn", row_number().over(rw))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("n_eval_hits"),
        col("eval_id").as("best_eval_id"), col("cosine").as("best_cosine"))
      .orderBy("vec_id")
  }

  /** LSH near-dup pair frame (8 hyperplanes; cosine >= 0.35 — calibrated
    * to the synthetic embeddings, whose max pairwise cosine is ~0.51),
    * built once per (session, dir): the bucket-join + cosine-verify is the
    * expensive subtree and feeds both the pair-listing query and the
    * semantic-cluster query. */
  private[queries] def sharedLshPairs(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"lshpairs:$dir") {
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir), 8, 0.35)
    }

  /** LSH-bucketed ANN near-dup pairs. Oracle-verified: the md5-derived
    * plane matrix is inlined into the generated SQL, so DuckDB buckets
    * identically. */
  private def lsh(s: SparkSession, dir: String): DataFrame =
    sharedLshPairs(s, dir)
      .select(col("id_a"), col("id_b"), col("bucket"), col("cosine"))
      .orderBy("id_a", "id_b")

  /** The SQL form of [[Similarity.planes]] — identical values by
    * construction (same md5 derivation, rendered as list literals). */
  private def lshPairsSqlPrefix: String = {
    val ps = Similarity.planes(8, 64)
    val bucketExpr = ps.zipWithIndex.map { case (p, i) =>
      val lst = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, ${lst}::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n     + ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |b AS (SELECT vec_id, v, nrm,
       |  CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM n),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.bucket,
       |    round(list_dot_product(a.v, c.v) / (a.nrm * c.nrm), 6) AS cosine
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)""".stripMargin
  }

  /** `q_sim_curve` oracle: same inlined plane matrix, sampled vectors,
    * all-pairs cosine bucketed by floor(c·10) (floor BEFORE the int cast
    * — a bare integer cast truncates toward zero on the negative
    * buckets). */
  private def simCurveOracleSql: String = {
    val ps = Similarity.planes(8, 64)
    val bucketExpr = ps.zipWithIndex.map { case (p, i) =>
      val lst = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, ${lst}::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n     + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings WHERE vec_id % 5 = 0),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |b AS (SELECT vec_id, v, nrm, CAST($bucketExpr AS BIGINT) AS bucket
       |      FROM n),
       |pr AS (
       |  SELECT a.bucket = c.bucket AS is_cand,
       |    list_dot_product(a.v, c.v) / (a.nrm * c.nrm) AS cosine
       |  FROM b a JOIN b c ON a.vec_id < c.vec_id)
       |SELECT CAST(floor(cosine * 10) AS INTEGER) AS cos_bucket,
       |  count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_candidates,
       |  round(CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS candidate_rate
       |FROM pr GROUP BY 1 ORDER BY cos_bucket""".stripMargin
  }

  private def lshOracleSql: String =
    s"""WITH $lshPairsSqlPrefix
       |SELECT id_a, id_b, bucket, cosine FROM pairs
       |WHERE cosine >= 0.35 ORDER BY id_a, id_b""".stripMargin

  /** Same recursive closure as q_dedup_clusters, over the LSH cosine
    * pair graph. */
  /** Shared recursive-closure preamble: LSH pairs → undirected edges →
    * transitive reach → per-vector smallest-member component label. */
  private def simCompSqlPrefix: String =
    s"""$lshPairsSqlPrefix,
       |jp AS (SELECT id_a, id_b FROM pairs WHERE cosine >= 0.35),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
       |          UNION SELECT id_b, id_a FROM jp),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
       |comp AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src)""".stripMargin

  private def simClustersOracleSql: String =
    s"""WITH RECURSIVE $simCompSqlPrefix
       |SELECT vec_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  vec_id = cluster_id AS is_canonical
       |FROM comp ORDER BY vec_id""".stripMargin

  /** SemDeDup APPLY: drop every non-canonical member of a semantic
    * near-dup cluster (keep the smallest vec_id per component plus all
    * unclustered vectors) — near-dup removal in embedding space. One
    * anti-join of the corpus against the non-canonical side of the
    * shared cluster frame; the LSH+CC subtree
    * is the persisted [[sharedSimClusters]], so the apply costs one
    * probe regardless of how many queries read the clusters. */
  private def semdedupApply(s: SparkSession, dir: String): DataFrame = {
    val dropIds = sharedSimClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    Tables.embeddings(s, dir)
      .join(dropIds, Seq("vec_id"), "left_anti")
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** IVF ANN top-5 (8 seeded centroids, probe 3). Oracle-verified: the
    * centroids are the 8 corpus vectors whose md5("ivf_" || vec_id) keys
    * sort first — a deterministic function of the data the SQL oracle
    * recomputes itself, so seed choice, list assignment, probe order and
    * final ranking are all pinned cross-engine. The k-means-refined
    * [[Similarity.ivfTopK]] stays the production path (recall-tested in
    * DedupSpec). */
  private def ivf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSeededTopK(Tables.embeddings(s, dir), col("vec_id") < 5,
        k = 5, nCentroids = 8, nProbe = 3)
      .orderBy("query_id", "rank")

  /** Incremental IVF insert ([[Similarity.ivfIncrementalTopK]]): vectors
    * with vec_id % 10 == 9 arrive as the batch; centroids seed from the
    * corpus ONLY, the batch lands in the existing lists, and the same
    * queries immediately see inserted neighbors (`from_batch`). The
    * incremental-index discipline of the dedup families applied to ANN. */
  private def ivfIncr(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfIncrementalTopK(Tables.embeddings(s, dir),
        isNew = col("vec_id") % 10 === 9, isQuery = col("vec_id") < 5,
        k = 5, nCentroids = 8, nProbe = 3)
      .withColumn("from_batch", col("neighbor_id") % 10 === 9)
      .orderBy("query_id", "rank")

  /** ANN index EVALUATION: recall@5 of the seeded IVF against the
    * brute-force exact top-5, per query — the accept/reject number an
    * index rollout is judged by, produced by the engine itself instead
    * of a notebook. Both pipelines are deterministic (md5 seeding,
    * tie-broken ranks), so even the recall fractions hash-gate. Costs
    * one join of two k-row-per-query frames the group already builds. */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val brute = Similarity.cosineTopK(emb, col("vec_id") < 5, 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity.ivfSeededTopK(emb, col("vec_id") < 5,
        k = 5, nCentroids = 8, nProbe = 3)
      .select(col("query_id"), col("neighbor_id").as("ivf_neighbor"))
    brute.join(ivf,
        brute("query_id") === ivf("query_id") &&
          col("neighbor_id") === col("ivf_neighbor"), "left")
      .groupBy(brute("query_id").as("query_id"))
      .agg(count(col("ivf_neighbor")).as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / 5, 6))
      .orderBy("query_id")
  }

  /** Distributed Gram / covariance matrix over the embedding corpus —
    * the X^T X building block of PCA whitening and feature decorrelation.
    * Exact: see [[Similarity.covarianceNumerators]] (integer numerators
    * at scale 2^44, DECIMAL/HUGEINT sums; doubles only in the final
    * n^2*2^88 normalization). */
  private def embedCov(s: SparkSession, dir: String): DataFrame =
    Similarity.covarianceMatrix(sharedCovNum(s, dir)).orderBy("i", "j")

  /** First principal component by fixed-point power iteration (8 exact
    * integer rounds over the covariance numerators; see
    * [[Similarity.pc1PowerIteration]]) — the direction a whitening /
    * dimensionality-reduction pass would project out first. */
  private def embedPca(s: SparkSession, dir: String): DataFrame =
    Similarity.pc1PowerIteration(sharedCovNum(s, dir)).orderBy("pos")

  /** PCA apply: every embedding projected onto PC1 (see
    * [[Similarity.pc1Projection]]) — exact integer dot products against
    * the shared fixed-point iterate, pure projection over the scan. */
  private def embedProj(s: SparkSession, dir: String): DataFrame =
    Similarity.pc1Projection(Tables.embeddings(s, dir), sharedCovNum(s, dir))
      .orderBy("vec_id")

  /** Symmetric int8 quantization of the embedding column (the compression
    * step before shipping vectors to an ANN index): per-vector scale =
    * amax/127, q_i = floor(v_i/scale + 0.5) — exact integer round-trip
    * invariants (L1 and sum-of-squares of the codes) plus the
    * reconstruction MSE. Pure projection over the scan; the arrays never
    * leave the row, so this rides any scale. floor(x+0.5) (not round) is
    * deliberate: both engines floor identically, while double round
    * half-rules can differ. */
  private def embedQuant(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qscale", col("amax") / lit(127.0d))
      .withColumn("q", transform(col("v"), x =>
        when(col("amax") > 0, floor(x / col("qscale") + lit(0.5d)).cast("long"))
          .otherwise(lit(0L))))
      .withColumn("q_l1", aggregate(col("q"), lit(0L), (a, x) => a + abs(x)))
      .withColumn("q_sq", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
      .withColumn("sse", aggregate(
        zip_with(col("v"), col("q"), (x, qi) =>
          (x - qi.cast("double") * col("qscale")) *
            (x - qi.cast("double") * col("qscale"))),
        lit(0.0d), (a, e) => a + e))
      .select(col("vec_id"),
        round(col("qscale"), 6).as("qscale"),
        col("q_l1"), col("q_sq"),
        round(col("sse") / size(col("v")), 8).as("mse"))
      .orderBy("vec_id")

  /** Semantic dedup clusters (the SemDeDup shape): connected components
    * over the embedding-cosine near-dup graph — LSH-bucketed pair
    * generation, then the same min-label propagation that clusters the
    * lexical pair graph. cluster_id = smallest member vec_id. */
  /** CC label frame over the LSH pair graph, built once per (session,
    * dir) — the iterative propagation is the expensive part. */
  private[queries] def sharedSimClusters(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"simclusters:$dir") {
      // unwrapped (CC projects id_a/id_b itself): a .select here would
      // hide the persist from the assertPersisted contract check
      graft.ops.Dedup.connectedComponents(
        sharedLshPairs(s, dir),
        knownSize = Some(SharedFrames.memoCount(s, s"lshpairs:$dir")(
          sharedLshPairs(s, dir))))
    }

  private def simClusters(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    sharedSimClusters(s, dir)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
      .orderBy("vec_id")
  }

  /** Exact integer covariance numerators, built once per (session, dir)
    * — shared by the covariance matrix and the PCA power iteration. */
  private[queries] def sharedCovNum(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"covnum:$dir") {
      Similarity.covarianceNumerators(Tables.embeddings(s, dir))
    }

  override def shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "sim_lsh_pairs" -> sharedLshPairs,
    "sim_clusters" -> sharedSimClusters,
    "embed_cov_num" -> sharedCovNum,
    "hash_embed_vecs" -> (hashEmbedVectors(_, _)),
    "dense_cosines" -> (denseCosines(_, _)),
  )

  /** PQ codes + reconstruction error over the embedding corpus: 4
    * subspaces x 4 centroids, md5-seeded codebooks the oracle recomputes
    * (see [[Similarity.pqCodes]]). Pure projection — codebooks are
    * literals, assignment never shuffles. */
  private def embedPq(s: SparkSession, dir: String): DataFrame =
    Similarity.pqCodes(Tables.embeddings(s, dir), m = 4, k = 4)
      .orderBy("vec_id")

  /** ADC search over the PQ codes: queries vec_id < 5, top-5 by the
    * code-table distance (see [[Similarity.pqTopK]]). */
  private def simPq(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(s, dir), col("vec_id") < 5,
        topK = 5, m = 4, k = 4)
      .orderBy("query_id", "rank")

  /** The composed IVF+PQ search: probe 3 of 8 IVF lists, rank
    * candidates by ADC over their PQ codes only — the full production
    * ANN pipeline in one oracle-pinned query. */
  private def simIvfPq(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(s, dir), col("vec_id") < 5,
        topK = 5, nCentroids = 8, nProbe = 3, m = 4, k = 4)
      .orderBy("query_id", "rank")

  /** Feature-hashing dimension count. 16 keeps the oracle replay and the
    * |sources|²·d pair join tiny; the op is d-generic. */
  private val HashDim = 16

  /** Engine-GENERATED lexical embeddings (the hashing trick): every token
    * occurrence hashes to one of [[HashDim]] dimensions with a ±1 sign
    * drawn from an independent digest bit, and a document's vector is the
    * signed occurrence count per dimension — the classic feature-hashing
    * bag-of-words embedding (Weinberger et al.), all in exact integers.
    * This closes the loop between the text and similarity families: the
    * engine can embed a corpus with no external model and feed its own
    * centroid/cosine machinery ([[hashEmbedSim]] does exactly that).
    *
    * Long-form output (doc_id, dim, v, n_occ) — only observed dims
    * materialize, so rows ≤ min(n_tokens, d) per doc. One token explode +
    * one map-side-combined aggregation; md5-derived hash and sign, so the
    * vectors are a pure function of the data (rerun/layout stable). */
  private[queries] def hashEmbedVectors(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"hashembed:$dir") {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("h",
          conv(substring(md5(concat(lit("fh_"), col("tok"))), 1, 8), 16, 10)
            .cast("long"))
        .withColumn("dim", pmod(col("h"), lit(HashDim)).cast("int"))
        .withColumn("sgn", lit(1L) - lit(2L) * pmod(expr("h div 16"), lit(2)))
        .groupBy("doc_id", "dim")
        .agg(sum(col("sgn")).as("v"), count(lit(1)).as("n_occ"))
    }

  private def hashEmbed(s: SparkSession, dir: String): DataFrame =
    hashEmbedVectors(s, dir).orderBy("doc_id", "dim")

  /** Dense-side retrieval scores: hash-embedding cosine of every doc
    * against each query doc (doc_id < 3) — integer dots over the
    * (doc, dim) feature frame with the query vectors broadcast, doubles
    * only in the final rounded cosine. Zero-vector docs drop out. */
  private def denseCosines(s: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(s, s"densecos:$dir") { denseCosinesBuild(s, dir) }

  private def denseCosinesBuild(s: SparkSession, dir: String): DataFrame = {
    val vecs = hashEmbedVectors(s, dir)
    val norms = vecs.groupBy("doc_id").agg(sum(col("v") * col("v")).as("nrm2"))
    val qv = vecs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("dim"), col("v").as("qv"))
    val qn = norms.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("nrm2").as("qn2"))
    vecs.join(broadcast(qv), Seq("dim"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("qv")).as("dot"))
      .join(norms, Seq("doc_id"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("nrm2") > 0 && col("qn2") > 0)
      .withColumn("cosine", round(col("dot").cast("double") /
        (sqrt(col("nrm2").cast("double")) * sqrt(col("qn2").cast("double"))), 6))
  }

  /** MMR diversity rerank (λ = 0.7) of the dense top-20: greedily pick 5
    * results maximizing λ·rel − (1−λ)·max-sim-to-already-selected — the
    * rerank step after candidate retrieval, which stops a result page (or
    * a few-shot example set) from being five paraphrases of the same
    * document. rel = query cosine, sim = candidate-pair
    * cosine, both the rounded-6 cross-engine keys; λ-arithmetic runs in
    * raw doubles (identical operand order both engines, so no fudge).
    *
    * Shape at scale: candidate generation (bounded-heap top-20) and the
    * candidate-pair similarity matrix (≤ queries·k² rows via the dim
    * equi-join) stay distributed; ONLY the queries·k candidate rows and
    * queries·k²/2 sim rows — bounded by the report size, not the corpus —
    * are pulled to the driver for the inherently sequential k-step
    * greedy, the same bounded-collect envelope as the IVF centroid
    * matrices. The greedy replays in the oracle as 5 unrolled SQL
    * rounds. */
  private def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val (kCand, kSel) = (20, 5)
    // LOAD-BEARING bound for the driver pull below: the greedy collects
    // queries·kCand candidate rows + queries·kCand²/2 sim rows. Scale-safe
    // only while kCand stays report-sized — if it ever becomes a parameter,
    // this guard fails fast instead of silently pulling a corpus slice
    // (move the greedy into a per-query mapGroups at that point).
    require(kCand <= 100,
      s"mmrRerank pulls O(queries * kCand^2) rows to the driver; " +
        s"kCand=$kCand exceeds the audited report-size bound")
    val cand = denseCosines(s, dir).groupBy("query_id")
      .agg(graft.functions.TopK.topK(col("cosine"), col("doc_id"), kCand)
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.value").as("rel"))
    val vecs = hashEmbedVectors(s, dir)
    val norms = vecs.groupBy("doc_id").agg(sum(col("v") * col("v")).as("nrm2"))
    val cd = cand.select("query_id", "doc_id")
    val cv = cd.join(vecs, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("dim"), col("v"))
    val dots = cv.alias("a").join(cv.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.dim") === col("b.dim") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.query_id").as("query_id"), col("a.doc_id").as("d_a"),
        col("b.doc_id").as("d_b"))
      .agg(sum(col("a.v") * col("b.v")).as("dot"))
    val sims = cd.alias("x").join(cd.alias("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.query_id").as("query_id"), col("x.doc_id").as("d_a"),
        col("y.doc_id").as("d_b"))
      .join(dots, Seq("query_id", "d_a", "d_b"), "left")
      .join(norms.select(col("doc_id").as("d_a"), col("nrm2").as("na")),
        Seq("d_a"))
      .join(norms.select(col("doc_id").as("d_b"), col("nrm2").as("nb")),
        Seq("d_b"))
      .select(col("query_id"), col("d_a"), col("d_b"),
        round(coalesce(col("dot"), lit(0L)).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6).as("sim"))
    // bounded driver pull: queries·k candidates + queries·k²/2 sims
    val candRows = cand.select("query_id", "doc_id", "rel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simMap = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    def simOf(q: Long, a: Long, b: Long): Double =
      if (a < b) simMap((q, a, b)) else simMap((q, b, a))
    val out = candRows.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      var remaining = cs.map { case (_, d, rel) => (d, rel) }.toList
      var selected = List.empty[Long]
      (1 to kSel).flatMap { r =>
        if (remaining.isEmpty) None
        else {
          val best = remaining.map { case (d, rel) =>
            val ms =
              if (selected.isEmpty) 0.0
              else selected.map(sd => simOf(q, d, sd)).max
            (d, rel, ms, 0.7 * rel - 0.3 * ms)
          }.minBy { case (d, _, _, m) => (-m, d) }
          selected ::= best._1
          remaining = remaining.filterNot(_._1 == best._1)
          Some((q, best._1, best._2, best._3, best._4, r))
        }
      }
    }
    import s.implicits._
    out.toDF("query_id", "doc_id", "rel", "max_sim", "mmr", "sel_rank")
      .withColumn("sel_rank", col("sel_rank").cast("int"))
      .orderBy("query_id", "sel_rank")
  }

  /** Source-centroid cosine matrix over the HASHED vectors — the lexical
    * source-similarity monitor, computed entirely from engine-generated
    * embeddings: per-(source, dim) sums (the un-normalized centroid — the
    * 1/n cancels inside cosine, as in `q_label_cosine`), then pairwise
    * integer dots over a |sources|²·d-bounded self-join. Doubles appear
    * only in the final sqrt/divide. A pair of sources that copy each
    * other's text shows up here even when no single document pair
    * crosses the near-dup threshold. */
  private def hashEmbedSim(s: SparkSession, dir: String): DataFrame = {
    val cent = hashEmbedVectors(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source", "dim")
      .agg(sum("v").cast("decimal(38,0)").as("sv"))
    val norms = cent.groupBy("source")
      .agg(sum(col("sv") * col("sv")).as("nrm"))
    val a = cent.select(col("source").as("source_a"), col("dim"),
      col("sv").as("sva"))
    val b = cent.select(col("source").as("source_b"), col("dim"),
      col("sv").as("svb"))
    a.join(b, Seq("dim"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("sva") * col("svb")).as("dot"))
      .join(norms.select(col("source").as("source_a"), col("nrm").as("na")),
        Seq("source_a"))
      .join(norms.select(col("source").as("source_b"), col("nrm").as("nb")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("dot").cast("long").as("dot"),
        when(col("na") === 0 || col("nb") === 0, lit(null)).otherwise(
          round(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
            6)).as("cosine"))
      .orderBy("source_a", "source_b")
  }

  /** Hyperplane-LSH tuning report — the semantic twin of `q_lsh_curve`:
    * for every vector pair in a DETERMINISTIC sample (vec_id % 5 — the
    * curve is a property of the geometry, not the corpus size, so a
    * sample is how this diagnostic runs at 100 TB), bucket the exact
    * cosine into tenths and report what fraction of each bucket the
    * 8-plane sign bucket surfaces (identical signs on all planes). The
    * ground truth is inherently all-pairs, so the sample side BROADCASTS
    * (the cosineTopK pattern) — bounded by the sample, never a shuffle
    * cartesian. Reads: high-cosine buckets should collide (recall),
    * low/negative ones shouldn't (wasted verifies). */
  private def simCurve(s: SparkSession, dir: String): DataFrame = {
    val sampled = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
    val b = SharedFrames.register(
      Similarity.withNorm(Similarity.withLshBucket(sampled, 8)))
    val a = b.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"), col("bucket").as("bkt_a"))
    val c = b.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"), col("bucket").as("bkt_b"))
    a.crossJoin(broadcast(c))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .withColumn("cos_bucket", floor(col("cosine") * 10).cast("int"))
      .withColumn("is_cand", (col("bkt_a") === col("bkt_b")).cast("long"))
      .groupBy("cos_bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("is_cand").as("n_candidates"))
      .select(col("cos_bucket"), col("n_pairs"), col("n_candidates"),
        round(col("n_candidates").cast("double") / col("n_pairs"), 6)
          .as("candidate_rate"))
      .orderBy("cos_bucket")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_curve" -> simCurve,
    "q_hash_embed" -> hashEmbed,
    "q_hash_embed_sim" -> hashEmbedSim,
    "q_mmr_rerank" -> mmrRerank,
    "q_sim_clusters" -> simClusters,
    "q_semdedup_apply" -> semdedupApply,
    "q_embed_quant" -> embedQuant,
    "q_embed_cov" -> embedCov,
    "q_label_cosine" -> labelCosine,
    "q_embed_pca" -> embedPca,
    "q_embed_proj" -> embedProj,
    "q_embed_pq" -> embedPq,
    "q_sim_pq" -> simPq,
    "q_sim_ivf_pq" -> simIvfPq,
    "q_sim_topk" -> topk,
    "q_contamination_embed" -> contaminationEmbed,
    "q_sim_lsh" -> lsh,
    "q_sim_ivf" -> ivf,
    "q_sim_ivf_incr" -> ivfIncr,
    "q_ann_recall" -> annRecall,
  )

  /** Shared PQ oracle preamble (after an `e(vec_id, v)` CTE): per
    * subspace j, `cent<j>(c, cv)` = the md5-seeded codebook and
    * `a<j>(vec_id, code_j, d_j)` = the argmin assignment — the SQL twin
    * of [[Similarity.pqCodes]], consumed by q_embed_pq and q_sim_pq. */
  private def pqSqlSubs: String = (1 to 4).map { j =>
    val lo = (j - 1) * 16 + 1
    val hi = j * 16
    s"""cent$j AS (
       |  SELECT CAST(row_number() OVER (ORDER BY md5('pq${j}_' || CAST(vec_id AS VARCHAR))) AS INTEGER) - 1 AS c,
       |    v[$lo:$hi] AS cv
       |  FROM e
       |  QUALIFY row_number() OVER (ORDER BY md5('pq${j}_' || CAST(vec_id AS VARCHAR))) <= 4),
       |a$j AS (
       |  SELECT vec_id, c AS code_$j, d AS d$j FROM (
       |    SELECT e.vec_id, cent$j.c,
       |      list_dot_product(cent$j.cv, cent$j.cv)
       |        - 2 * list_dot_product(e.v[$lo:$hi], cent$j.cv) AS d
       |    FROM e CROSS JOIN cent$j)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1)""".stripMargin
  }.mkString(",\n")

  /** Shared oracle preamble for the covariance family: scaled integer
    * elements (x * 2^44 is exact for every float32 in the data range),
    * per-dimension sums, upper-triangle product sums, and the exact
    * integer numerator cnum(i, j, c) with the vector count in nn. */
  /** Per-label centroid cosine matrix ([[Similarity.labelCentroidCosine]])
    * — the topic-collapse monitor; diagonal = 1 by construction. */
  private def labelCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidCosine(Tables.embeddings(s, dir))
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("label_a", "label_b")

  private val covSqlPrefix: String =
    """WITH ex AS MATERIALIZED (SELECT vec_id, i - 1 AS pos,
      |    CAST(x * 17592186044416 AS HUGEINT) AS xs
      |  FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
      |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |nn AS MATERIALIZED (SELECT count(DISTINCT vec_id) AS n FROM ex),
      |si AS MATERIALIZED (SELECT pos, sum(xs) AS s FROM ex GROUP BY pos),
      |sij AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j, sum(a.xs * b.xs) AS s
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      |  GROUP BY 1, 2),
      |cnum AS MATERIALIZED (SELECT i, j,
      |    (SELECT n FROM nn) * sij.s - si1.s * si2.s AS c
      |  FROM sij JOIN si si1 ON sij.i = si1.pos
      |           JOIN si si2 ON sij.j = si2.pos)""".stripMargin

  /** Unrolled power-iteration rounds w1/m1/v1 .. w_n/m_n/v_n over the
    * `cs` matrix CTE (mirrors [[Similarity.pc1PowerIteration]]). */
  private def pcaRoundsSql(n: Int): String =
    (1 to n).map { k =>
      s""",
         |w$k AS MATERIALIZED (SELECT cs.i AS pos, sum(cs.c * v.v) AS w
         |  FROM cs JOIN v${k - 1} v ON cs.j = v.pos GROUP BY 1),
         |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (SELECT pos, CASE WHEN w < 0
         |  THEN -((-w) * 1048576 // (SELECT m FROM m$k))
         |  ELSE w * 1048576 // (SELECT m FROM m$k) END AS v FROM w$k)""".stripMargin
    }.mkString("")

  /** Dense-retrieval CTEs: hash-embedding features → per-doc norms →
    * query (doc_id < 3) dots → rounded cosine frame `den(query_id,
    * doc_id, cosine)`, read by the MMR oracle. Token occurrences hash to
    * (dim, sign): `('0x'||substr(md5,1,8))::BIGINT` == Spark
    * `conv(substring,16,10)`; dim uses digest bits 0–3, the sign bit 4 —
    * independent slices. */
  private def denseCtesSql: String =
    s"""ht AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
       |       FROM documents),
       |hv2 AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5('fh_' || tok), 1, 8)) AS BIGINT) AS h
       |  FROM ht),
       |dv AS (SELECT doc_id, CAST(h % $HashDim AS INTEGER) AS dim,
       |    CAST(sum(1 - 2 * ((h // 16) % 2)) AS BIGINT) AS v
       |  FROM hv2 GROUP BY 1, 2),
       |nr AS (SELECT doc_id, sum(v * v) AS nrm2 FROM dv GROUP BY 1),
       |qdv AS (SELECT doc_id AS query_id, dim, v AS qv FROM dv WHERE doc_id < 3),
       |qnr AS (SELECT doc_id AS query_id, nrm2 AS qn2 FROM nr WHERE doc_id < 3),
       |dots AS (SELECT q.query_id, d.doc_id, sum(d.v * q.qv) AS dot
       |  FROM dv d JOIN qdv q ON d.dim = q.dim GROUP BY 1, 2),
       |den AS (SELECT dots.query_id AS query_id, dots.doc_id AS doc_id,
       |    round(CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(nrm2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 6) AS cosine
       |  FROM dots JOIN nr ON dots.doc_id = nr.doc_id
       |  JOIN qnr ON dots.query_id = qnr.query_id
       |  WHERE nrm2 > 0 AND qn2 > 0)""".stripMargin

  /** The unrolled MMR greedy: round 1 picks max rel; each later round
    * anti-joins the picked set, takes max-sim-to-selected from the
    * symmetric pair frame, and argmaxes 0.7·rel − 0.3·max_sim with a
    * doc-id tiebreak — exactly the driver-side loop, replayed as SQL. */
  private def mmrRoundsSql(kSel: Int): String = {
    val b = new StringBuilder
    b ++= """sel1 AS (SELECT query_id, doc_id, rel, CAST(0.0 AS DOUBLE) AS max_sim,
            |    0.7 * rel - 0.3 * 0.0 AS mmr, 1 AS sel_rank
            |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            |      ORDER BY 0.7 * rel - 0.3 * 0.0 DESC, doc_id ASC) AS rn FROM mcand)
            |  WHERE rn = 1),
            |selu1 AS (SELECT query_id, doc_id FROM sel1)""".stripMargin
    for (r <- 2 to kSel) {
      b ++= s""",
               |cand$r AS (SELECT c.* FROM mcand c LEFT JOIN selu${r - 1} s
               |    ON c.query_id = s.query_id AND c.doc_id = s.doc_id
               |  WHERE s.doc_id IS NULL),
               |sc$r AS (SELECT c.query_id, c.doc_id, c.rel, max(m.sim) AS max_sim
               |  FROM cand$r c
               |  JOIN ms2 m ON m.query_id = c.query_id AND m.d_a = c.doc_id
               |  JOIN selu${r - 1} s ON s.query_id = m.query_id AND s.doc_id = m.d_b
               |  GROUP BY 1, 2, 3),
               |sel$r AS (SELECT query_id, doc_id, rel, max_sim,
               |    0.7 * rel - 0.3 * max_sim AS mmr, $r AS sel_rank
               |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               |      ORDER BY 0.7 * rel - 0.3 * max_sim DESC, doc_id ASC) AS rn
               |    FROM sc$r)
               |  WHERE rn = 1),
               |selu$r AS (SELECT query_id, doc_id FROM selu${r - 1}
               |  UNION ALL SELECT query_id, doc_id FROM sel$r)""".stripMargin
    }
    b.toString
  }

  private def hashTokSql: String =
    """t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
      |  FROM documents),
      |hv AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('fh_' || tok), 1, 8)) AS BIGINT) AS h
      |  FROM t)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_hash_embed" ->
      s"""WITH $hashTokSql
         |SELECT doc_id, CAST(h % $HashDim AS INTEGER) AS dim,
         |  CAST(sum(1 - 2 * ((h // 16) % 2)) AS BIGINT) AS v,
         |  count(*) AS n_occ
         |FROM hv GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    // centroid = per-(source, dim) SUM vector (1/n cancels in cosine);
    // HUGEINT dots/norms, doubles only in the final sqrt/divide
    "q_hash_embed_sim" ->
      s"""WITH $hashTokSql,
         |dv AS (
         |  SELECT hv.doc_id, CAST(h % $HashDim AS INTEGER) AS dim,
         |    sum(1 - 2 * ((h // 16) % 2)) AS v
         |  FROM hv GROUP BY 1, 2),
         |cent AS (
         |  SELECT d.source, dv.dim, sum(CAST(dv.v AS HUGEINT)) AS sv
         |  FROM dv JOIN documents d ON dv.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |nrm AS (SELECT source, sum(sv * sv) AS nrm FROM cent GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    sum(a.sv * b.sv) AS dot
         |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(dot AS BIGINT) AS dot,
         |  CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN NULL ELSE
         |    round(CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
         |          (sqrt(CAST(CAST(na.nrm AS VARCHAR) AS DOUBLE)) *
         |           sqrt(CAST(CAST(nb.nrm AS VARCHAR) AS DOUBLE))), 6) END
         |    AS cosine
         |FROM pairs
         |JOIN nrm na ON pairs.source_a = na.source
         |JOIN nrm nb ON pairs.source_b = nb.source
         |ORDER BY source_a, source_b""".stripMargin,
    "q_sim_lsh" -> lshOracleSql,
    "q_sim_curve" -> simCurveOracleSql,
    "q_sim_clusters" -> simClustersOracleSql,
    // non-canonical cluster members dropped; singletons survive
    "q_semdedup_apply" ->
      s"""WITH RECURSIVE $simCompSqlPrefix
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM comp WHERE vec_id <> cluster_id)
         |ORDER BY vec_id""".stripMargin,

    // mirrors Similarity.pqCodes: per subspace j, codebook = the 4
    // subvectors of the md5('pq<j>_'||vec_id)-first vectors; assignment =
    // argmin (|c|^2 - 2 v_j.c, then c); sse = |v|^2 + sum_j d_j in
    // left-fold order
    "q_embed_pq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$pqSqlSubs
         |SELECT e.vec_id, code_1, code_2, code_3, code_4,
         |  round(list_dot_product(e.v, e.v) + d1 + d2 + d3 + d4, 6) AS sse
         |FROM e JOIN a1 USING (vec_id) JOIN a2 USING (vec_id)
         |  JOIN a3 USING (vec_id) JOIN a4 USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin,

    // ADC search: per-pair distance = sum_j (|c|^2 - 2 q_j.c) over the
    // corpus vector's CODES (centroids joined by code), rank on the
    // rounded distance with vec_id tiebreak — mirrors Similarity.pqTopK
    "q_sim_pq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$pqSqlSubs,
         |codes AS (
         |  SELECT e.vec_id, code_1, code_2, code_3, code_4
         |  FROM e JOIN a1 USING (vec_id) JOIN a2 USING (vec_id)
         |    JOIN a3 USING (vec_id) JOIN a4 USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |pairs AS (
         |  SELECT q.query_id, codes.vec_id,
         |    round(
         |      (list_dot_product(c1.cv, c1.cv) - 2 * list_dot_product(q.qv[1:16], c1.cv))
         |    + (list_dot_product(c2.cv, c2.cv) - 2 * list_dot_product(q.qv[17:32], c2.cv))
         |    + (list_dot_product(c3.cv, c3.cv) - 2 * list_dot_product(q.qv[33:48], c3.cv))
         |    + (list_dot_product(c4.cv, c4.cv) - 2 * list_dot_product(q.qv[49:64], c4.cv)), 6) AS adc_dist
         |  FROM q CROSS JOIN codes
         |  JOIN cent1 c1 ON c1.c = codes.code_1
         |  JOIN cent2 c2 ON c2.c = codes.code_2
         |  JOIN cent3 c3 ON c3.c = codes.code_3
         |  JOIN cent4 c4 ON c4.c = codes.code_4
         |  WHERE codes.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, adc_dist, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the COMPOSED pipeline: IVF seeding/assignment/probing (q_sim_ivf's
    // CTEs) restricts candidates, ADC over PQ codes (q_sim_pq's CTEs)
    // ranks them — the oracle replays both halves in one query
    "q_sim_ivf_pq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |cent AS (
         |  SELECT CAST(row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) AS INTEGER) - 1 AS c,
         |         v AS cv
         |  FROM n
         |  QUALIFY row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) <= 8),
         |dists AS (
         |  SELECT n.vec_id, n.v, cent.c,
         |    list_dot_product(cent.cv, cent.cv) - 2 * list_dot_product(n.v, cent.cv) AS d
         |  FROM n CROSS JOIN cent),
         |lists AS (
         |  SELECT vec_id, c AS list_id FROM dists
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, v AS qv, c AS list_id FROM dists
         |  WHERE vec_id < 5
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) <= 3),
         |$pqSqlSubs,
         |codes AS (
         |  SELECT e.vec_id, code_1, code_2, code_3, code_4
         |  FROM e JOIN a1 USING (vec_id) JOIN a2 USING (vec_id)
         |    JOIN a3 USING (vec_id) JOIN a4 USING (vec_id)),
         |cand AS (
         |  SELECT probes.query_id, probes.qv,
         |    codes.vec_id, code_1, code_2, code_3, code_4
         |  FROM probes JOIN lists USING (list_id)
         |  JOIN codes ON codes.vec_id = lists.vec_id
         |  WHERE lists.vec_id <> probes.query_id),
         |pairs AS (
         |  SELECT query_id, vec_id,
         |    round(
         |      (list_dot_product(c1.cv, c1.cv) - 2 * list_dot_product(qv[1:16], c1.cv))
         |    + (list_dot_product(c2.cv, c2.cv) - 2 * list_dot_product(qv[17:32], c2.cv))
         |    + (list_dot_product(c3.cv, c3.cv) - 2 * list_dot_product(qv[33:48], c3.cv))
         |    + (list_dot_product(c4.cv, c4.cv) - 2 * list_dot_product(qv[49:64], c4.cv)), 6) AS adc_dist
         |  FROM cand
         |  JOIN cent1 c1 ON c1.c = cand.code_1
         |  JOIN cent2 c2 ON c2.c = cand.code_2
         |  JOIN cent3 c3 ON c3.c = cand.code_3
         |  JOIN cent4 c4 ON c4.c = cand.code_4),
         |ranked AS (
         |  SELECT query_id, vec_id AS neighbor_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, adc_dist, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // exact integer covariance numerators (HUGEINT == Spark DECIMAL(38,0)):
    // c(i,j) = n*sum(xi*xj) - sum(xi)*sum(xj) over x*2^44 integers; the
    // only doubles are the final correctly-rounded normalizations.
    // AS MATERIALIZED: DuckDB inlines CTEs, and the power-iteration chain
    // references each round twice -- inlining would re-evaluate
    // exponentially (and reopen the parquet per reference)
    // centroid cosine on SUM vectors (the 1/n cancels), integer sums and
    // decimal products until the one final double ratio; HUGEINT->DOUBLE
    // routed through VARCHAR per the >2^63 correct-rounding rule
    "q_label_cosine" ->
      """WITH ex AS MATERIALIZED (SELECT label, i - 1 AS pos,
        |    CAST(x * 17592186044416 AS HUGEINT) AS xs
        |  FROM (SELECT label, unnest(embedding)::DOUBLE AS x,
        |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |sums AS MATERIALIZED (SELECT label, pos, sum(xs) AS s FROM ex GROUP BY 1, 2),
        |dots AS MATERIALIZED (
        |  SELECT a.label AS label_a, b.label AS label_b, sum(a.s * b.s) AS dot
        |  FROM sums a JOIN sums b ON a.pos = b.pos AND a.label <= b.label
        |  GROUP BY 1, 2),
        |norms AS (SELECT label_a AS label, dot AS nrm FROM dots WHERE label_a = label_b)
        |SELECT d.label_a, d.label_b,
        |  round(CAST(CAST(d.dot AS VARCHAR) AS DOUBLE)
        |    / (sqrt(CAST(CAST(na.nrm AS VARCHAR) AS DOUBLE))
        |       * sqrt(CAST(CAST(nb.nrm AS VARCHAR) AS DOUBLE))), 6) AS cosine
        |FROM dots d
        |JOIN norms na ON d.label_a = na.label
        |JOIN norms nb ON d.label_b = nb.label
        |ORDER BY label_a, label_b""".stripMargin,

    "q_embed_cov" ->
      s"""$covSqlPrefix
         |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         |  CAST(CAST(c AS VARCHAR) AS DOUBLE)
         |    / ((SELECT n FROM nn) * (SELECT n FROM nn))
         |    / CAST(309485009821345068724781056 AS DOUBLE) AS cov
         |FROM cnum ORDER BY i, j""".stripMargin,

    // 8 unrolled fixed-point power-iteration rounds; sign-split // keeps
    // DuckDB's flooring division equal to Spark's truncating div
    "q_embed_pca" ->
      s"""$covSqlPrefix,
         |cfull AS MATERIALIZED (SELECT i, j, c FROM cnum
         |  UNION ALL SELECT j, i, c FROM cnum WHERE i <> j),
         |cs AS MATERIALIZED (SELECT i, j, CASE WHEN c < 0
         |  THEN -((-c) // 281474976710656) ELSE c // 281474976710656 END AS c
         |  FROM cfull),
         |v0 AS MATERIALIZED (SELECT DISTINCT i AS pos, CAST(1048576 AS HUGEINT) AS v FROM cs)
         |${pcaRoundsSql(8)},
         |nrm AS (SELECT sqrt(CAST(sum(v * v) AS DOUBLE)) AS z FROM v8)
         |SELECT CAST(pos AS INTEGER) AS pos,
         |  CAST(v AS DOUBLE) / (SELECT z FROM nrm) AS pc1
         |FROM v8 ORDER BY pos""".stripMargin,

    // PCA apply: per-vector dot against the round-8 iterate is an exact
    // HUGEINT sum (mirrors Spark's in-row DECIMAL fold — order
    // irrelevant for exact integers); doubles only in the final scaling
    "q_embed_proj" ->
      s"""$covSqlPrefix,
         |cfull AS MATERIALIZED (SELECT i, j, c FROM cnum
         |  UNION ALL SELECT j, i, c FROM cnum WHERE i <> j),
         |cs AS MATERIALIZED (SELECT i, j, CASE WHEN c < 0
         |  THEN -((-c) // 281474976710656) ELSE c // 281474976710656 END AS c
         |  FROM cfull),
         |v0 AS MATERIALIZED (SELECT DISTINCT i AS pos, CAST(1048576 AS HUGEINT) AS v FROM cs)
         |${pcaRoundsSql(8)},
         |nrm AS (SELECT sqrt(CAST(sum(v * v) AS DOUBLE)) AS z FROM v8),
         |proj AS (SELECT ex.vec_id, sum(ex.xs * v8.v) AS p
         |  FROM ex JOIN v8 ON ex.pos = v8.pos GROUP BY 1)
         |SELECT vec_id,
         |  CAST(CAST(p AS VARCHAR) AS DOUBLE) / 17592186044416
         |    / (SELECT z FROM nrm) AS proj
         |FROM proj ORDER BY vec_id""".stripMargin,

    // mirrors embedQuant: same unrounded scale feeds the codes, exact
    // integer invariants over the codes, error fold in array order
    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
        |sc AS (SELECT vec_id, v, amax, amax / 127 AS qscale FROM m),
        |q AS (SELECT vec_id, v, amax, qscale,
        |  list_transform(v, x -> CASE WHEN amax > 0
        |    THEN CAST(floor(x / qscale + 0.5) AS BIGINT) ELSE 0 END) AS qv
        |  FROM sc),
        |err AS (SELECT vec_id, qscale, qv,
        |  list_transform(generate_series(1, len(v)),
        |    i -> (v[i] - qv[i] * qscale) * (v[i] - qv[i] * qscale)) AS e2,
        |  len(v) AS dim
        |  FROM q)
        |SELECT vec_id, round(qscale, 6) AS qscale,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sq,
        |  round(list_sum(e2) / dim, 8) AS mse
        |FROM err ORDER BY vec_id""".stripMargin,

    // mirrors Similarity.ivfSeededTopK: centroid c = (rank in
    // md5('ivf_'||vec_id) order) - 1; d(v,c) = |c|^2 - 2 v.c (|v|^2
    // dropped — constant per row); assignment = argmin (d, then c);
    // queries probe the 3 nearest lists; exact cosine top-5 within lists
    // both rankings are deterministic, so recall itself hash-gates;
    // brute = exact window over all pairs, ivf = the seeded probe stack
    "q_ann_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
        |bp AS (
        |  SELECT query_id, vec_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
        |  FROM q CROSS JOIN n WHERE vec_id <> query_id),
        |brute AS (
        |  SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, vec_id ASC) AS rank
        |    FROM bp) WHERE rank <= 5),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) AS INTEGER) - 1 AS c,
        |         v AS cv
        |  FROM n
        |  QUALIFY row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) <= 8),
        |dists AS (
        |  SELECT n.vec_id, n.v, n.nrm, cent.c,
        |    list_dot_product(cent.cv, cent.cv) - 2 * list_dot_product(n.v, cent.cv) AS d
        |  FROM n CROSS JOIN cent),
        |lists AS (
        |  SELECT vec_id, v, nrm, c AS list_id FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, c AS list_id FROM dists
        |  WHERE vec_id < 5
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) <= 3),
        |ip AS (
        |  SELECT query_id, vec_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
        |  FROM probes JOIN lists USING (list_id)
        |  WHERE vec_id <> query_id),
        |ivf AS (
        |  SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, vec_id ASC) AS rank
        |    FROM ip) WHERE rank <= 5)
        |SELECT b.query_id,
        |  CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
        |  round(CAST(count(i.neighbor_id) AS DOUBLE) / 5, 6) AS recall
        |FROM brute b LEFT JOIN ivf i
        |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,

    // same probe/search arithmetic as q_sim_ivf, but the centroid seed
    // subquery EXCLUDES the batch (vec_id % 10 = 9) — the index the
    // batch inserts into is a pure function of the prior corpus
    "q_sim_ivf_incr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) AS INTEGER) - 1 AS c,
        |         v AS cv
        |  FROM n WHERE vec_id % 10 <> 9
        |  QUALIFY row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) <= 8),
        |dists AS (
        |  SELECT n.vec_id, n.v, n.nrm, cent.c,
        |    list_dot_product(cent.cv, cent.cv) - 2 * list_dot_product(n.v, cent.cv) AS d
        |  FROM n CROSS JOIN cent),
        |lists AS (
        |  SELECT vec_id, v, nrm, c AS list_id FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, c AS list_id FROM dists
        |  WHERE vec_id < 5
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) <= 3),
        |pairs AS (
        |  SELECT query_id, vec_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
        |  FROM probes JOIN lists USING (list_id)
        |  WHERE vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, vec_id AS neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cosine, rank,
        |  neighbor_id % 10 = 9 AS from_batch
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_sim_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cent AS (
        |  SELECT CAST(row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) AS INTEGER) - 1 AS c,
        |         v AS cv
        |  FROM n
        |  QUALIFY row_number() OVER (ORDER BY md5('ivf_' || CAST(vec_id AS VARCHAR))) <= 8),
        |dists AS (
        |  SELECT n.vec_id, n.v, n.nrm, cent.c,
        |    list_dot_product(cent.cv, cent.cv) - 2 * list_dot_product(n.v, cent.cv) AS d
        |  FROM n CROSS JOIN cent),
        |lists AS (
        |  SELECT vec_id, v, nrm, c AS list_id FROM dists
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, c AS list_id FROM dists
        |  WHERE vec_id < 5
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) <= 3),
        |pairs AS (
        |  SELECT query_id, vec_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
        |  FROM probes JOIN lists USING (list_id)
        |  WHERE vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, vec_id AS neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // dense top-20 candidates + symmetric pair-sim frame, then the
    // 5-round unrolled greedy (mmrRoundsSql) — λ = 0.7, doc-id tiebreak
    "q_mmr_rerank" ->
      s"""WITH $denseCtesSql,
         |mcand AS (SELECT query_id, doc_id, cosine AS rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, doc_id ASC) AS crn FROM den)
         |  WHERE crn <= 20),
         |cdv AS (SELECT c.query_id, c.doc_id, dv.dim, dv.v
         |  FROM mcand c JOIN dv ON c.doc_id = dv.doc_id),
         |pd AS (SELECT a.query_id, a.doc_id AS d_a, b.doc_id AS d_b,
         |    sum(a.v * b.v) AS dot
         |  FROM cdv a JOIN cdv b ON a.query_id = b.query_id
         |    AND a.dim = b.dim AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3),
         |msim AS (SELECT x.query_id, x.doc_id AS d_a, y.doc_id AS d_b,
         |    round(CAST(coalesce(pd.dot, 0) AS DOUBLE) /
         |      (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6)
         |      AS sim
         |  FROM mcand x JOIN mcand y
         |    ON x.query_id = y.query_id AND x.doc_id < y.doc_id
         |  LEFT JOIN pd ON pd.query_id = x.query_id
         |    AND pd.d_a = x.doc_id AND pd.d_b = y.doc_id
         |  JOIN nr na ON na.doc_id = x.doc_id
         |  JOIN nr nb ON nb.doc_id = y.doc_id),
         |ms2 AS (SELECT query_id, d_a, d_b, sim FROM msim
         |  UNION ALL SELECT query_id, d_b, d_a, sim FROM msim),
         |${mmrRoundsSql(5)}
         |SELECT query_id, doc_id, rel, max_sim, mmr,
         |  CAST(sel_rank AS INTEGER) AS sel_rank
         |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
         |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
         |  UNION ALL SELECT * FROM sel5)
         |ORDER BY query_id, sel_rank""".stripMargin,

    // eval set = vec_id < 8; flag/argmax on the ROUNDED cosine
    "q_contamination_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS eval_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
        |hits AS (
        |  SELECT n.vec_id, eval_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
        |  FROM q CROSS JOIN n WHERE n.vec_id >= 8),
        |f AS (SELECT * FROM hits WHERE cosine >= 0.3),
        |rk AS (
        |  SELECT vec_id, eval_id, cosine,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, eval_id ASC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_eval_hits
        |  FROM f)
        |SELECT vec_id, n_eval_hits, eval_id AS best_eval_id,
        |  cosine AS best_cosine
        |FROM rk WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q_sim_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
        |pairs AS (
        |  SELECT query_id, vec_id,
        |    round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
        |  FROM q CROSS JOIN n WHERE vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, vec_id AS neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
  )
}
