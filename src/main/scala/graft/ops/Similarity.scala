package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  *  - Brute-force cosine top-k: the correctness baseline — broadcast the
  *    (small) query set against the full corpus; one narrow pass, no
  *    shuffle except the final per-query top-k.
  *  - Random-hyperplane LSH buckets: the scale path — 100 TB of vectors
  *    can't be cross-joined, so vectors hash to sign-pattern buckets and
  *    only bucket-mates are compared. Hyperplanes are derived from md5, so
  *    bucketing is deterministic and reproducible across engines/runs.
  *
  * All arithmetic is double (cast up from float32 first) and sequential
  * left-to-right, keeping results bit-identical with the DuckDB oracle.
  */
object Similarity {

  /** Elementwise-double embedding with its L2 norm. */
  def withNorm(emb: DataFrame): DataFrame =
    emb
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Fused native dot product (see [[graft.functions.VectorOps]]) —
    * sequential summation, bit-equal to the aggregate(zip_with) fold it
    * replaces but without the intermediate array per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotProduct(a, b)

  /** Brute-force cosine top-k of `corpus` for each query vector. */
  def cosineTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val n = withNorm(emb)
    val q = n.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = n.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"),
        col("rn").as("rank"))
  }

  /** Deterministic +-1 hyperplanes: sign of bit parity of md5(plane_dim). */
  private[graft] def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val h = md.digest(s"plane_${p}_$d".getBytes(StandardCharsets.UTF_8))
      md.reset()
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH bucket id (`nPlanes` sign bits). The plane
    * matrix is a nested-array literal and each projection is an
    * aggregate(zip_with) — a shallow expression tree, where the naive
    * per-dimension element_at sum (nPlanes x 64 terms) made Catalyst
    * analysis/codegen the dominant cost. */
  def withLshBucket(emb: DataFrame, nPlanes: Int): DataFrame = {
    val dim = 64
    val ps = planes(nPlanes, dim)
    val planesLit = typedlit(ps.map(_.toSeq).toSeq)
    val vCol = transform(col("embedding"), x => x.cast("double"))
    val bucket = (0 until nPlanes).map { p =>
      val proj = dot(col("v"), element_at(planesLit, p + 1))
      when(proj > 0d, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    emb.withColumn("v", vCol).withColumn("bucket", bucket)
  }

  /** IVF (inverted-file) ANN: deterministic k-means centroids (md5-seeded
    * init, fixed Lloyd iterations — no RNG in the plan), vectors assigned
    * to their nearest centroid's list, queries probe the `nProbe` nearest
    * lists only. The scale path when hyperplane LSH recall is too low:
    * list sizes are balanced by the data distribution and probe cost is
    * centroids + probed lists, not the corpus.
    *
    * The Lloyd refinement is DISTRIBUTED: each iteration assigns every
    * corpus vector to its nearest centroid with the fused-dot argmin (a
    * narrow map over the persisted norm frame) and re-centers via
    * posexplode -> groupBy(list, dimension) -> sum/count — map-side
    * partial aggregation collapses each partition to at most
    * nCentroids x dim partial rows, so the shuffle is tiny no matter the
    * corpus size, and only the nCentroids x dim result ever reaches the
    * driver. Sums accumulate in DECIMAL (exact, order-independent), so
    * the trained centroids are bit-deterministic across partition layouts
    * — no RNG, no float reduction order anywhere. Training runs over the
    * FULL corpus, which is the 100 TB formulation (the former bounded
    * 4096-sample driver loop trained on a sample only). */
  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int, nCentroids: Int,
              nProbe: Int, iterations: Int = 5, listSalt: Int = 1): DataFrame = {
    val n = graft.core.SharedFrames.register(withNorm(emb))
    // deterministic init: the nCentroids vectors whose md5 keys sort first
    var centroids = n.select(col("vec_id"), col("v"))
      .orderBy(md5(concat(lit("ivf_"), col("vec_id").cast("string"))))
      .limit(nCentroids).collect()
      .map(_.getSeq[Double](1).toArray)
    require(centroids.nonEmpty, "ivfTopK: empty embedding corpus")
    val dim = centroids.head.length
    // round-planning policy: the per-iteration assignment+re-center job
    // is a handful of sub-reducer stages at small corpus size, where
    // AQE's per-stage replanning dominates; at real scale AQE stays on
    val nRows = n.count()
    var it = 0
    graft.ops.Rounds.scopedForSize(emb.sparkSession, nRows) {
    while (it < iterations) {
      val cs = centroids
      val centroidsLit = typedlit(cs.map(_.toSeq).toSeq)
      val cNormSq = cs.map(c => c.map(x => x * x).sum)
      // argmin over |v-c|^2 = |v|^2 - 2 v.c + |c|^2 (|v|^2 constant per
      // row): an O(k) fold keeping the smaller-d struct — ties keep the
      // earlier (smaller-c) centroid because the fold is left-to-right
      val best = (0 until cs.length).map { c =>
        struct((lit(cNormSq(c)) - lit(2.0) * dot(col("v"), element_at(centroidsLit, c + 1)))
          .as("d"), lit(c).as("c"))
      }.reduceLeft((a, b) => when(b.getField("d") < a.getField("d"), b).otherwise(a))
      val parts = n
        .withColumn("list_id", best.getField("c"))
        .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("list_id", "pos")
        .agg(sum(col("x").cast("decimal(30,18)")).as("sx"), count(lit(1)).as("cnt"))
        .collect() // bounded: nCentroids x dim rows
      val next = cs.map(_.clone())
      parts.foreach { r =>
        val c = r.getInt(0); val pos = r.getInt(1)
        next(c)(pos) = r.getDecimal(2).doubleValue() / r.getLong(3)
      }
      centroids = next // lists with no members keep their old centroid
      it += 1
    }
    } // scopedForSize
    ivfSearch(n, isQuery, k, centroids, nProbe, listSalt)
  }

  /** IVF with centroids = the `nCentroids` corpus vectors whose
    * md5("ivf_" || vec_id) keys sort first — no Lloyd refinement, so the
    * whole index (seed choice, assignment, probing) is a deterministic
    * function of the data that a SQL engine reproduces exactly. This is
    * the oracle-checkable twin of [[ivfTopK]] (whose k-means refinement
    * gives better list balance but is an iterative driver-side
    * computation); recall of both is asserted against the brute-force
    * baseline in DedupSpec. */
  def ivfSeededTopK(emb: DataFrame, isQuery: Column, k: Int, nCentroids: Int,
                    nProbe: Int, listSalt: Int = 1): DataFrame = {
    val n = graft.core.SharedFrames.register(withNorm(emb))
    val centroids = n.select(col("vec_id"), col("v"))
      .orderBy(md5(concat(lit("ivf_"), col("vec_id").cast("string"))))
      .limit(nCentroids).collect()
      .map(_.getSeq[Double](1).toArray)
    require(centroids.nonEmpty, "ivfSeededTopK: empty embedding corpus")
    ivfSearch(n, isQuery, k, centroids, nProbe, listSalt)
  }

  /** DBSCAN over a verified eps-neighbor pair graph — density clustering
    * with the classic core/border/noise trichotomy, built entirely from
    * the engine's existing primitives: the pair frame IS the
    * eps-neighborhood relation (here: LSH-bucketed cosine >= eps pairs,
    * the scale path that never goes all-pairs), degree >= minPts marks
    * CORE points, connected components over the core-core edges form the
    * clusters, non-core points with a core neighbor join their MINIMUM
    * core neighbor's cluster (the deterministic tie rule — textbook
    * DBSCAN is order-dependent for shared borders; min-id is the
    * replayable choice), and everything else is NOISE. SemDeDup's CC
    * (`q_sim_clusters`) merges through chains; DBSCAN refuses to let
    * sparse bridges glue dense regions — the density-aware upgrade.
    *
    * Scale: one degree aggregation + two semi-joins + the CC fixpoint
    * (per-round lineage truncation) + one border aggregation — every
    * stage keyed on vector ids.
    *
    * @param pairs eps-pairs (id_a < id_b)
    * @param allIds 1-column (vec_id) universe frame
    * @return (vec_id, degree, role, cluster_id) — cluster_id null for noise
    */
  def dbscan(pairs: DataFrame, allIds: DataFrame, minPts: Int,
             knownPairs: Option[Long] = None,
             knownIds: Option[Long] = None): DataFrame = {
    // round-planning policy keyed on the LARGEST frame the op touches
    // (the role join is corpus-wide, not pair-wide): below reducer scale
    // the whole cascade runs without AQE's per-stage replanning; above
    // it AQE stays on for the joins that need skew handling. known*
    // callers vouch the frames are persisted/memo-counted already
    // (session-shared pairs, base-table ids) — skips two count jobs.
    knownPairs.foreach(_ =>
      graft.core.SharedFrames.assertPersisted(pairs, "Similarity.dbscan"))
    val nPairs = knownPairs.getOrElse(
      graft.core.SharedFrames.register(pairs).count())
    val nBiggest = math.max(nPairs, knownIds.getOrElse(allIds.count()))
    Rounds.scopedForSize(pairs.sparkSession, nBiggest) {
    val p = pairs.select(col("id_a"), col("id_b"))
    val und = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = graft.core.SharedFrames.register(
      und.groupBy("src").agg(count(lit(1)).as("degree")))
    val core = graft.core.SharedFrames.register(
      deg.filter(col("degree") >= minPts).select(col("src").as("id")))
    // register core edges here (CC's symmetric build reads them twice) and
    // hand CC the pair count as the planning bound (|coreEdges| <= |pairs|)
    // so it skips its own register + count job
    val coreEdges = graft.core.SharedFrames.register(p
      .join(core.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(core.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
      .select("id_a", "id_b"))
    val cc = Dedup.connectedComponents(coreEdges, knownSize = Some(nPairs))
    // singleton cores (no core neighbor) cluster as themselves
    val coreClusters = core
      .join(cc.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val borderAssign = und
      .join(core.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(coreClusters.withColumnRenamed("id", "dst"), Seq("dst"))
      .groupBy(col("src").as("vec_id"))
      .agg(min(col("cluster_id")).as("b_cluster"))
    val out = allIds.select(col("vec_id"))
      .join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .join(coreClusters.withColumnRenamed("id", "vec_id")
        .withColumnRenamed("cluster_id", "c_cluster"), Seq("vec_id"), "left")
      .join(borderAssign, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        when(col("c_cluster").isNotNull, "core")
          .when(col("b_cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("c_cluster"), col("b_cluster")).as("cluster_id"))
    // materialize inside the scope so the cascade actually executes under
    // the chosen planning; the caller reads the persisted result
    val kept = graft.core.SharedFrames.register(out)
    kept.count()
    kept
    }
  }

  /** INCREMENTAL IVF: insert a batch into an EXISTING index without
    * re-seeding — the centroids are a function of the CORPUS only
    * (md5-seeded like [[ivfSeededTopK]]), the batch is assigned to those
    * fixed lists, and searches probe corpus + batch together. This is
    * the production property of an inverted-file index: an insert
    * touches only its own list; nothing about the existing index moves.
    * With centroids held fixed, incremental assignment trivially equals
    * a full rebuild's — the law DedupSpec pins is the search-level one:
    * an empty batch reproduces [[ivfSeededTopK]] exactly, and an
    * inserted near-duplicate of a query becomes its top neighbor (the
    * insert is VISIBLE to search immediately, no index rebuild). */
  def ivfIncrementalTopK(emb: DataFrame, isNew: Column, isQuery: Column,
                         k: Int, nCentroids: Int, nProbe: Int,
                         listSalt: Int = 1): DataFrame = {
    val corpus = graft.core.SharedFrames.register(withNorm(emb.filter(!isNew)))
    val centroids = seededCentroids(corpus, nCentroids)
    require(centroids.nonEmpty, "ivfIncrementalTopK: empty corpus")
    val all = corpus.unionByName(withNorm(emb.filter(isNew)))
    ivfSearch(all, isQuery, k, centroids, nProbe, listSalt)
  }

  /** The md5-seeded IVF centroid pick shared by every IVF variant — a
    * pure function of the corpus ids, so a rebuild, the oracle, and a
    * resumed epoch all agree. Bounded collect: nCentroids rows. */
  private def seededCentroids(n: DataFrame, nCentroids: Int): Array[Array[Double]] =
    n.select(col("vec_id"), col("v"))
      .orderBy(md5(concat(lit("ivf_"), col("vec_id").cast("string"))))
      .limit(nCentroids).collect()
      .map(_.getSeq[Double](1).toArray)

  /** The md5-seeded PQ codebook pick shared by [[pqCodes]], [[pqTopK]],
    * [[ivfPqTopK]] and the persisted epoch: subspace j's codebook is the
    * k subvectors of the vectors whose `md5("pq<j>_" || vec_id)` keys
    * sort first. Bounded collect: k rows per subspace. */
  private def seededCodebooks(n: DataFrame, m: Int, k: Int,
                              sub: Int): Seq[Array[Array[Double]]] =
    (1 to m).map { j =>
      n.select(col("vec_id"), col("v"))
        .orderBy(md5(concat(lit(s"pq${j}_"), col("vec_id").cast("string"))))
        .limit(k).collect()
        .map(_.getSeq[Double](1).slice((j - 1) * sub, j * sub).toArray)
    }

  /** Sorted per-centroid distance-rank array for the row's `v` column:
    * distance via |v-c|^2 = |v|^2 - 2 v.c + |c|^2 (|v|^2 is constant per
    * row, so ranking needs only the fused dot product per centroid plus
    * the precomputed |c|^2 scalar — no per-centroid diff arrays). Element
    * 1 is the assignment argmin (ties to the smaller c); the first
    * `nProbe` elements are the query-side probe list. Shared by the
    * in-session search and the persisted-epoch path so both assign and
    * probe with bit-identical arithmetic. */
  private def distsArray(centroids: Array[Array[Double]]): Column = {
    val centroidsLit = typedlit(centroids.map(_.toSeq).toSeq)
    val cNormSq = centroids.map(c => c.map(x => x * x).sum)
    array_sort(array((0 until centroids.length).map { c =>
      struct((lit(cNormSq(c)) - lit(2.0) * dot(col("v"), element_at(centroidsLit, c + 1)))
        .as("d"), lit(c).as("c"))
    }: _*))
  }

  /** Assign each normed vector row to its inverted list. Output columns
    * (vec_id, v, nrm, list_id) are the persisted-list schema — the dist
    * array is NOT kept (queries re-rank their own nCentroids structs,
    * which is |queries|-bounded, and dropping it keeps the persisted /
    * cached list frame narrow). */
  private def ivfAssign(n: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    n.withColumn("list_id",
      element_at(distsArray(centroids), 1).getField("c"))

  /** Probe-and-rank over an assigned list frame (in-session or loaded
    * from a persisted epoch).
    *
    * `listSalt` > 1 is the hot-list skew defense: a centroid that captures
    * a dense region turns the probe equi-join into one straggler task
    * (AQE's skew split only rescues sort-merge joins). Salting splits
    * every list into `listSalt` sub-lists — corpus rows get a
    * deterministic salt from vec_id, query probe rows fan out across all
    * salts — so the shuffle key cardinality is lists x salt and a hot list
    * spreads over `listSalt` tasks. Results are identical by construction
    * (every (query, corpus-vector) pair still meets exactly once). The
    * salt is derived, never persisted: a loaded epoch can be searched at
    * any salt width. */
  private def searchLists(lists: DataFrame, isQuery: Column, k: Int,
                          centroids: Array[Array[Double]], nProbe: Int,
                          listSalt: Int = 1): DataFrame = {
    require(listSalt >= 1, "listSalt must be >= 1")
    val salted = listSalt > 1
    val assigned = graft.core.SharedFrames.register(
      if (salted)
        lists.withColumn("salt", pmod(col("vec_id"), lit(listSalt)).cast("int"))
      else lists)
    // queries probe the nProbe nearest centroid lists; under salting they
    // fan out over every salt so each (list, salt) shard is met exactly once
    val q0 = assigned.filter(isQuery)
      .withColumn("probes", slice(distsArray(centroids), 1, nProbe))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(col("probes").getField("c")).as("list_id"))
    val q =
      if (salted)
        q0.withColumn("salt", explode(sequence(lit(0), lit(listSalt - 1))))
      else q0
    val joinKeys = if (salted) Seq("list_id", "salt") else Seq("list_id")
    val pairs = q.join(assigned, joinKeys)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"),
        col("rn").as("rank"))
  }

  private def ivfSearch(n: DataFrame, isQuery: Column, k: Int,
                        centroids: Array[Array[Double]], nProbe: Int,
                        listSalt: Int = 1): DataFrame =
    searchLists(ivfAssign(n, centroids), isQuery, k, centroids, nProbe, listSalt)

  /** PERSISTED IVF INDEX EPOCH — the restart boundary for the ANN family
    * (the simhash ingest index has one too; StreamingSpec pins it). The epoch is two parquet directories under
    * `path`: `centroids` (c_id, v — nCentroids rows) and `lists`
    * (vec_id, v, nrm, list_id — the [[ivfAssign]] output). Centroids are
    * the md5-seeded corpus pick of [[ivfIncrementalTopK]], so the
    * save / restart / [[ivfInsertBatch]] / [[ivfIndexTopK]] chain is
    * law-equal to the in-session incremental chain (DedupSpec pins it
    * across a session boundary). An insert appends ONLY the batch's own
    * assigned rows — centroids never move, the IVF production property —
    * so epoch maintenance is O(batch), never a corpus rebuild. */
  def ivfSaveIndex(emb: DataFrame, nCentroids: Int, path: String): Unit = {
    val spark = emb.sparkSession
    val corpus = graft.core.SharedFrames.register(withNorm(emb))
    val centroids = seededCentroids(corpus, nCentroids)
    require(centroids.nonEmpty, "ivfSaveIndex: empty embedding corpus")
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("c_id", "v")
      .write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssign(corpus, centroids)
      .select("vec_id", "v", "nrm", "list_id")
      .write.mode("overwrite").parquet(s"$path/lists")
  }

  /** Load an epoch's centroids — bounded: nCentroids rows by construction. */
  private def ivfLoadCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy("c_id").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Append a batch to a persisted epoch: assign against the SAVED (fixed)
    * centroids, append the assigned rows — nothing about existing lists
    * moves, and the insert is visible to the next [[ivfIndexTopK]]. */
  def ivfInsertBatch(batch: DataFrame, path: String): Unit = {
    val centroids = ivfLoadCentroids(batch.sparkSession, path)
    ivfAssign(withNorm(batch), centroids)
      .select("vec_id", "v", "nrm", "list_id")
      .write.mode("append").parquet(s"$path/lists")
  }

  /** Search a persisted epoch (corpus + every inserted batch). */
  def ivfIndexTopK(spark: SparkSession, path: String, isQuery: Column,
                   k: Int, nProbe: Int, listSalt: Int = 1): DataFrame = {
    val centroids = ivfLoadCentroids(spark, path)
    searchLists(spark.read.parquet(s"$path/lists"), isQuery, k,
      centroids, nProbe, listSalt)
  }

  /** Product quantization (PQ): split each embedding into `m` contiguous
    * subspaces and replace every subvector with the index of its nearest
    * subspace centroid — the memory side of the IVF+PQ pairing (64 floats
    * become `m` small codes; an ANN index over 100 TB of vectors holds
    * codes + codebooks, not raw floats).
    *
    * Codebooks are SEEDED deterministically like [[ivfSeededTopK]]: the
    * subspace-`j` codebook is the `k` subvectors of the vectors whose
    * `md5("pq<j>_" || vec_id)` keys sort first — a pure function of the
    * data that the SQL oracle recomputes, so code assignment and
    * reconstruction error are pinned cross-engine. Assignment is a narrow
    * map (per-subspace fused-dot argmin against literal codebooks); no
    * shuffle anywhere.
    *
    * Returns (vec_id, code_1..code_m, sse) where sse is the exact
    * reconstruction squared error: `|v|^2 + sum_j min_c (|c|^2 - 2 v_j.c)`
    * — evaluated in that algebraic form so both engines fold identically. */
  def pqCodes(emb: DataFrame, m: Int, k: Int, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val n = graft.core.SharedFrames.register(withNorm(emb))
    // one sorted-limit collect per subspace: k rows each, never the corpus
    val codebooks = seededCodebooks(n, m, k, sub)
    require(codebooks.forall(_.length == k), "pqCodes: corpus smaller than k")
    val withCodes = (1 to m).foldLeft(n) { (df, j) =>
      // argmin over |v_j - c|^2 - |v_j|^2 = |c|^2 - 2 v_j.c via
      // array_sort + element 1 (struct compare: d, then c — ties to the
      // smaller centroid index). NOT a when-chain fold: a fold's
      // accumulator appears in both the comparison and the else branch,
      // so its expression tree doubles per codebook entry — 2^k nodes,
      // analyzer-fatal at real codebook sizes (k=256) and silently
      // exponential even at k=16. The sorted-array form is linear, the
      // distsArray discipline.
      df.withColumn(s"best_$j",
        element_at(subspaceDists(codebooks(j - 1), col("v"), j, sub), 1))
    }
    val sse = (1 to m).map(j => col(s"best_$j").getField("d"))
      .foldLeft(dot(col("v"), col("v")))(_ + _)
    withCodes.select(
      col("vec_id") +:
        (1 to m).map(j => col(s"best_$j").getField("c").as(s"code_$j")) :+
        round(sse, 6).as("sse"): _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries keep their
    * exact vectors, the corpus is represented ONLY by its codes, and the
    * approximate distance is `sum_j (|c|^2 - 2 q_j.c)` for each coded
    * subspace centroid — the search half of IVF+PQ (at 100 TB the probe
    * scans codes, not floats; the per-query centroid terms are literal
    * lookups, so the scan stays a narrow broadcast-join map with one
    * final per-query top-k). Codebooks are re-derived with the same
    * md5 seeding as [[pqCodes]], so the whole search is oracle-checkable. */
  def pqTopK(emb: DataFrame, isQuery: Column, topK: Int, m: Int, k: Int,
             dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val codes = graft.core.SharedFrames.register(pqCodes(emb, m, k, dim))
    val n = withNorm(emb)
    val codebooks = seededCodebooks(n, m, k, sub)
    val q = n.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pairs = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
    val dist = adcDist(codebooks, sub)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    pairs.withColumn("adc_dist", round(dist, 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("rn").as("rank"))
  }

  /** IVF + PQ composed search — the production ANN shape at 100 TB: the
    * IVF assignment restricts each query to its `nProbe` probed lists
    * (candidate count ~ corpus * nProbe / nCentroids, not the corpus) and
    * the ADC distance ranks candidates from their PQ CODES only — the
    * probe join never touches corpus floats, so the index that serves it
    * holds codes + two small codebook families. Both halves use the
    * md5-seeded, oracle-checkable variants ([[ivfSeededTopK]] seeding +
    * [[pqCodes]] codebooks), so the COMPOSITION is pinned cross-engine
    * end to end (`q_sim_ivf_pq`). */
  def ivfPqTopK(emb: DataFrame, isQuery: Column, topK: Int, nCentroids: Int,
                nProbe: Int, m: Int, k: Int, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val n = graft.core.SharedFrames.register(withNorm(emb))
    val centroids = seededCentroids(n, nCentroids)
    require(centroids.nonEmpty, "ivfPqTopK: empty embedding corpus")
    val centroidsLit = typedlit(centroids.map(_.toSeq).toSeq)
    val cNormSq = centroids.map(c => c.map(x => x * x).sum)
    val distStructs = (0 until centroids.length).map { c =>
      struct((lit(cNormSq(c)) - lit(2.0) * dot(col("v"), element_at(centroidsLit, c + 1)))
        .as("d"), lit(c).as("c"))
    }
    val assigned = graft.core.SharedFrames.register(n
      .withColumn("dists", array_sort(array(distStructs: _*)))
      .withColumn("list_id", element_at(col("dists"), 1).getField("c")))
    // corpus side: list assignment + codes, no floats
    val codes = graft.core.SharedFrames.register(pqCodes(emb, m, k, dim))
    val corpus = assigned.select(col("vec_id"), col("list_id"))
      .join(codes.drop("sse"), Seq("vec_id"))
    val q = assigned.filter(isQuery)
      .withColumn("probes", slice(col("dists"), 1, nProbe))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("probes").getField("c")).as("list_id"))
    // ADC over the probed candidates (same codebook seeding as pqCodes)
    val codebooks = seededCodebooks(n, m, k, sub)
    val dist = adcDist(codebooks, sub)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    q.join(corpus, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist", round(dist, 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("rn").as("rank"))
  }

  /** The ADC (asymmetric-distance) term over coded subspaces for a row
    * carrying the query vector as `qv` and the candidate's codes as
    * `code_1..code_m`: `sum_j (|c|^2 - 2 q_j.c)` with the per-code
    * centroid norm and dot both literal lookups — shared by [[pqTopK]],
    * [[ivfPqTopK]] and the persisted-epoch search so every path ranks
    * with bit-identical arithmetic. */
  private def adcDist(codebooks: Seq[Array[Array[Double]]], sub: Int): Column =
    (1 to codebooks.length).map { j =>
      val cb = codebooks(j - 1)
      val cbLit = typedlit(cb.map(_.toSeq).toSeq)
      val cn = typedlit(cb.map(c => c.map(x => x * x).sum).toSeq)
      val qSub = slice(col("qv"), (j - 1) * sub + 1, sub)
      element_at(cn, col(s"code_$j") + 1) -
        lit(2.0) * dot(qSub, element_at(cbLit, col(s"code_$j") + 1))
    }.reduceLeft(_ + _)

  /** Nearest-code assignment per subspace for each normed row — the
    * encode half shared by the persisted epoch's build and insert paths.
    * The argmin (ties to the smaller code — the same left fold as
    * [[pqCodes]]) runs as a narrow map against literal codebooks; no
    * shuffle. */
  private def pqAssignCodes(n: DataFrame, codebooks: Seq[Array[Array[Double]]],
                            sub: Int): DataFrame =
    (1 to codebooks.length).foldLeft(n) { (df, j) =>
      df.withColumn(s"code_$j",
        element_at(subspaceDists(codebooks(j - 1), col("v"), j, sub), 1)
          .getField("c"))
    }

  /** Sorted (distance, code) structs of `v`'s subspace-j slice against
    * one codebook — [[distsArray]]'s shape for the PQ fine quantizer;
    * element 1 is the code assignment (ties to the smaller code), the
    * `d` field its `|c|^2 - 2 v_j.c` term. Linear in k by construction
    * (see the [[pqCodes]] note on why a when-chain argmin is not). */
  private def subspaceDists(cb: Array[Array[Double]], v: Column, j: Int,
                            sub: Int): Column = {
    val cbLit = typedlit(cb.map(_.toSeq).toSeq)
    val cNormSq = cb.map(c => c.map(x => x * x).sum)
    val vSub = slice(v, (j - 1) * sub + 1, sub)
    array_sort(array(cb.indices.map { c =>
      struct((lit(cNormSq(c)) - lit(2.0) * dot(vSub, element_at(cbLit, c + 1)))
        .as("d"), lit(c).as("c"))
    }: _*))
  }

  /** PERSISTED IVF+PQ EPOCH — the full production ANN stack as ONE
    * restartable artifact (completing what [[ivfSaveIndex]] does for
    * plain IVF). Directories under `path`:
    *  - `centroids` (c_id, v)            — the IVF coarse quantizer;
    *  - `codebooks` (subspace, code, v)  — the PQ fine quantizer;
    *  - `codes` (vec_id, list_id, code_1..code_m) — the corpus, CODES
    *    ONLY (no floats — the index a 100 TB deployment actually holds);
    *  - `planes` (plane_id, v)           — the hyperplane-LSH matrix,
    *    recorded so the epoch pins its whole hashing parameterization
    *    even though [[planes]] is data-independent.
    *
    * The quantizers are FROZEN at epoch creation: [[ivfPqInsertBatch]]
    * encodes new vectors against the SAVED centroids and codebooks.
    * Re-deriving either from the grown corpus would be wrong twice over
    * — the seeded picks shift as ids arrive, silently re-coding nothing
    * that is already stored — so the epoch, not the session, is the
    * source of truth (DedupSpec pins save / restart / insert / search
    * across a newSession boundary, plus codebook immutability under
    * insert). */
  def ivfPqSaveIndex(emb: DataFrame, nCentroids: Int, m: Int, k: Int,
                     path: String, dim: Int = 64, nPlanes: Int = 16): Unit = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val spark = emb.sparkSession
    val n = graft.core.SharedFrames.register(withNorm(emb))
    val centroids = seededCentroids(n, nCentroids)
    require(centroids.nonEmpty, "ivfPqSaveIndex: empty embedding corpus")
    val codebooks = seededCodebooks(n, m, k, sub)
    require(codebooks.forall(_.length == k), "ivfPqSaveIndex: corpus smaller than k")
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("c_id", "v")
      .write.mode("overwrite").parquet(s"$path/centroids")
    codebooks.zipWithIndex.flatMap { case (cb, j0) =>
      cb.zipWithIndex.map { case (v, c) => (j0 + 1, c, v.toSeq) }
    }.toDF("subspace", "code", "v")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    planes(nPlanes, dim).zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("plane_id", "v")
      .write.mode("overwrite").parquet(s"$path/planes")
    pqAssignCodes(ivfAssign(n, centroids), codebooks, sub)
      .select(col("vec_id") +: col("list_id") +:
        (1 to m).map(j => col(s"code_$j")): _*)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load an epoch's codebooks — bounded: m * k rows by construction. */
  private def loadCodebooks(spark: SparkSession, path: String): Seq[Array[Array[Double]]] =
    spark.read.parquet(s"$path/codebooks").orderBy("subspace", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  /** Append a batch to a persisted IVF+PQ epoch: assign + encode against
    * the SAVED quantizers, append codes — O(batch), nothing stored
    * moves, the insert is visible to the next [[ivfPqIndexTopK]]. */
  def ivfPqInsertBatch(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val centroids = ivfLoadCentroids(spark, path)
    val codebooks = loadCodebooks(spark, path)
    val sub = codebooks.head.head.length
    pqAssignCodes(ivfAssign(withNorm(batch), centroids), codebooks, sub)
      .select(col("vec_id") +: col("list_id") +:
        codebooks.indices.map(j => col(s"code_${j + 1}")): _*)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Search a persisted IVF+PQ epoch: `queries` carry their exact
    * vectors (asymmetric distance), the stored corpus contributes CODES
    * only — the probe join never touches corpus floats, matching
    * [[ivfPqTopK]]'s in-session arithmetic bit for bit (same seeded
    * quantizers, same ADC expression, same tiebreak). */
  def ivfPqIndexTopK(queries: DataFrame, path: String, topK: Int,
                     nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val centroids = ivfLoadCentroids(spark, path)
    val codebooks = loadCodebooks(spark, path)
    val sub = codebooks.head.head.length
    val codes = spark.read.parquet(s"$path/codes")
    val q = withNorm(queries)
      .withColumn("probes", slice(distsArray(centroids), 1, nProbe))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("probes").getField("c")).as("list_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    q.join(codes, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist", round(adcDist(codebooks, sub), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("rn").as("rank"))
  }

  /** Scale for exact integer embedding arithmetic: float32 values in
    * (-2, 2) with magnitude >= 2^-20 are exact multiples of 2^-44 (a
    * 24-bit mantissa reaches at most 23 bits below the leading bit), so
    * x * 2^44 is an exact integer every engine agrees on. */
  val IntScaleBits = 44
  val IntScale: Long = 1L << IntScaleBits

  /** (vec_id, pos, xs) with xs = the exact integer x * 2^44. */
  private def scaledElems(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        posexplode(transform(col("embedding"), x => x.cast("double"))))
      .select(col("vec_id"), col("pos"),
        (col("col") * lit(IntScale.toDouble)).cast("long").as("xs"))

  /** Pairwise cosine between per-label CENTROIDS — the cluster-similarity
    * monitor (are two labels/topics semantically collapsing?). Works on
    * per-label SUM vectors, never means: cos(sum_a, sum_b) ==
    * cos(mean_a, mean_b) (the 1/n scalars cancel), so everything up to
    * the final ratio stays in exact integer arithmetic — per-(label, dim)
    * sums of x*2^44 in DECIMAL(38,0), pairwise dots as decimal products
    * (magnitudes ~1e32, inside DECIMAL(38,0)). Doubles appear only in
    * the final dot/(|a||b|) ratio, evaluated in one fixed op order both
    * engines share.
    *
    * Scale shape: one bounded (label, dim) aggregation with map-side
    * partials (output = |labels| x d rows), then a dim-key join whose
    * fan-out is |labels|² x d — label cardinality is bounded, so the
    * whole matrix is a broadcast-scale frame at any corpus size. */
  def labelCentroidCosine(emb: DataFrame): DataFrame = {
    val ex = emb.select(col("label"),
        posexplode(transform(col("embedding"), x => x.cast("double"))))
      .select(col("label"), col("pos"),
        (col("col") * lit(IntScale.toDouble)).cast("long").as("xs"))
    val sums = graft.core.SharedFrames.register(
      ex.groupBy("label", "pos")
        .agg(sum(col("xs").cast("decimal(38,0)")).as("s")))
    val dots = sums.select(col("label").as("label_a"), col("pos"), col("s").as("sa"))
      .join(sums.select(col("label").as("label_b"), col("pos"), col("s").as("sb")),
        Seq("pos"))
      .filter(col("label_a") <= col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sa") * col("sb")).as("dot"))
    val norms = dots.filter(col("label_a") === col("label_b"))
      .select(col("label_a").as("label"), col("dot").as("nrm"))
    dots
      .join(norms.select(col("label").as("label_a"), col("nrm").as("na")), Seq("label_a"))
      .join(norms.select(col("label").as("label_b"), col("nrm").as("nb")), Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
  }

  /** Upper-triangle integer covariance numerators:
    * c(i,j) = n*sum(xi*xj) - sum(xi)*sum(xj) = n^2 * 2^88 * cov(i,j),
    * EXACT (every term is integer arithmetic, mirrored by the SQL
    * engine in HUGEINT). Column `n` is carried alongside.
    *
    * Distributed Gram shape: the d(d+1)/2 upper-triangle product sums
    * accumulate in ONE pass through [[graft.functions.CovAccumAgg]] — a
    * TypedImperativeAggregate holding a per-partition 128-bit cell
    * buffer, so only |partitions| buffers cross the exchange (the
    * TopK/Misra–Gries map-side-combine shape). The previous declarative
    * form generated 2080 (i,j) rows PER VECTOR into a decimal hash
    * aggregation — correct, but millions of shuffled rows per million
    * vectors and ~20× slower, measured side by side in one JVM; it is
    * retained as [[covarianceNumeratorsExploded]] and CovAccumSpec pins
    * cell-for-cell equality on the corpus and adversarial fixtures. */
  def covarianceNumerators(emb: DataFrame): DataFrame = {
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val xsLong = transform(col("embedding"), x =>
      (x.cast("double") * lit(IntScale.toDouble)).cast("long"))
    val base = graft.core.SharedFrames.register(
      emb.select(col("vec_id"), xsLong.as("xs")))
    val nn = base.agg(countDistinct("vec_id").as("n"))
    // DECIMAL accumulation: a long sum would overflow past ~10^6 vectors
    val si = base.select(posexplode(col("xs")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(col("x").cast("decimal(19,0)")).as("s"))
    val idxLit = typedlit(for { i <- 1 to d; j <- i to d } yield (i, j))
    val sij = base
      .agg(graft.functions.CovAccum.covAccum(col("xs"), d).as("cells"))
      .select(posexplode(col("cells")).as(Seq("k", "sij")))
      .select(element_at(idxLit, col("k") + 1).as("t"), col("sij"))
      .select((col("t._1") - 1).as("i"), (col("t._2") - 1).as("j"), col("sij"))
    sij
      .join(si.select(col("pos").as("i"), col("s").as("si")), Seq("i"))
      .join(si.select(col("pos").as("j"), col("s").as("sj")), Seq("j"))
      .crossJoin(broadcast(nn))
      .select(col("i"), col("j"),
        (col("n") * col("sij") - col("si") * col("sj")).as("c"),
        col("n"))
  }

  /** The pre-round-10 declarative Gram: d(d+1)/2 exploded (i,j) rows per
    * vector through a decimal hash aggregation. Kept as the independent
    * reference formulation for CovAccumSpec's equality law. */
  private[graft] def covarianceNumeratorsExploded(emb: DataFrame): DataFrame = {
    val ex = graft.core.SharedFrames.register(scaledElems(emb))
    val nn = ex.agg(countDistinct("vec_id").as("n"))
    val si = ex.groupBy("pos")
      .agg(sum(col("xs").cast("decimal(19,0)")).as("s"))
    val xsArr = transform(col("embedding"), x =>
      (x.cast("double") * lit(IntScale.toDouble)).cast("long")
        .cast("decimal(19,0)"))
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val idxLit = typedlit(for { i <- 1 to d; j <- i to d } yield (i, j))
    val sij = emb
      .withColumn("xs", xsArr)
      .select(col("xs"), explode(idxLit).as("t"))
      .groupBy((col("t._1") - 1).as("i"), (col("t._2") - 1).as("j"))
      .agg(sum(element_at(col("xs"), col("t._1")) *
        element_at(col("xs"), col("t._2"))).as("sij"))
    sij
      .join(si.select(col("pos").as("i"), col("s").as("si")), Seq("i"))
      .join(si.select(col("pos").as("j"), col("s").as("sj")), Seq("j"))
      .crossJoin(broadcast(nn))
      .select(col("i"), col("j"),
        (col("n") * col("sij") - col("si") * col("sj")).as("c"),
        col("n"))
  }

  /** Covariance matrix (upper triangle) as deterministic doubles: the
    * exact integer numerator divided by n^2 * 2^88 — every double op is
    * correctly-rounded IEEE on identical inputs, so no rounding fudge is
    * needed for oracle parity. */
  def covarianceMatrix(cnum: DataFrame): DataFrame =
    cnum.select(col("i"), col("j"),
      (col("c").cast("double") / (col("n") * col("n")).cast("double") /
        lit(math.pow(2, 2 * IntScaleBits))).as("cov"))

  /** First principal component by FIXED-POINT power iteration — float
    * matvecs sum in partition order (nondeterministic on a cluster);
    * this one is exact integer arithmetic end to end, so `iters` Spark
    * rounds replay as `iters` unrolled SQL stages bit-for-bit.
    *
    * Recurrence: Cs = sign-split (c div 2^48) [fits IntegralDivide's
    * long output]; w = Cs . v (DECIMAL matvec, order-independent);
    * v' = sign(w) * (|w| * 2^20 div max|w|) — rescaling keeps components
    * in [-2^20, 2^20] and uses only POSITIVE integer division, where
    * Spark's truncating `div` and DuckDB's flooring `//` agree.
    *
    * Scale shape: the d x d matrix frame stays distributed (at d in the
    * thousands it is millions of rows); each round is one equi-join of
    * the d-row vector frame against it, one i-key aggregation, and a
    * 1-row max broadcast — never a driver-side matrix. */
  def pc1PowerIteration(cnum: DataFrame, iters: Int = 8): DataFrame = {
    val v = pc1Iterate(cnum, iters)
    val z = math.sqrt(v.map(x => x * x).sum.toDouble)
    val vLit = typedlit(v.map(_.toLong).toSeq)
    cnum.select(col("i").as("pos")).distinct()
      .select(col("pos"),
        (element_at(vLit, col("pos") + 1).cast("double") / lit(z)).as("pc1"))
  }

  /** The fixed-point power-iteration loop: returns the integer iterate
    * after `iters` rounds (components in [-2^20, 2^20]), cached per
    * (session, frame) so PC1 output and projection share one training
    * run. The iterate is d-bounded: collect it per round (the same
    * bounded driver pull as the IVF centroid seed) and broadcast it back
    * as a literal — the MATRIX stays distributed, only the vector
    * cycles. Driver-side rescale runs in BigInteger, exactly the
    * truncating integer ops the SQL replay performs. */
  private val iterateCache =
    new java.util.concurrent.ConcurrentHashMap[(DataFrame, Int), Array[BigInt]]()
  private def pc1Iterate(cnum: DataFrame, iters: Int): Array[BigInt] =
    iterateCache.computeIfAbsent((cnum, iters), { _ =>
      val cfull = cnum.select(col("i"), col("j"), col("c"))
        .unionByName(cnum.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("c")))
      val down = 1L << 48
      val cs = graft.core.SharedFrames.register(cfull.select(col("i"), col("j"),
        expr(s"CASE WHEN c < 0 THEN -((-c) div ${down}L) ELSE c div ${down}L END")
          .as("c")))
      val dim = cs.agg(max(col("i"))).head().getInt(0) + 1
      var v: Array[BigInt] = Array.fill(dim)(BigInt(1L << 20))
      // the iterated frame is d^2-bounded — always sub-reducer scale, so
      // the policy reliably picks plain planning for the power rounds
      graft.ops.Rounds.scopedForSize(cnum.sparkSession, cs.count()) {
      for (_ <- 1 to iters) {
        val vLit = typedlit(v.map(_.toLong).toSeq)
        val w = cs
          .withColumn("term",
            col("c").cast("decimal(19,0)") * element_at(vLit, col("j") + 1))
          .groupBy(col("i")).agg(sum(col("term")).as("w"))
          .collect() // bounded: d rows
        val wArr = Array.fill(dim)(BigInt(0))
        w.foreach(r => wArr(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
        val m = wArr.map(_.abs).max
        v = wArr.map(x => if (x < 0) -((-x * 1048576) / m) else x * 1048576 / m)
      }
      } // scopedForSize
      v
    })

  /** Project every embedding onto the first principal component — the
    * dimensionality-reduction APPLY step that pairs with
    * [[pc1PowerIteration]]. The fixed-point iterate v (integers in
    * [-2^20, 2^20]) is used directly: P = sum_i xs_i * v_i is an exact
    * integer per row (sequential in-row DECIMAL fold — a SQL engine
    * reproduces it with an element-wise sum, order irrelevant for exact
    * integers), and proj = P / (2^44 * |v|) runs in deterministic
    * doubles. Pure projection over the scan: the iterate rides along as
    * a literal, nothing shuffles. */
  def pc1Projection(emb: DataFrame, cnum: DataFrame, iters: Int = 8): DataFrame = {
    val v = pc1Iterate(cnum, iters)
    val z = math.sqrt(v.map(x => x * x).sum.toDouble)
    val vLit = typedlit(v.map(_.toLong).toSeq)
    val xsArr = transform(col("embedding"), x =>
      (x.cast("double") * lit(IntScale.toDouble)).cast("long")
        .cast("decimal(19,0)"))
    emb.select(col("vec_id"),
      aggregate(
        zip_with(xsArr, vLit, (x, vv) => x * vv.cast("decimal(19,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"), (acc, t) => acc + t)
        .as("p"))
      .select(col("vec_id"),
        (col("p").cast("double") / lit(IntScale.toDouble) / lit(z)).as("proj"))
  }

  /** Bucketed ANN near-dup pairs: compare only bucket-mates, verify with
    * true cosine >= `threshold`. */
  def lshNearDupPairs(emb: DataFrame, nPlanes: Int, threshold: Double): DataFrame = {
    // registered: the frame is self-joined, so without a persist the
    // nPlanes x 64-dim bucket projection would run twice
    val b = graft.core.SharedFrames.register(withNorm(withLshBucket(emb, nPlanes)))
    val a = b.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"), col("bucket"))
    val c = b.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"), col("bucket"))
    a.join(c, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "bucket", "cosine")
  }
}
