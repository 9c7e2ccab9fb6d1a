package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge frames. Companion to the
  * connected-components fixpoint in [[Dedup.connectedComponents]]: CC
  * answers "which docs form one duplicate group", PageRank answers
  * "which doc is the most central member" — a centrality-based canonical
  * pick for near-dup clusters (the quality-ranked pick in
  * `q_dedup_canonical` is attribute-based; this one is structure-based).
  *
  * Reference analog: subsidiary/parent selection keeps the highest-degree
  * record of a matched group (`..._ipeds_v5.py:1050–1082` keeps the
  * largest-footprint row); PageRank generalizes "largest footprint" to
  * transitive link structure.
  */
object Graph {

  /** Fixed-point PageRank on an undirected edge list.
    *
    * All arithmetic is INTEGER: total mass `scale` (1e15) splits into
    * per-node ranks; one round is
    * `r'(v) = (scale*(100-damp)) div (100*n) + (damp * sum_u r(u) div deg(u)) div 100`
    * with `div` the flooring integer division. Floating-point PageRank
    * sums contributions in partition order — nondeterministic on a
    * cluster; the integer form is order-independent (addition is
    * associative) and replays bit-for-bit in any SQL engine (the floor
    * losses are part of the definition, bounded by 1 unit per edge per
    * round). Undirected degree >= 1 for every node, so there is no
    * dangling-mass term.
    *
    * Scale shape: `edges` (src,dst,deg) is built once (one groupBy + one
    * join) and re-partitioned on src; each round is one equi-join of the
    * current rank frame against it plus one dst-key aggregation — the
    * same two-shuffle round as the CC loop, with the same per-round
    * lineage truncation so plan size stays O(1) in the iteration count.
    *
    * @param pairs undirected pair frame with BIGINT columns `id_a`,`id_b`
    * @param reliable durable per-round checkpoints with supersede-delete
    *                 hygiene instead of executor-local truncation — the
    *                 lost-executor-safe 100 TB configuration (see
    *                 [[RoundCheckpointer]]; requires `setCheckpointDir`)
    * @param knownSize row count of `pairs`, which the caller has already
    *                  persisted; it sizes the round planning
    *                  ([[Rounds.scopedForSize]]), as in every op below
    * @return (doc_id, deg, pr_scaled) — pr_scaled sums to ~scale
    */
  def pageRank(pairs: DataFrame, iters: Int = 5, damp: Int = 85,
               scale: Long = 1000000000000000L,
               reliable: Boolean = false,
               knownSize: Long): DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    val cp = new RoundCheckpointer(pairs.sparkSession, reliable)
    // the caller persists and counts the pair frame (session-shared pair
    // frames); policy sized by it (|edges| <= 2|pairs|) so the edge-frame
    // build runs under the scoped round planning too
    graft.core.SharedFrames.assertPersisted(pairs, "Graph iterative op")
    val p = pairs.select(col("id_a"), col("id_b"))
    Rounds.scopedForSize(pairs.sparkSession, knownSize) {
      val fwd = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      val rev = p.select(col("id_b").as("src"), col("id_a").as("dst"))
      val undirected = fwd.unionByName(rev).distinct()
      val degs = undirected.groupBy("src").agg(count(lit(1)).as("deg"))
      // (src, dst, deg_src), partitioned by src: every per-round join reuses
      // this partitioning instead of re-shuffling the edge list
      val edges = graft.core.SharedFrames.register(
        undirected.join(degs, Seq("src")).repartition(col("src")))
      val n = edges.select(countDistinct("src")).head().getLong(0)
      val base = (scale * (100 - damp)) / (100 * n)
      var ranks = degs.select(col("src").as("doc_id"),
        lit(scale / n).as("pr_scaled"))
      def oneRound(r: DataFrame): DataFrame = edges
        .join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .withColumn("share", expr("pr_scaled div deg"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum("share").as("in_mass"))
        .select(col("doc_id"),
          // overflow-audited: mass conservation bounds in_mass by the
          // TOTAL rank mass ~scale (1e15) at any graph size, so
          // damp·in_mass <= ~8.5e16 — three orders under 2^63
          (lit(base) + expr(s"($damp * in_mass) div 100")).as("pr_scaled"))
      // NOT pair-fused (r12): fusion was tried here (the CC/LPA
      // discipline — lineage cut every two rounds, result bit-identical)
      // and measured a consistent +0.4–0.5 s on the driver-shaped bench
      // (1.20 → 1.56–1.71 s across three full runs) while the UNfused
      // kCore/hops improved in the same runs — the deeper two-join
      // segment plans cost more locally than the saved checkpoint.
      // LabelPropagation keeps its fusion (measured neutral, 0.83 →
      // 0.85 s, and it halves reliable-mode checkpoint writes).
      for (_ <- 1 to iters) {
        // truncate lineage so the logical plan stays O(1) across rounds
        ranks = cp.round(oneRound(ranks))
      }
      // execute the horizon inside the scope (lazy local checkpoints
      // materialize here, under the chosen round planning; blocks are
      // reused by the caller's action)
      ranks.count()
      ranks.join(degs.withColumnRenamed("src", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("deg"), col("pr_scaled"))
    }
  }

  /** Synchronous label propagation (LPA) over an undirected pair frame —
    * community detection as the coarser companion of connected components:
    * CC merges anything reachable, LPA lets DENSE regions keep their own
    * label, so two cliques linked by one bridge edge resolve as two
    * communities where CC reports one.
    *
    * Fully deterministic: labels init to node ids; each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * SMALLEST label — implemented as `max(struct(count, -label))`, the
    * same argmax-with-tiebreak every engine can replay (`ORDER BY c DESC,
    * label ASC` pick-first in SQL). Synchronous updates with a FIXED
    * round count (no convergence test: sync LPA can 2-cycle on bipartite
    * stars, so "until stable" is not well-defined; a fixed horizon is,
    * and replays bit-for-bit).
    *
    * Scale: per round one equi-join of the label frame against the
    * src-partitioned edge list + two dst-key aggregations; lineage
    * truncated per round like [[pageRank]].
    *
    * @return (doc_id, community) — community = the round-`iters` label
    */
  def labelPropagation(pairs: DataFrame, iters: Int = 4,
                       reliable: Boolean = false,
                       knownSize: Long): DataFrame = {
    require(iters >= 1)
    val cp = new RoundCheckpointer(pairs.sparkSession, reliable)
    graft.core.SharedFrames.assertPersisted(pairs, "Graph iterative op")
    val p = pairs.select(col("id_a"), col("id_b"))
    Rounds.scopedForSize(pairs.sparkSession, knownSize) {
      val fwd = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      val rev = p.select(col("id_b").as("src"), col("id_a").as("dst"))
      val edges = graft.core.SharedFrames.register(
        fwd.unionByName(rev).distinct().repartition(col("src")))
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
      def oneRound(l: DataFrame): DataFrame = edges
        .join(l.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy("dst", "label").agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("doc_id"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("doc_id"), (-col("m.nl")).as("label"))
      // pair-fused like pageRank: same `iters` synchronous rounds, the
      // lineage cut every two — bit-identical labels at the horizon
      var i = 0
      while (i < iters) {
        val k = math.min(2, iters - i)
        var cur = labels
        for (_ <- 1 to k) cur = oneRound(cur)
        labels = cp.round(cur)
        i += k
      }
      labels.count() // run the horizon under the scoped round planning
      labels.select(col("doc_id"), col("label").as("community"))
    }
  }

  /** Bounded-depth BFS hop distances from a seed set over an undirected
    * pair frame — the contamination blast radius: not just which docs
    * directly overlap a benchmark (the semi-join check), but everything
    * within `maxHops` near-dup links of one (a near-dup of a near-dup of
    * an eval doc is still a leakage risk).
    *
    * Level-synchronous frontier expansion, `maxHops` rounds of one
    * src-keyed equi-join + one anti-join against the settled set; BFS
    * order guarantees the first time a node is reached IS its minimum
    * distance, so no re-relaxation is needed (unweighted edges). Lineage
    * truncated per round like the other iterative ops. A fixed horizon
    * (not fixpoint) — the radius of interest is a policy choice, and at
    * 100 TB the frontier join cost is bounded by hop-k neighborhood
    * size, never the whole graph.
    *
    * @param seeds 1-column (doc_id) frame of sources
    * @return (doc_id, hops) for every node within maxHops of a seed,
    *         seeds at 0
    */
  def hopDistances(pairs: DataFrame, seeds: DataFrame, maxHops: Int,
                   reliable: Boolean = false,
                   knownSize: Long): DataFrame = {
    require(maxHops >= 0)
    // Two iterated lineages (frontier, settled set) that read each other's
    // PRIOR rounds — one checkpointer each, so neither's supersede-delete
    // can drop a dir the other still needs (see RoundCheckpointer scaladoc)
    val cpFrontier = new RoundCheckpointer(pairs.sparkSession, reliable)
    val cpDist = new RoundCheckpointer(pairs.sparkSession, reliable)
    graft.core.SharedFrames.assertPersisted(pairs, "Graph iterative op")
    val p = pairs.select(col("id_a"), col("id_b"))
    Rounds.scopedForSize(pairs.sparkSession, knownSize) {
      val fwd = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      val rev = p.select(col("id_b").as("src"), col("id_a").as("dst"))
      val edges = graft.core.SharedFrames.register(
        fwd.unionByName(rev).distinct().repartition(col("src")))
      val nodes = edges.select(col("src").as("doc_id")).distinct()
      var dist = nodes.join(seeds, Seq("doc_id"), "left_semi")
        .withColumn("hops", lit(0L))
      var frontier = dist
      // NOT pair-fused (unlike pageRank/LPA, r12): each round reads its
      // own output TWICE downstream (the next expansion AND the dist
      // union), so deferring the checkpoint clones the un-truncated
      // round subtree across both consumers — measured 11→18 jobs /
      // +0.4 s on q_contamination_hops when tried. Fusion only pays when
      // the round body reads its input once.
      for (k <- 1 to maxHops) {
        val next = edges
          .join(frontier.select(col("doc_id").as("src")), Seq("src"))
          .select(col("dst").as("doc_id")).distinct()
          .join(dist.select("doc_id"), Seq("doc_id"), "left_anti")
          .withColumn("hops", lit(k.toLong))
        frontier = cpFrontier.round(next)
        dist = cpDist.round(dist.unionByName(frontier))
      }
      dist.count() // run the horizon under the scoped round planning
      // the final frontier was folded into `dist` and materialized there —
      // its own checkpoint data is no longer reachable from the result
      cpFrontier.releaseAll()
      dist
    }
  }

  /** k-core of an undirected pair frame — iterative peeling: drop every
    * node with degree < k, recompute degrees over the surviving subgraph,
    * repeat. The surviving nodes are the graph's dense backbone; for the
    * near-dup graph that separates true duplicate CLIQUES (every member
    * near-dups every other — high core number) from star/chain artifacts
    * where one hub doc links many otherwise-unrelated docs (leaves peel
    * off in round one). CC + triangles + k-core are the standard trio:
    * reachability, local density, and global density.
    *
    * FIXED round horizon like [[labelPropagation]]: peeling converges in
    * at most |V| rounds, but a data-dependent stop ("no node removed")
    * can't replay as unrolled SQL; a fixed horizon can, bit-for-bit —
    * and equality with the oracle holds at ANY horizon because both
    * engines run exactly the same rounds. Per round: one src-key degree
    * aggregation + two semi-joins restricting the edge list; lineage
    * truncated per round like the other iterative ops. At 100 TB each
    * round only shrinks the edge frame, so round cost is monotonically
    * decreasing.
    *
    * @param pairs undirected pair frame with BIGINT `id_a`, `id_b`
    * @return (doc_id, core_deg) for nodes surviving `iters` peels;
    *         core_deg = degree within the surviving subgraph
    */
  def kCore(pairs: DataFrame, k: Int, iters: Int,
            reliable: Boolean = false,
            knownSize: Long): DataFrame = {
    require(k >= 1 && iters >= 1)
    val cp = new RoundCheckpointer(pairs.sparkSession, reliable)
    graft.core.SharedFrames.assertPersisted(pairs, "Graph.kCore")
    val pc = pairs.select(col("id_a"), col("id_b"))
    Rounds.scopedForSize(pairs.sparkSession, knownSize) {
      val fwd = pc.select(col("id_a").as("src"), col("id_b").as("dst"))
      val rev = pc.select(col("id_b").as("src"), col("id_a").as("dst"))
      var edges = graft.core.SharedFrames.register(
        fwd.unionByName(rev).distinct())
      // NOT pair-fused (unlike pageRank/LPA, r12): a peel reads its input
      // edge frame THREE times (degree build + two semi-joins), so a
      // deferred checkpoint clones the inner peel's subtree three ways —
      // measured 12→16 jobs / +0.3 s on q_kcore when tried. One
      // truncation per peel is the cheap shape here.
      for (_ <- 1 to iters) {
        val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("src")
        val next = edges
          .join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst")
        edges = cp.round(next)
      }
      val out = edges.groupBy(col("src").as("doc_id"))
        .agg(count(lit(1)).as("core_deg"))
      out.count() // run the peels under the scoped round planning
      out
    }
  }

  /** Per-node triangle participation counts over an undirected pair frame
    * — the local clustering signal for the near-dup graph (a doc in many
    * triangles sits inside a densely duplicated clique; a bridge doc in
    * few triangles links otherwise-unrelated groups, the classic false
    * positive a pairwise threshold lets through).
    *
    * Canonical-orientation algorithm: edges arrive as id_a < id_b, so a
    * wedge (a,b)x(b,c) built from two canonical edges automatically has
    * a < b < c and each triangle is enumerated exactly once — no
    * permutation blowup, no post-hoc distinct. Two equi-joins total:
    * wedge build on the shared middle node, then closure probe on (a,c).
    * At scale both joins key on node ids; the wedge count per node b is
    * deg(b)^2-bounded, which is the standard orientation bound — the
    * canonical form already directs edges low->high id, halving degrees
    * vs naive.
    *
    * @param pairs pair frame with BIGINT `id_a` < `id_b` per row
    * @return (doc_id, n_triangles) for every node in >= 1 triangle
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").as("a"), col("id_b").as("b")).distinct()
    val wedges = e.join(
        e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tris = wedges.join(
        e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select("a", "b", "c")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
