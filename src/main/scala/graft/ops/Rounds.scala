package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution policy for iterative rounds. */
private[graft] object Rounds {

  /** Below this materialized row count, a round's shuffles are
    * sub-reducer scale and AQE's per-query-stage replanning (each stage
    * becomes its own job with a materialization barrier, plan pass, and
    * codegen pass) is pure fixed cost — measured 5x wall-clock on the
    * connected-components loop over a few hundred edges. Above it, AQE
    * stays on: runtime skew-splitting of the per-round join is exactly
    * what a 100 TB near-dup graph with a hot component needs. */
  val SmallRoundRows: Long = 1L << 20

  /** Reduce-side width for sub-reducer-scale rounds: with AQE off the
    * session's full `spark.sql.shuffle.partitions` applies to every
    * per-round exchange, so a 5-round loop over a few thousand rows pays
    * rounds × partitions near-empty reduce tasks of pure dispatch
    * overhead. 4 keeps the round parallel enough for the size class the
    * [[SmallRoundRows]] gate admits (< 2^20 rows → ≲ 256k rows/task). */
  val SmallRoundPartitions = "4"

  /** Run `f` with AQE disabled AND the shuffle width scoped down iff
    * `nRows` (the iterated frame's MATERIALIZED size — an honest runtime
    * stat, the op counts the frame it is about to iterate) is
    * sub-reducer scale; always restores the prior settings.
    * Session-conf scoping assumes the session runs queries sequentially
    * (true of the driver harness, the bench, and scalatest). Scopes MAY
    * nest (e.g. Similarity.dbscan wrapping Dedup.connectedComponents):
    * each scope saves and restores the conf values it observed on entry,
    * so the inner scope hands back the outer scope's setting and the
    * outermost restore reinstates the session default — do not replace
    * the save/restore with a cached static. */
  def scopedForSize[A](spark: SparkSession, nRows: Long)(f: => A): A = {
    if (nRows >= SmallRoundRows) f
    else {
      val aqeKey = "spark.sql.adaptive.enabled"
      val partKey = "spark.sql.shuffle.partitions"
      val oldAqe = spark.conf.get(aqeKey, "true")
      val oldPart = spark.conf.get(partKey, "200")
      spark.conf.set(aqeKey, "false")
      spark.conf.set(partKey, SmallRoundPartitions)
      try f finally {
        spark.conf.set(aqeKey, oldAqe)
        spark.conf.set(partKey, oldPart)
      }
    }
  }
}

/** Per-round lineage truncation for iterative ops ([[Dedup.connectedComponents]],
  * [[Graph.pageRank]], [[Graph.labelPropagation]], [[Graph.hopDistances]],
  * [[Graph.kCore]]), shared between the local and durable configurations:
  *
  *  - `reliable = false`: `localCheckpoint` — truncates the logical plan so
  *    round N does not replay rounds 1..N-1, storing blocks on executors.
  *    Fast, but on a real cluster a lost executor kills the job
  *    mid-iteration (blocks are not replicated and the lineage needed to
  *    recompute them was just cut).
  *  - `reliable = true`: durable `checkpoint` (requires
  *    `spark.sparkContext.setCheckpointDir` on fault-tolerant storage — the
  *    100 TB configuration), plus checkpoint-dir HYGIENE: Spark never
  *    deletes superseded checkpoint data on its own
  *    (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults to
  *    false), so a long iterative run would leak one full frame copy per
  *    round on durable storage. Each instance tracks the `rdd-*` dirs its
  *    own rounds create (never touching other checkpoint users') and
  *    deletes a round's dirs once a later round has materialized; only the
  *    final round's data — which the returned frame reads — survives.
  *
  * One instance per ITERATED FRAME LINEAGE: a loop that checkpoints two
  * frames per round (e.g. BFS frontier + settled set) must use two
  * instances, because instance-level cleanup assumes "a dir from a prior
  * round of THIS lineage is superseded once the current round
  * materializes" — true within one lineage, false across lineages that
  * read each other's prior rounds.
  */
private[graft] final class RoundCheckpointer(spark: SparkSession,
                                             reliable: Boolean) {
  private val sc = spark.sparkContext
  if (reliable) require(sc.getCheckpointDir.nonEmpty,
    "reliable=true requires spark.sparkContext.setCheckpointDir on durable storage")
  private val cpRoot: Option[Path] =
    if (reliable) sc.getCheckpointDir.map(new Path(_)) else None
  private var ourDirs = Set.empty[String]

  /** Lazy truncation — the caller's own per-round action (e.g. a
    * convergence count) materializes the checkpoint, so each round costs
    * ONE job, not two. Bracket with [[beginRound]]/[[endRound]]. */
  def truncate(df: DataFrame): DataFrame =
    if (reliable) df.checkpoint(false) else df.localCheckpoint(false)

  /** Snapshot the checkpoint root before this round materializes. */
  def beginRound(): Set[String] = rddDirs()

  /** After this round's frame is fully materialized on durable storage:
    * every one of OUR dirs that predates the round is superseded — delete
    * it; adopt the dirs the round created. */
  def endRound(before: Set[String]): Unit = {
    val after = rddDirs()
    val obsolete = ourDirs.intersect(before)
    ourDirs = ourDirs ++ (after -- before) -- obsolete
    deleteDirs(obsolete)
  }

  /** Self-contained round for fixed-horizon loops with no caller-side
    * per-round action: in reliable mode the checkpoint is EAGER (one job
    * per round — materialization is what makes deleting the prior round
    * safe, and is the inherent cost of durability); in local mode lazy,
    * so the whole horizon still executes as one job at the first action. */
  def round(df: DataFrame): DataFrame =
    if (reliable) {
      val before = beginRound()
      val out = df.checkpoint(true)
      endRound(before)
      out
    } else df.localCheckpoint(false)

  /** Drop every dir this instance still tracks. Call only when the data is
    * no longer reachable from any live frame — e.g. an auxiliary lineage
    * (BFS frontier) whose final round was already folded into the result
    * lineage and materialized there. */
  def releaseAll(): Unit = { deleteDirs(ourDirs); ourDirs = Set.empty }

  private def rddDirs(): Set[String] = cpRoot match {
    case Some(p) =>
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath)
          .filter(_.getName.startsWith("rdd-")).map(_.toString).toSet
      else Set.empty
    case None => Set.empty
  }

  private def deleteDirs(dirs: Set[String]): Unit = cpRoot.foreach { p =>
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    dirs.foreach(d =>
      try fs.delete(new Path(d), true)
      catch { case _: java.io.IOException => () })
  }
}
