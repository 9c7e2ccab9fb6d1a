package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of persisted DataFrames shared across queries in one session.
  *
  * Two problems, one mechanism:
  *
  *  - '''sharing''': several driver queries recompute the same expensive
  *    intermediate (the shingle frame feeds `q_dedup_jaccard`,
  *    `q_dedup_minhash` AND `q_dedup_apply`). [[cached]] builds it once per
  *    (session, key) and returns the persisted frame to every caller, so
  *    the explode+distinct+shuffle subtree runs once per run, not once per
  *    query.
  *  - '''hygiene''': a bare `persist()` with no matching `unpersist()` is a
  *    slow leak in a long-lived 100 TB job (cached blocks pinned for the
  *    session lifetime). Every persist in the library goes through this
  *    registry; the runner (`Verify`/`Bench`/a user pipeline) calls
  *    [[clear]] when the batch of queries is done.
  *
  * Keys embed the session identity so a cached frame from a stopped test
  * session is never handed to a new one.
  */
object SharedFrames {

  private val named = TrieMap.empty[String, DataFrame]
  private val anonymous = new ConcurrentLinkedQueue[DataFrame]()
  private val cleanups = new ConcurrentLinkedQueue[() => Unit]()
  private val counts = TrieMap.empty[String, Long]
  // session keys whose USER key was table-class ("table:" prefix checked
  // on the raw key at registration, BEFORE session prefixing) — the set
  // clearDerived keeps. A substring scan of the composed session key
  // would misclassify a derived frame whose user-supplied data dir
  // happens to contain ":table:".
  private val tableKeys = TrieMap.empty[String, Unit]

  /** Register a teardown action to run once at the next [[clear]] — the
    * hygiene hook for session-scoped side artifacts that are not cache
    * blocks (e.g. the roundtrip sink's per-session temp directory, which
    * would otherwise accumulate one corpus-sized copy per bench/verify
    * run). Exceptions are swallowed like [[safeUnpersist]]'s. */
  def onClear(action: () => Unit): Unit = cleanups.add(action)

  // applicationId is unique per SparkContext; identityHashCode then only
  // needs to separate sessions WITHIN one context, so cross-context hash
  // collisions (the stale-session hazard) are impossible
  private def sessionKey(spark: SparkSession, key: String): String =
    s"${spark.sparkContext.applicationId}:${System.identityHashCode(spark)}:$key"

  /** Build-once persisted frame shared across queries under `key`.
    * Concurrency: losers of the `putIfAbsent` race unpersist their frame
    * immediately, so no cache block leaks on concurrent first calls. */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = sessionKey(spark, key)
    if (key.startsWith("table:")) tableKeys.put(k, ())
    named.get(k) match {
      case Some(df) => df
      case None =>
        val fresh = build.persist()
        named.putIfAbsent(k, fresh) match {
          case None         => fresh
          case Some(winner) => safeUnpersist(fresh); winner
        }
    }
  }

  /** Row count memoized once per (session, key) — the companion STAT of a
    * [[cached]] frame. The iterative ops gate their round planning on the
    * input's materialized size ([[graft.ops.Rounds.scopedForSize]]), and
    * without the memo every op invocation over the same persisted shared
    * frame re-counts it: one driver job of pure fixed cost each (seven
    * graph/cluster queries count the SAME 256-row pair frame per run).
    * In-session only, cleared with the frames ([[clear]]/[[clearDerived]]
    * keyed identically), so every run still computes from its inputs. */
  def memoCount(spark: SparkSession, key: String)(df: => DataFrame): Long = {
    val k = sessionKey(spark, key)
    if (key.startsWith("table:")) tableKeys.put(k, ())
    counts.get(k) match {
      case Some(n) => n
      case None =>
        val n = df.count()
        counts.putIfAbsent(k, n).getOrElse(n)
    }
  }

  /** Persist a frame reused only within one query plan (e.g. a banded
    * signature frame self-joined once per band), registering it for
    * [[clear]] so it does not outlive the run. */
  def register(df: DataFrame): DataFrame = {
    anonymous.add(df)
    df.persist()
  }

  /** Contract check for `knownSize`-style fast paths: the caller vouches
    * `df` is already persisted (so the callee may skip its own
    * register+count without the loop re-evaluating the build subtree
    * every round). Nothing else enforces that claim, so a future caller
    * passing an unpersisted frame would silently recompute per round —
    * assert it here instead. */
  def assertPersisted(df: DataFrame, what: String): Unit =
    require(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      s"$what: knownSize supplied for an UNPERSISTED frame — the caller " +
        "must persist (SharedFrames.cached/register) before vouching a size")

  /** Unpersist and forget every registered frame. Safe to call twice; a
    * frame whose session has already stopped is skipped. */
  def clear(): Unit = {
    named.values.foreach(safeUnpersist)
    named.clear()
    counts.clear()
    tableKeys.clear()
    var df = anonymous.poll()
    while (df != null) { safeUnpersist(df); df = anonymous.poll() }
    var c = cleanups.poll()
    while (c != null) {
      try c() catch { case NonFatal(_) => () }
      c = cleanups.poll()
    }
  }

  /** Unpersist every DERIVED frame but keep the base-table scan caches
    * ([[graft.core.Tables]] registers those under a `table:` key) and the
    * queued teardown actions. This is the bench's between-passes clear:
    * its documented intent is "shared build cost is real in both passes,
    * base-table cache stays warm — the steady state a long-lived session
    * sees", but a full [[clear]] also evicted the table caches, so pass
    * B silently charged each table's re-decode + re-cache to whichever
    * shared frame read it first (mv_lineitem read 2.8 s for a 6-row
    * aggregate). Teardown actions stay queued for the final [[clear]]. */
  def clearDerived(): Unit = {
    named.keys.filterNot(tableKeys.contains).foreach { k =>
      named.remove(k).foreach(safeUnpersist)
    }
    counts.keys.filterNot(tableKeys.contains).foreach(counts.remove)
    var df = anonymous.poll()
    while (df != null) { safeUnpersist(df); df = anonymous.poll() }
  }

  private def safeUnpersist(df: DataFrame): Unit =
    try df.unpersist(blocking = false)
    catch { case NonFatal(_) => () }
}
