package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.Dataset

/** Registry for PER-QUERY transient `.cache()` frames (q22/q40/q51/q72
  * candidate pairs, shingle sets, block keys): small intermediates a
  * single query consumes from several join branches, which would leak
  * cached blocks into a long-lived session forever if nobody unpersists
  * them — the same lifecycle problem [[operators.Graph.clearMemo]]
  * solves for the CC label memo, minus the memoization (these frames
  * are rebuilt per call by design; only eviction is needed).
  *
  * Contract: operators register every transient cache they create;
  * harness drivers ([[Bench]], [[Verify]]) call [[drain]] after each
  * query is materialized, so no per-query cached frame survives its own
  * query's job. Library users embedding the operators in a long-lived
  * session do the same (or accept session-scoped retention, the Spark
  * default for any user-level `.cache()`).
  *
  * Deliberately NOT drained: the cross-query shared caches
  * (`Dedup.shingleIndex`, `Dedup.simhashSig`, the ledger/stock/legacy
  * frames) — those are the bench's `cache` tier, shared by many queries
  * and billed separately; draining them after each query would rebuild
  * them 5–10×.
  *
  * Thread safety: registration and drain are synchronized; concurrent
  * sessions share one registry (like the CacheManager itself), so a
  * drain evicts other in-flight queries' transients too — harness runs
  * are single-threaded, and `unpersist(blocking=false)` makes a lost
  * race a recompute, never a wrong result.
  */
object TransientCache {
  private val frames = scala.collection.mutable.ArrayBuffer[Dataset[_]]()
  private val ckpts = scala.collection.mutable.ArrayBuffer[Dataset[_]]()

  /** Register an already-`.cache()`d frame for the next [[drain]]. */
  def register[T <: Dataset[_]](df: T): T = synchronized { frames += df; df }

  /** Register a `localCheckpoint`ed frame whose pinned RDD blocks should
    * be reclaimed at the next [[drain]] — the session-leak valve for
    * iterative operators whose FINAL frame is checkpoint-rooted
    * (pageRank past its truncation cadence): the caller reads the
    * result, the harness drains, the blocks go. Stricter contract than
    * [[register]]: a drained `.cache()` frame silently recomputes on
    * reuse, a drained checkpoint frame FAILS hard (truncated lineage
    * cannot rebuild) — so only frames the per-query drain convention
    * already covers belong here.
    */
  def registerCheckpoint[T <: Dataset[_]](df: T): T =
    synchronized { ckpts += df; df }

  /** Unpersist every registered frame; returns how many were evicted. */
  def drain(): Int = synchronized {
    val n = frames.size + ckpts.size
    frames.foreach(df => try df.unpersist(false) catch { case NonFatal(_) => () })
    ckpts.foreach(df => try unpersistCheckpoint(df) catch { case NonFatal(_) => () })
    frames.clear()
    ckpts.clear()
    n
  }

  /** Unpersist the RDD blocks behind a `localCheckpoint`ed frame — the
    * shared walk for iterative operators that supersede checkpoints
    * (pageRank's round cadence) or retire batch-pinned frames after
    * their appends commit (the corpus pipeline's crash-ordering
    * checkpoints). Callers own the safety argument: nothing with
    * TRUNCATED lineage may still root in the dropped blocks, or a later
    * eviction turns into a hard recompute failure.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))
}
