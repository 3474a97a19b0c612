package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Expensive corpus-side state — a driver-side fit or scalar, or an
  * at-rest index written under a temp root — built once per
  * SparkContext, shared by every query and micro-batch, and reclaimed
  * by [[clear]].
  *
  * Keyed by SparkContext, NOT SparkSession: Structured Streaming's
  * `foreachBatch` hands each micro-batch a CLONED session, and a
  * session-keyed memo would rebuild (and re-own) its state once per
  * micro-batch. The context is the sharing scope that matches (it is
  * also the CacheManager's).
  *
  * Roots: [[getAt]] builds into a fresh temp directory that this memo
  * OWNS; an [[install]]ed value (a test seam's poisoned index, a
  * durable `open*Index` root) lives under a CALLER root that is never
  * deleted here. An owned root is deleted, through [[pipelines.Fs]],
  * when its entry is cleared, when an install with a different root
  * shadows it, when its builder loses a concurrent build race, or when
  * its build throws.
  *
  * @param rootOf the root a value lives under; `build(root)` must
  *               yield a value whose root is `root`. Unrooted memos
  *               (fits, scalars) keep the default: no value has a root.
  */
private[graft] final class ContextMemo[K, V](rootOf: V => String = (_: V) => "") {

  private val entries = scala.collection.concurrent.TrieMap.empty[(SparkContext, K), V]
  // guarded by its own monitor
  private val owned = scala.collection.mutable.Set.empty[String]

  private def release(spark: SparkSession, root: String): Unit =
    if (owned.synchronized(owned.remove(root))) pipelines.Fs.delete(spark, root)

  /** The memoized value, built on a miss (a concurrent miss may build
    * twice; the first insert wins).
    */
  def get(spark: SparkSession, k: K)(build: => V): V =
    entries.getOrElseUpdate((spark.sparkContext, k), build)

  /** The memoized value, built on a miss into a fresh owned
    * `createTempDirectory(prefix)` root. The root is owned BEFORE the
    * insert, so a concurrent [[clear]] can never orphan it; a losing
    * builder deletes its own root and returns the winner.
    */
  def getAt(spark: SparkSession, k: K, prefix: String)(build: String => V): V = {
    val key = (spark.sparkContext, k)
    entries.get(key).getOrElse {
      val root = java.nio.file.Files.createTempDirectory(prefix).toString
      owned.synchronized(owned += root)
      val v = try build(root) catch {
        case e: Throwable => release(spark, root); throw e
      }
      entries.putIfAbsent(key, v) match {
        case Some(winner) => release(spark, root); winner
        case None => v
      }
    }
  }

  /** Replace the entry for `k`; an owned root the new value no longer
    * lives under is deleted (re-installing a value at the same root —
    * an append's refreshed reads — keeps it owned).
    */
  def install(spark: SparkSession, k: K, v: V): Unit =
    entries.put((spark.sparkContext, k), v)
      .filter(rootOf(_) != rootOf(v))
      .foreach(prev => release(spark, rootOf(prev)))

  /** Whether the entry for `k` already lives under `root` — the cheap
    * per-micro-batch exit of the durable `open*Index` calls.
    */
  def holds(spark: SparkSession, k: K, root: String): Boolean =
    entries.get((spark.sparkContext, k)).exists(rootOf(_) == root)

  /** Drop this context's entries; only roots this memo created are
    * deleted.
    */
  def clear(spark: SparkSession): Unit =
    entries.keys.filter(_._1 eq spark.sparkContext).foreach { key =>
      entries.remove(key).foreach(v => release(spark, rootOf(v)))
    }
}
