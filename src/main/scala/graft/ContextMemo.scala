package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Expensive corpus-side state — a driver-side fit or scalar, or a
  * resolved table schema — built once per SparkContext, shared by every
  * query and micro-batch, and reclaimed by [[clear]].
  *
  * Keyed by SparkContext, NOT SparkSession: a streaming twin's sink
  * ([[streaming.Twin.sink]]) hands each micro-batch a CLONED session, and a
  * session-keyed memo would rebuild its state once per micro-batch. The
  * context is the sharing scope that matches (it is also the
  * CacheManager's). At-rest fixture indexes live in [[FixtureRoots]].
  */
private[graft] final class ContextMemo[K, V] {

  private val entries = scala.collection.concurrent.TrieMap.empty[(SparkContext, K), V]

  /** The memoized value, built on a miss (a concurrent miss may build
    * twice; the first insert wins).
    */
  def get(spark: SparkSession, k: K)(build: => V): V =
    entries.getOrElseUpdate((spark.sparkContext, k), build)

  /** The memoized value, if any; never builds. */
  def peek(spark: SparkSession, k: K): Option[V] =
    entries.get((spark.sparkContext, k))

  /** Replace the entry for `k`. */
  def install(spark: SparkSession, k: K, v: V): Unit =
    entries.put((spark.sparkContext, k), v)

  /** Drop this context's entries. */
  def clear(spark: SparkSession): Unit =
    entries.keys.filter(_._1 eq spark.sparkContext).foreach(entries.remove)
}
