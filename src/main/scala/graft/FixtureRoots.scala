package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one home of the fixture at-rest indexes: one temp-directory root
  * per (SparkContext, tier, data dir, [[functions.TextFns.hashMode]]),
  * where a tier (`bandidx`, `winidx`, `rbandidx`, `annidx`, `hllidx`,
  * `tqidx`, `rqidx`, `retidx`, `rretidx`, `tridx`) keeps its tables and
  * checkpoints. The registry holds nothing but the root: every query
  * re-opens its index there with the tier's build-or-reopen form, so
  * what sits at the root is what the query reads.
  *
  * Keyed by SparkContext like [[ContextMemo]]: a streaming twin's cloned
  * micro-batch sessions share one root. Every root is created here and
  * deleted here, through [[pipelines.Fs]]: by [[clear]], by a builder
  * that loses a concurrent build race (the first insert wins), and by a
  * seed that throws. Durable state does not live here: a streaming twin
  * keeps its index in its own warehouse.
  */
private[graft] object FixtureRoots {

  private val roots =
    scala.collection.concurrent.TrieMap.empty[(SparkContext, String, String, String), String]

  /** The root of `tier` over `dir`, seeded on a miss by `seed(root)`
    * into a fresh `createTempDirectory` root.
    */
  def root(spark: SparkSession, tier: String, dir: String)(seed: String => Unit): String = {
    val key = (spark.sparkContext, tier, dir, functions.TextFns.hashMode)
    roots.getOrElse(key, {
      val fresh = java.nio.file.Files.createTempDirectory(s"graft_${tier}_").toString
      try seed(fresh) catch {
        case e: Throwable => pipelines.Fs.delete(spark, fresh); throw e
      }
      roots.putIfAbsent(key, fresh) match {
        case Some(winner) => pipelines.Fs.delete(spark, fresh); winner
        case None => fresh
      }
    })
  }

  /** Drop this context's roots and delete them from disk. */
  def clear(spark: SparkSession): Unit =
    roots.keys.filter(_._1 eq spark.sparkContext).foreach { key =>
      roots.remove(key).foreach(pipelines.Fs.delete(spark, _))
    }
}
