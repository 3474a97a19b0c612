package graft.pipelines

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Filesystem helpers that go through Spark's Hadoop filesystem layer, so
  * warehouse roots on hdfs:// or s3a:// behave the same as local paths
  * (`java.nio.file.Files` would silently answer "does not exist" for any
  * non-local URI and downstream logic would overwrite instead of merge).
  */
object Fs {

  private[pipelines] def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    heal(spark, path)
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** Recursive delete, existence-tolerant — the demolition half of a
    * delete-then-rebuild (e.g. [[CorpusPipeline.refreshFull]] retiring
    * stale live indexes before reseeding them). Heals first: deleting a
    * mid-swap table must retire BOTH halves — without the heal, a stale
    * `.bak` left behind would be resurrected by the next [[heal]] as if
    * the delete never happened.
    */
  def delete(spark: SparkSession, path: String): Unit = {
    heal(spark, path)
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Complete an interrupted [[replaceWith]] swap, WAL-recovery style:
    * `target.bak` existing without `target` means the crash hit between
    * the two renames — roll back to the old table (it is complete; the
    * caller's failed rewrite simply never committed). Both existing
    * means the crash hit after the commit rename — finish by dropping
    * the backup. Called from [[exists]] and the warehouse read path, so
    * no reader can observe the mid-swap state: without this, a crash
    * mid-compaction would read as "table missing" and the seed/rebuild
    * repair paths would silently reseed from a STALE base (a reviewed
    * near-miss: months of appended nightly survivors lost while the
    * manifests still listed them, blocking re-append forever).
    */
  def heal(spark: SparkSession, target: String): Unit = {
    val bak = new Path(target + ".bak")
    val fs = fsOf(spark, bak)
    if (fs.exists(bak)) {
      val p = new Path(target)
      // rename returns false instead of throwing on missing parents or
      // cross-filesystem moves — a silent false here would degrade the
      // rollback to a no-op, so it must surface as an error
      if (!fs.exists(p)) require(fs.rename(bak, p), s"heal: rename $bak -> $p failed")
      else fs.delete(bak, true)
      ()
    }
  }

  /** Replace `target` with whatever `write` produces: write to a fresh
    * sibling tmp dir (readers of `target` are NOT disturbed — this is
    * what makes read-merge-rewrite of the same table safe without
    * materializing), then swap via rename(target → target.bak),
    * rename(tmp → target), delete(bak).
    *
    * No single-rename window loses data: a crash before the first
    * rename leaves the old table untouched; between the renames, the
    * old table is complete in `.bak` and [[heal]] rolls it back;
    * after the commit rename, the new table is live and [[heal]] just
    * drops the leftover backup. The honest production answer is still
    * a table format with atomic commits (Delta/Iceberg MERGE); this is
    * the strongest contract a plain filesystem layout offers, and
    * strictly better than both Overwrite mode (deletes the old data
    * the moment the write starts) and the naive delete+rename (whose
    * crash window turns "table missing" into a silent stale reseed).
    */
  def replaceWith(spark: SparkSession, target: String)(write: String => Unit): Unit = {
    heal(spark, target)
    // retire stale tmp dirs from earlier CRASHED swaps (the tmp write
    // landed, the crash hit before the renames): heal() restores the
    // table but nothing else ever looks at the orphan, so without this
    // every crashed swap strands a full table copy forever — a storage
    // leak, not a correctness one. The single-writer discipline (serial
    // nights; one swap per table at a time) is what makes deleting
    // sibling tmps safe.
    locally {
      val p0 = new Path(target)
      val fs0 = fsOf(spark, p0)
      val parent = p0.getParent
      if (parent != null && fs0.exists(parent)) {
        val prefix = p0.getName + ".tmp-"
        fs0.listStatus(parent).foreach { st =>
          if (st.getPath.getName.startsWith(prefix)) fs0.delete(st.getPath, true)
        }
      }
    }
    val tmp = target + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    write(tmp)
    val p = new Path(target)
    val fs = fsOf(spark, p)
    val bak = new Path(target + ".bak")
    // the whole crash-safety protocol hinges on these renames landing;
    // rename reports failure as `false` (not an exception), so each is
    // checked — a silent false on the commit rename would strand the new
    // data in the tmp dir with no error surfaced
    if (fs.exists(p)) require(fs.rename(p, bak), s"swap: rename $p -> $bak failed")
    require(fs.rename(new Path(tmp), p), s"swap: rename $tmp -> $p failed")
    if (fs.exists(bak)) fs.delete(bak, true)
    ()
  }
}
