package graft.pipelines

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink seam for the S8/S9 keyed merges. The harness default is the
  * parquet keyed-overwrite ([[Warehouse.upsert]]: read current + merge +
  * tmp-swap); a lakehouse deployment drops in Delta/Iceberg
  * `MERGE INTO ... WHEN MATCHED` by implementing this trait with the same
  * call shape (SURVEY §7.1 documents that as the production path — a
  * MERGE avoids rewriting untouched files and commits atomically).
  * Pipelines depend only on the contract: last-wins per `keys` by
  * (`versionCol`, `tiebreakCol`), atomic with respect to readers.
  */
trait UpsertSink {
  def upsert(table: String, incoming: DataFrame, keys: Seq[String],
             versionCol: String, tiebreakCol: String): Unit
}

/** A parquet-backed warehouse with keyed upserts and per-pipeline
  * checkpoints — the Spark-native stand-in for the reference's central
  * `analytics_db` MySQL (tables + `etl_progress`,
  * etl_sales/db/db_helpers.py, SURVEY.md §1.1/§2.9). Swapping parquet for
  * Delta/Iceberg (MERGE INTO, atomic commits) changes this class only.
  *
  * Crash-safety contract (SURVEY.md §7.3): checkpoints are advanced AFTER
  * the sink write commits. A crash between the two replays the window on
  * the next run; last-wins upserts (and the ledger ingest's id anti-join)
  * make the replay idempotent — the same at-least-once-extract /
  * exactly-once-effect scheme the reference gets from transactions.
  * Table rewrites go through [[Fs.replaceWith]] (write tmp → swap), so a
  * failed merge never destroys the previous table contents.
  *
  * Keyed appends go through [[appendNew]]: a replayed batch re-derives
  * the same keys, and the anti-join against the committed rows lands
  * only what is missing.
  */
final class Warehouse(val spark: SparkSession, val root: String) extends UpsertSink {

  private def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean = Fs.exists(spark, path(table))

  def read(table: String): DataFrame = {
    // complete any interrupted swap before resolving files — a reader
    // must never observe the mid-swap "table missing" state
    Fs.heal(spark, path(table))
    spark.read.parquet(path(table))
  }

  def write(table: String, df: DataFrame): Unit =
    Fs.replaceWith(spark, path(table))(tmp => df.write.parquet(tmp))

  def append(table: String, df: DataFrame): Unit = {
    // complete any interrupted swap BEFORE appending: in the mid-swap
    // window (`.bak` present, target missing) an unhealed append would
    // recreate the target with only the new rows, and the next heal()
    // — seeing both present — would drop the backup, the only complete
    // copy. The read path heals; the write paths must too.
    Fs.heal(spark, path(table))
    df.write.mode(SaveMode.Append).parquet(path(table))
  }

  /** Keyed-guard append: append the rows of `rows` whose `keys` are not
    * yet in `table` (all of them when the table is missing). Rows
    * duplicated WITHIN `rows` are not collapsed — dedup the batch first
    * where a source can redeliver in one batch.
    */
  def appendNew(table: String, rows: DataFrame, keys: Seq[String]): Unit =
    append(table,
      if (!exists(table)) rows
      else rows.join(read(table).select(keys.map(col): _*), keys, "left_anti"))

  /** Keyed last-wins upsert (S8/S9): read current, merge via
    * [[Upsert.upsertByKey]], write to a tmp dir (the read of the old
    * table streams into the tmp write — no same-path race), swap.
    */
  def upsert(table: String, incoming: DataFrame, keys: Seq[String],
             versionCol: String, tiebreakCol: String): Unit =
    if (!exists(table)) write(table, incoming)
    else write(table,
      Upsert.upsertByKey(read(table), incoming, keys, versionCol, tiebreakCol))

  /** Date/column-partitioned write — the at-rest layout every 100 TB fact
    * table needs: one directory per partition value, so date-range and
    * store predicates prune at PLANNING time (the scan's
    * `PartitionFilters` — zero IO for untouched partitions, where a flat
    * table would scan-and-filter everything). This is the file-source
    * form of the reference's date-window batching + `tienda_id` filters
    * (SURVEY.md §4 "partition-style pruning").
    */
  def writePartitioned(table: String, df: DataFrame,
                       partitionCols: Seq[String]): Unit =
    Fs.replaceWith(spark, path(table))(tmp =>
      df.write.partitionBy(partitionCols: _*).parquet(tmp))

  /** Scalar checkpoint per (pipeline, key) — the `etl_progress` row. Stored
    * as a tiny one-row parquet; read returns None before the first seed.
    */
  def checkpoint(name: String): Option[Long] =
    if (!exists(s"_checkpoints/$name")) None
    else read(s"_checkpoints/$name").select(col("v")).collect().headOption.map(_.getLong(0))

  def setCheckpoint(name: String, v: Long): Unit = {
    import spark.implicits._
    write(s"_checkpoints/$name", Seq(v).toDF("v"))
  }

  /** Number of data files currently backing `table` — the fragmentation
    * metric the append cadence watches. Underscore/dot-prefixed entries
    * (_SUCCESS, .crc side files) don't count: only data files cost scan
    * tasks and NameNode/listing pressure.
    */
  def dataFileCount(table: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        val name = it.next().getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) n += 1
      }
      n
    }
  }

  /** Compact an append-grown table: one narrow read → coalesce to
    * ⌈bytes / targetFileBytes⌉ outputs → tmp-swap rewrite (the S10
    * [[Fs.replaceWith]] discipline — readers of the old files are
    * undisturbed until the swap, and a failed rewrite never destroys
    * the table). Content-preserving by construction, so every
    * manifest/data invariant of the append-only index tiers survives
    * verbatim; a crash anywhere in the swap is covered by the bak-heal
    * protocol ([[Fs.replaceWith]]/[[Fs.heal]] — the old table rides in
    * `.bak` until the commit rename lands, and every read/append heals
    * first), the same contract every S10 staging swap rides.
    *
    * `coalesce`, not `repartition`: compaction is pure IO — each output
    * task drains a run of small files with no shuffle.
    */
  def compact(table: String,
              targetFileBytes: Long = Warehouse.CompactTargetFileBytes): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    write(table, read(table).coalesce(n))
  }

  /** The nightly cadence: compact only past a file-count threshold, so
    * the common append is one cheap listing and the rewrite cost is
    * amortized over ~maxFiles nights. At 100 TB this is what keeps
    * months of guarded appends from turning the index tiers into the
    * small-files problem.
    */
  def compactIfFragmented(table: String,
                          maxFiles: Int = Warehouse.CompactMaxFiles): Unit =
    if (dataFileCount(table) > maxFiles) compact(table)
}

object Warehouse {
  /** Compaction output sizing: one file per ~128 MiB of at-rest bytes —
    * aligned with `spark.sql.files.maxPartitionBytes`' default so a
    * post-compaction scan gets full-sized splits.
    */
  val CompactTargetFileBytes: Long = 128L << 20

  /** Appends accumulated before [[Warehouse.compactIfFragmented]]
    * rewrites — small enough that listing/footer overhead stays
    * bounded, large enough that the rewrite amortizes.
    */
  val CompactMaxFiles: Int = 256
}
