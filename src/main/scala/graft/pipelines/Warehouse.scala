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
  *
  * The at-rest index protocol — the one place every per-key index tier
  * (band, winnow, ANN, retention, transitions, quantile cube, live
  * corpus) takes its three shared decisions from:
  *
  *  - KEYED RETRACTION ([[dropKeys]]): anti-join tmp-swaps, one table
  *    at a time, in the order given, with the distinct ids pinned for
  *    the whole call (the swaps rewrite paths the ids' lineage may
  *    read). A manifest is listed BEFORE the data tables it vouches for
  *    — the inverse of the manifest-last append — so a crash
  *    mid-retraction leaves at worst unmanifested data rows, the state
  *    a mid-append crash leaves, which every screen already excludes
  *    and a replay finishes dropping. Removing absent keys is a no-op.
  *  - MANIFEST-GUARDED INDEX ([[Warehouse.IndexLayout]]: a per-key row
  *    table, tables derived from it in order, and a manifest of the
  *    keys fully at rest). [[appendIndex]] dedups the batch on the key,
  *    pins its rows, drops the keys already in the manifest (the
  *    O(|keys|) fast path: a fully-seen replay appends nothing; no
  *    broadcast hint, the manifest is corpus-sized), probes
  *    each data table for residual rows of the new keys (a crash
  *    between two appends leaves the manifest BEHIND the data; the
  *    probe is restricted to a broadcast of the new keys, ∅ on the
  *    no-crash path) and appends only what is missing, the manifest
  *    LAST, then compacts on cadence and returns fresh reads.
  *    [[openIndex]] builds or re-opens the layout at this root: a
  *    missing table is derived from the previous table at rest, a
  *    missing manifest from the last data table (appends are per-job
  *    atomic and run in layout order, so a key there is in every data
  *    table), so a partial first build repairs itself.
  *  - BATCH KEY AND EPOCH ([[Warehouse.batchKey]], [[keyEpoch]]): the
  *    order-free key of a batch's id set, persisted into the delta
  *    ledgers so every replay of the batch lands on the same key, and
  *    the xor of a signed ledger's committed keys of one sign, stamped
  *    into the keys of the other sign so a retract → re-offer → retract
  *    cycle never collides with its own earlier rows.
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

  /** Take the rows whose `key` is in `ids` out of `tables`, in the order
    * given (the keyed retraction of the class doc); a missing table is
    * skipped — nothing was ever ingested there.
    */
  def dropKeys(ids: DataFrame, key: String, tables: String*): Unit = {
    val pinned = ids.select(col(key)).distinct().localCheckpoint(true)
    try for (t <- tables if exists(t))
      write(t, read(t).join(broadcast(pinned), Seq(key), "left_anti"))
    finally graft.TransientCache.unpersistCheckpoint(pinned)
  }

  /** Build-or-reopen index `l` at this root (the class doc's repair
    * rule); `source` is only evaluated when the row table is missing.
    * Returns fresh reads: the data tables in layout order, then the
    * manifest.
    */
  def openIndex(l: Warehouse.IndexLayout, source: => DataFrame): Seq[DataFrame] = {
    for (((t, derive), i) <- l.tables.zipWithIndex if !exists(t))
      write(t, derive(if (i == 0) source else read(l.tables(i - 1)._1)))
    if (!exists(l.manifest))
      write(l.manifest, read(l.tables.last._1).select(col(l.key)).distinct())
    l.names.map(read)
  }

  /** Advance index `l` with `batch` (the class doc's manifest-last
    * append); returns fresh reads like [[openIndex]].
    */
  def appendIndex(l: Warehouse.IndexLayout, batch: DataFrame): Seq[DataFrame] = {
    val k = Seq(l.key)
    // pinned, not cached: the appends below write paths a pre-filtered
    // batch may read in its lineage, and a write would trigger a lazy
    // recache that re-executes a streaming source outside its batch
    val rows = l.tables.head._2(batch.dropDuplicates(l.key)).localCheckpoint(true)
    try {
      val fresh = rows.join(read(l.manifest), k, "left_anti")
      val newKeys = fresh.select(col(l.key)).distinct()
      if (!newKeys.isEmpty) {
        val derived = l.tables.tail.scanLeft(fresh) { case (prev, (_, derive)) => derive(prev) }
        for (((t, _), rs) <- l.tables.zip(derived)) {
          val present = read(t).join(broadcast(newKeys), k, "left_semi")
            .select(col(l.key)).distinct()
          append(t, rs.join(broadcast(present), k, "left_anti"))
        }
        append(l.manifest, newKeys)
      }
    } finally graft.TransientCache.unpersistCheckpoint(rows)
    // after ALL appends: the residual probes read the pre-compaction
    // listings
    l.names.foreach(compactIfFragmented(_))
    l.names.map(read)
  }

  /** Retract `ids` from index `l`, manifest first; returns fresh reads
    * like [[openIndex]].
    */
  def retractIndex(l: Warehouse.IndexLayout, ids: DataFrame): Seq[DataFrame] = {
    dropKeys(ids, l.key, l.dropOrder: _*)
    l.names.map(read)
  }

  /** The signed-key epoch of ledger `table`: the xor of its distinct
    * `batch_key`s whose `signCol` is positive (or negative); 0 when the
    * table is missing. A lane stamps the epoch of the OTHER sign into
    * its keys: its own appends never move it, so its crash replays
    * derive the same key, while any intervening opposite-sign commit
    * makes the next key fresh.
    */
  def keyEpoch(table: String, signCol: String, positive: Boolean): Long =
    if (!exists(table)) 0L
    else read(table).filter(if (positive) col(signCol) > 0 else col(signCol) < 0)
      .select(col("batch_key")).distinct()
      .agg(coalesce(bit_xor(xxhash64(col("batch_key"))), lit(0L)))
      .head().getLong(0)

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
  /** An at-rest keyed index: `tables` in derivation order — the first
    * derives from the source documents, each later one from the rows of
    * the table before it — and `manifest`, the keys fully at rest.
    */
  final case class IndexLayout(key: String,
                               tables: Seq[(String, DataFrame => DataFrame)],
                               manifest: String) {
    def names: Seq[String] = tables.map(_._1) :+ manifest
    /** Retraction order: the manifest first. */
    def dropOrder: Seq[String] = manifest +: tables.map(_._1)
  }

  /** The order-free key of the id set in `ids(idCol)`, one row
    * `(batch_key, n_keys)`: `xxhash64(xor of xxhash64(id), count,
    * salt…)`. Xor is commutative, so any replay of the same set derives
    * the same key; ids are deduped upstream, so cancellation needs a
    * genuine hash collision. Persisted in the delta ledgers
    * (`live_token_counts`, `tr_deltas`, `tr_last`, `tq_hist`,
    * `tq_marker`): the formula must never change.
    */
  def batchKey(ids: DataFrame, idCol: String, salt: Any*): DataFrame =
    ids.agg(coalesce(bit_xor(xxhash64(col(idCol))), lit(0L)).as("h"),
        count(lit(1)).as("n_keys"))
      .select(xxhash64(col("h") +: col("n_keys") +: salt.map(lit): _*).as("batch_key"),
        col("n_keys"))

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
