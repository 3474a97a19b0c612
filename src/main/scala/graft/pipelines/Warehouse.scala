package graft.pipelines

import java.nio.charset.StandardCharsets.UTF_8
import graft.operators.Upsert
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sink seam for the S8/S9 keyed merges — the reference's
  * `INSERT … ON DUPLICATE KEY UPDATE` (db_helpers.py:25-40,
  * update_stock_points.py:237-256). The contract every implementation
  * keeps: collapse `incoming` to one row per `keys`, the
  * (`versionCol`, `tiebreakCol`)-max ([[Upsert.latestPerKey]]); then
  * that row REPLACES the committed row with the same key, whatever its
  * version (a later batch wins — cross-batch staleness is the caller's
  * watermark discipline), and every other committed row survives.
  * Replaying a batch is a no-op, and the merge is atomic with respect
  * to readers. Implementations: the parquet warehouse
  * ([[Warehouse.upsert]]), the MySQL row-statement and the staged-MERGE
  * JDBC sinks; a lakehouse deployment drops in Delta/Iceberg
  * `MERGE INTO ... WHEN MATCHED` with the same call shape (SURVEY §7.1:
  * a MERGE avoids rewriting untouched files and commits atomically).
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
  * the sink write commits ([[commitAbove]], the one watermark step of the
  * nightly). A crash between the two replays the window on the next run;
  * keyed merges ([[replaceKeys]]) and the ledger ingest's id anti-join
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

  /** A table read ([[Warehouse.readParquet]]). */
  def read(table: String): DataFrame = Warehouse.readParquet(spark, path(table))

  /** Keep `schema` as `table`'s resolved schema for its current listing;
    * a parquet read resolves the written schema, all fields nullable, and
    * `read` applies the same nullability to a given one.
    */
  private def remember(table: String, schema: StructType): Unit =
    Warehouse.schemas.install(spark, path(table), (fingerprint(table), schema))

  def write(table: String, df: DataFrame): Unit = {
    Fs.replaceWith(spark, path(table))(tmp => df.write.parquet(tmp))
    remember(table, df.schema)
  }

  def append(table: String, df: DataFrame): Unit = {
    // complete any interrupted swap BEFORE appending: in the mid-swap
    // window (`.bak` present, target missing) an unhealed append would
    // recreate the target with only the new rows, and the next heal()
    // — seeing both present — would drop the backup, the only complete
    // copy. The read path heals; the write paths must too ([[exists]]
    // heals).
    val before =
      if (exists(table)) Warehouse.knownSchema(spark, path(table), fingerprint(table))
      else Some(df.schema)
    df.write.mode(SaveMode.Append).parquet(path(table))
    // files with the table's columns leave its schema as it was; else
    // the next read resolves it
    def columns(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    before.filter(s => columns(s) == columns(df.schema)).foreach(remember(table, _))
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

  /** The [[UpsertSink]] contract on parquet: the batch's last-wins row
    * per key replaces the committed one ([[replaceKeys]]).
    */
  def upsert(table: String, incoming: DataFrame, keys: Seq[String],
             versionCol: String, tiebreakCol: String): Unit =
    replaceKeys(table, Upsert.latestPerKey(incoming, keys, versionCol, tiebreakCol), keys)

  /** The keyed merge (S8/S9): every committed row whose `keys` appear in
    * `rows` is replaced by `rows`; the rest carry over. `rows` must hold
    * one row per key. A missing table is just `rows`. The old table
    * streams into the tmp write of [[write]] (no same-path race), sized
    * like [[compact]] so nightly merges never fragment the table.
    */
  def replaceKeys(table: String, rows: DataFrame, keys: Seq[String]): Unit =
    if (!exists(table)) write(table, rows)
    else write(table, read(table)
      .join(rows.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(rows)
      .coalesce(outputFiles(table, Warehouse.CompactTargetFileBytes)))

  /** The range merge: the committed rows of `table` that `keep` holds
    * for, ∪ `rows`, sized like [[replaceKeys]]; `rows` is read once. A
    * missing table is just `rows`.
    */
  def replaceRest(table: String, keep: Column, rows: DataFrame): Unit =
    if (!exists(table)) write(table, rows)
    else write(table, read(table).filter(keep).unionByName(rows)
      .coalesce(outputFiles(table, Warehouse.CompactTargetFileBytes)))

  /** The nightly watermark step (S8/S9 with §7.3): extract the rows above
    * checkpoint `cp` (`extract` gets None before the first run), pin them,
    * take their count and `max(hw)` in ONE action BEFORE `commit` (an
    * extract may read the sink table — the ledger's crash-window
    * anti-join — so it must not be evaluated after the commit), commit,
    * and advance `cp` only after the commit lands. Returns rows committed.
    */
  def commitAbove(cp: String, hw: Column)(extract: Option[Long] => DataFrame)
                 (commit: DataFrame => Unit): Long = {
    val rows = extract(checkpoint(cp)).cache()
    try {
      val stats = rows.agg(count(lit(1)), max(hw)).first()
      val n = stats.getLong(0)
      if (n > 0) {
        commit(rows)
        setCheckpoint(cp, stats.getLong(1))
      }
      n
    } finally rows.unpersist()
  }

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

  /** Scalar checkpoint per (pipeline, key) — the `etl_progress` row: the
    * decimal text of one file, `_checkpoints/<name>/value`, read through
    * the Hadoop FS API after [[Fs.heal]], so a read runs no Spark job.
    * None before the first seed.
    */
  def checkpoint(name: String): Option[Long] = {
    val dir = new Path(path(s"_checkpoints/$name"))
    Fs.heal(spark, dir.toString)
    val fs = Fs.fsOf(spark, dir)
    val file = new Path(dir, Warehouse.CheckpointFile)
    if (!fs.exists(dir)) None
    else if (!fs.exists(file)) throw new IllegalStateException(
      s"checkpoint $dir holds no ${Warehouse.CheckpointFile} file (an older layout?). " +
        "Deleting the directory is safe: each pipeline re-runs idempotently " +
        "from no checkpoint.")
    else {
      val in = fs.open(file)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toLong) finally in.close()
    }
  }

  /** Commit checkpoint `name` = `v` through the [[Fs.replaceWith]] swap
    * every table rides: a crash leaves the old value readable.
    */
  def setCheckpoint(name: String, v: Long): Unit =
    Fs.replaceWith(spark, path(s"_checkpoints/$name")) { tmp =>
      val file = new Path(tmp, Warehouse.CheckpointFile)
      val out = Fs.fsOf(spark, file).create(file, false)
      try out.write(v.toString.getBytes(UTF_8)) finally out.close()
    }

  /** Number of data files currently backing `table` — the fragmentation
    * metric the append cadence watches.
    */
  def dataFileCount(table: String): Int = Warehouse.dataFiles(spark, path(table)).size

  /** `table`'s listing digest ([[Warehouse.fingerprint]]). */
  def fingerprint(table: String): Long = Warehouse.fingerprint(spark, path(table))

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
              targetFileBytes: Long = Warehouse.CompactTargetFileBytes): Unit =
    if (exists(table)) write(table, read(table).coalesce(outputFiles(table, targetFileBytes)))

  /** ⌈at-rest bytes of `table` / `targetFileBytes`⌉ output files, at
    * least one — the rewrite sizing of [[compact]] and [[replaceKeys]].
    */
  private def outputFiles(table: String, targetFileBytes: Long): Int = {
    val p = new Path(path(table))
    val bytes = Fs.fsOf(spark, p).getContentSummary(p).getLength
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
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

  /** The value file of a checkpoint directory. */
  private val CheckpointFile = "value"

  /** Resolved table schemas per table path, each with the [[fingerprint]]
    * of the listing it was resolved (or written) for.
    */
  private val schemas = new graft.ContextMemo[String, (Long, StructType)]

  /** A parquet read of `path` — a warehouse table, or a source table
    * ([[graft.Tables.load]]). Parquet schema inference is a Spark job per
    * read, so the resolved schema is kept per path ([[schemas]]) with
    * the [[fingerprint]] of the listing it belongs to, and reused while
    * that listing is unchanged: a source replaced in place re-infers.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    // the fingerprint heals first: a reader must never observe the
    // mid-swap "table missing" state
    val fp = fingerprint(spark, path)
    knownSchema(spark, path, fp) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.install(spark, path, (fp, df.schema))
        df
    }
  }

  /** The schema of `path` as last resolved or written, if its listing is
    * still the one with fingerprint `fp`.
    */
  private def knownSchema(spark: SparkSession, path: String, fp: Long): Option[StructType] =
    schemas.peek(spark, path).collect { case (`fp`, s) => s }

  /** The data files currently backing `path` (healed first), from one
    * recursive listing; none when it is missing. Underscore/dot-prefixed
    * entries (_SUCCESS, .crc side files) don't count: only data files
    * cost scan tasks and NameNode/listing pressure.
    */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    Fs.heal(spark, path)
    val p = new Path(path)
    val fs = Fs.fsOf(spark, p)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) out += st
      }
      out.result()
    }
  }

  /** A 64-bit digest of the paths and sizes of the data files under
    * `path`, from one listing: every committed write, append or swap
    * changes it (part names are unique per write job), and nothing else
    * does.
    */
  def fingerprint(spark: SparkSession, path: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    dataFiles(spark, path).map(st => s"${st.getPath}\t${st.getLen}\n").sorted
      .foreach(line => md.update(line.getBytes(UTF_8)))
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }
}
