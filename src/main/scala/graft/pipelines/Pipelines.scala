package graft.pipelines

import graft.Tables
import graft.operators.{Sales, Stock}
import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** End-to-end nightly pipelines — the library equivalents of the
  * reference's entry scripts (run_etl.sh:34-36), so a reference user can
  * run the same seed/update cycle against a parquet warehouse:
  *
  *  - [[SalesPipeline]]  ≙ etl_sales/seed_historical.py +
  *    update_clean_data.py (ID watermark, keyed upsert)
  *  - [[InventoryPipeline.updateLedger]] ≙ etl_inventory/
  *    seed_raw_stock_movements.py + update_raw_stock_movements.py
  *    (timestamp watermark, strict-> append)
  *  - [[InventoryPipeline.refreshStockPoints]] ≙ etl_inventory/
  *    seed_stock_points.py + update_stock_points.py (date watermark,
  *    as-of-seeded incremental replay, change-point upsert)
  *
  * Every write decision — the keyed merge, the watermark step, the table
  * swap — lives in [[Warehouse]]; these objects only say what to extract.
  * The `upTo*` parameters simulate source growth between nightly runs
  * (the fixtures are static); production extraction would replace the
  * filter with a JDBC predicate, nothing else changes.
  */
object SalesPipeline {

  /** The cleaned tickets up to `upToId` above ID watermark `cp` (the P7
    * high-water-mark predicate; every ticket before the first run).
    */
  private def extract(wh: Warehouse, srcDir: String, upToId: Option[Long])
                     (cp: Option[Long]): DataFrame = {
    val full = Sales.cleanTickets(wh.spark, srcDir)
    val upTo = upToId.fold(full)(id => full.filter(col("ven_id") <= id))
    cp.fold(upTo)(c => upTo.filter(col("ven_id") > c))
  }

  private def land(sink: UpsertSink)(rows: DataFrame): Unit =
    sink.upsert("ventas_limpias", rows, Seq("ven_id"), "ven_id", "ven_id")

  /** Incremental refresh: extract tickets above the ID watermark, upsert,
    * advance the watermark (reference update_clean_data.py:41-107). Seeding
    * is the same call on an empty warehouse (checkpoint None → extract all,
    * like seed_historical.py). Returns rows processed.
    *
    * `landing` is the [[UpsertSink]] seam made a parameter: the default
    * lands in the parquet warehouse itself, and a JDBC deployment passes
    * [[graft.sources.Jdbc.JdbcStagedMergeSink]] (or the MySQL
    * row-statement sink) with NOTHING else changing — the watermark
    * checkpoint stays in `wh` and still advances only AFTER the sink's
    * merge commits (§7.3), so a crash between the two replays the window
    * into the keyed merge, which is idempotent on every sink in the
    * family. Live-tested end to end against embedded Derby
    * (JdbcLiveSpec: the same nightly cycle, a real PRIMARY KEY, replay
    * a no-op).
    */
  def update(wh: Warehouse, srcDir: String, upToId: Option[Long] = None,
             landing: Option[UpsertSink] = None): Long =
    wh.commitAbove("sales_last_ven_id", col("ven_id"))(
      extract(wh, srcDir, upToId))(land(landing.getOrElse(wh)))

  /** Per-store scoped cold start — the reference's seed_new_store.py:19-34:
    * ONE source (= one store's database) is extracted over its own window,
    * merged into the shared clean table, and only THAT store's watermark
    * row is advanced (`etl_progress ... WHERE store_name = :store`).
    *
    * `scope` role-plays the per-store source database (the harness
    * fixture is a single source; production passes the store's
    * [[graft.sources.Jdbc.Source]] scan — see Jdbc.readMultiDb for where
    * the store literal is stamped at extract time). Rows of other stores
    * are untouched: the merge is keyed, and store scopes are
    * key-disjoint. Re-running is idempotent (watermark + keyed merge),
    * and later incremental runs with the same (store, scope) resume from
    * the store's own checkpoint.
    */
  def seedNewStore(wh: Warehouse, srcDir: String, store: String,
                   scope: DataFrame => DataFrame,
                   upToId: Option[Long] = None): Long =
    wh.commitAbove(s"sales_last_ven_id__$store", col("ven_id"))(
      cp => scope(extract(wh, srcDir, upToId)(cp)))(land(wh))
}

object InventoryPipeline {

  /** Ledger ingest: append events strictly above the timestamp watermark
    * (reference update_raw_stock_movements.py:84-85 — at-least-once
    * extract, exactly-once effect), advance the watermark to max(fecha).
    * The strict `>` re-filter alone does NOT cover a crash between the
    * append and the checkpoint advance (the whole window would be
    * re-appended), so incoming rows are additionally anti-joined against
    * the ids already present above the watermark — that closes the crash
    * window and makes the append itself idempotent. Returns rows appended.
    */
  def updateLedger(wh: Warehouse, srcDir: String,
                   upToTs: Option[java.sql.Timestamp] = None): Long =
    wh.commitAbove("ledger_last_ts", unix_micros(col("fecha"))) { cpMicros =>
      def above(df: DataFrame): DataFrame =
        cpMicros.fold(df)(m => df.filter(col("fecha") > timestamp_micros(lit(m)))) // P8 strict
      val src = Tables.ledger(wh.spark, srcDir)
      val fresh = above(upToTs.fold(src)(t => src.filter(col("fecha") <= lit(t))))
      // crash-window dedup: drop ids already landed above the watermark
      if (!wh.exists("raw_stock_movements")) fresh
      else fresh.join(above(wh.read("raw_stock_movements")).select(col("id_origen")),
        Seq("id_origen"), "left_anti")
    }(wh.append("raw_stock_movements", _))

  /** Stock-point derivation with the reference's date-watermark semantics
    * (update_stock_points.py:79-109): each key's balance is SEEDED from
    * the as-of stock point at the checkpoint date and only events from
    * that date onward are replayed; a cold start is the same replay with
    * no seed and no date filter. The seed is injected as a synthetic
    * absolute event (id_origen = -1 sorts before every real event), so the
    * standard R4 window replay needs no special cases, and only points
    * after the checkpoint are kept, so the series stays identical to a
    * full rebuild.
    *
    * Without a checkpoint the result replaces the whole table — deleting
    * `points_last_dt` is how an operator forces a rebuild; with one, the
    * replay's points (all after the checkpoint day: the seed's own point
    * lands before it) replace the committed ones after that day
    * ([[Warehouse.replaceRest]]), also when the replay emits none. A
    * crashed refresh's points after the checkpoint are thereby re-derived,
    * never kept. Either way the commit is the refresh's one action: the
    * as-of seed is one aggregate (`max_by`), the replay is
    * [[Stock.stockPointsFrom]]'s three windows, read once, its last-day
    * bound is aggregated over the ledger slice alone, and the points'
    * count and the slice's last day are observed on the commit. A night
    * whose ledger files are the ones the last refresh derived from runs
    * no Spark job. Returns the number of points upserted.
    *
    * Out of contract, an incremental night differs from a full rebuild
    * (StockSpec's pending cases): a key whose NULL-dated rows move its
    * balance but whose first dated row falls on or after the checkpoint
    * day opens at 0, and a NULL-valued absolute after the checkpoint
    * resets to the as-of seed, not to the last absolute count.
    */
  def refreshStockPoints(wh: Warehouse): Long = {
    // nothing ingested yet (Graft.nightly on a fresh warehouse): no-op
    // rather than a path-not-found on the read below
    if (!wh.exists("raw_stock_movements")) return 0L
    val cpDays = wh.checkpoint("points_last_dt")
    // no-op short cut: the committed points derive from exactly these
    // ledger files. Keyed on the table, not on `ledger_last_ts`: a crash
    // between the ledger append and its watermark advance leaves rows the
    // watermark does not show. Listed BEFORE the read, so the stored value
    // never vouches for rows this replay did not see.
    val ledgerFiles = wh.fingerprint("raw_stock_movements")
    val derivedFrom = wh.checkpoint(LedgerFilesCp)
    if (cpDays.nonEmpty && wh.exists("stock_points") && derivedFrom.contains(ledgerFiles))
      return 0L
    val cpDate = cpDays.map(d => date_from_unix_date(lit(d.toInt)))
    val raw = wh.read("raw_stock_movements")
    val slice = cpDate.fold(raw)(cp => raw.filter(to_date(col("fecha")) >= cp))
    // observed after the date filter, which keeps that filter pushed into
    // the scan: rows on or after the checkpoint exist whenever one does,
    // so this max is the whole ledger's
    val lastDay = Observation(LastDayMetric)
    val ledger = slice.observe(lastDay, max(unix_date(to_date(col("fecha")))).as("d"))

    val replay = cpDate.fold(ledger) { cp =>
      // J9 as-of seed: latest point per key at or before the checkpoint
      // (points are unique per key and date). It closes day cp-2 at the
      // as-of value, so the first replayed day's change is judged against
      // the true previous close. Its own point lands at cp-1, outside the
      // window; the point at cp belongs to day cp-1, whose events the
      // replay does not read, so the committed one stays as it is
      val seedEvents = wh.read("stock_points")
        .filter(to_date(col("point_date")) <= cp)
        .groupBy(col("store_id"), col("art_id"))
        .agg(max_by(col("sod_stock"), col("point_date")).as("sod_stock"))
        .select(
          lit(-1L).as("id_origen"),
          col("store_id").as("tienda_id"), col("art_id"),
          date_sub(cp, 2).cast("timestamp").as("fecha"),
          lit("__seed__").as("tipo_movimiento"),
          lit(true).as("is_absolute"),
          lit(null).cast("long").as("delta_cantidad"),
          col("sod_stock").as("abs_stock_after"),
          lit("__seed__").as("usuario"))
      ledger.unionByName(seedEvents)
    }
    // the seed's day cp-2 is never the last one, so the slice alone bounds
    val replayed = Stock.stockPointsFrom(replay, slice)
    val counted = Observation(PointsMetric)
    val points = cpDate.fold(replayed)(cp => replayed.filter(to_date(col("point_date")) > cp))
      .observe(counted, count(lit(1)).as("n"))
    cpDate match {
      case None => wh.write("stock_points", points)
      case Some(cp) => wh.replaceRest("stock_points", to_date(col("point_date")) <= cp, points)
    }
    val n = observed(counted, Row(0L)).getLong(0)
    val maxRow = observed(lastDay, Row(null))
    // after the commit, and only when it moves; an empty slice (max() is
    // NULL) leaves the checkpoint untouched
    if (!maxRow.isNullAt(0) && !cpDays.contains(maxRow.getInt(0).toLong))
      wh.setCheckpoint("points_last_dt", maxRow.getInt(0).toLong)
    // last: it vouches for every commit above
    if (!derivedFrom.contains(ledgerFiles)) wh.setCheckpoint(LedgerFilesCp, ledgerFiles)
    n
  }

  /** The row `obs` observed on the commit that just returned, or `none`,
    * its aggregates over no rows, when the observed node ran no task
    * (adaptive execution proved its input empty; the row then comes back
    * with no fields). The listener bus delivers the row asynchronously, so
    * wait for it, but boundedly: a metric that never arrives throws rather
    * than blocking the night.
    */
  private def observed(obs: Observation, none: Row): Row = {
    val row =
      try Await.result(obs.future, ObservedWait)
      catch { case _: TimeoutException =>
        throw new IllegalStateException(s"the refresh's commit did not observe ${obs.name}")
      }
    if (row.length == 0) none else row
  }

  /** How long [[observed]] waits for the listener bus. */
  private val ObservedWait = 60.seconds

  /** The [[Warehouse.fingerprint]] of the ledger files the committed stock
    * points derive from.
    */
  private val LedgerFilesCp = "points_ledger_files"

  /** The observed metric that carries the replayed ledger's last day. */
  private val LastDayMetric = "points_ledger_last_day"

  /** The observed metric that carries the number of points committed. */
  private val PointsMetric = "points_committed"
}
