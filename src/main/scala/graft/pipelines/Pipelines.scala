package graft.pipelines

import graft.Tables
import graft.operators.{Sales, Stock}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end nightly pipelines — the library equivalents of the
  * reference's entry scripts (run_etl.sh:34-36), so a reference user can
  * run the same seed/update cycle against a parquet warehouse:
  *
  *  - [[SalesPipeline]]  ≙ etl_sales/seed_historical.py +
  *    update_clean_data.py (ID watermark, last-wins upsert)
  *  - [[InventoryPipeline.updateLedger]] ≙ etl_inventory/
  *    seed_raw_stock_movements.py + update_raw_stock_movements.py
  *    (timestamp watermark, strict-> append)
  *  - [[InventoryPipeline.refreshStockPoints]] ≙ etl_inventory/
  *    seed_stock_points.py + update_stock_points.py (date watermark,
  *    as-of-seeded incremental replay, change-point upsert)
  *
  * The `upTo*` parameters simulate source growth between nightly runs
  * (the fixtures are static); production extraction would replace the
  * filter with a JDBC predicate, nothing else changes.
  */
object SalesPipeline {

  private def source(spark: SparkSession, dir: String, upToId: Option[Long]): DataFrame = {
    val full = Sales.waterfallClean(spark, dir)
    upToId.map(id => full.filter(col("ven_id") <= id)).getOrElse(full)
  }

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
    upsertAbove(wh, landing.getOrElse(wh), "sales_last_ven_id",
      source(wh.spark, srcDir, upToId))

  /** Per-store scoped cold start — the reference's seed_new_store.py:19-34:
    * ONE source (= one store's database) is extracted over its own window,
    * merged into the shared clean table, and only THAT store's watermark
    * row is advanced (`etl_progress ... WHERE store_name = :store`).
    *
    * `scope` role-plays the per-store source database (the harness
    * fixture is a single source; production passes the store's
    * [[graft.sources.Jdbc.Source]] scan — see Jdbc.readMultiDb for where
    * the store literal is stamped at extract time). Rows of other stores
    * are untouched: the merge is the keyed last-wins upsert, and store
    * scopes are key-disjoint. Re-running is idempotent (watermark +
    * last-wins upsert), and later incremental runs with the same
    * (store, scope) resume from the store's own checkpoint.
    */
  def seedNewStore(wh: Warehouse, srcDir: String, store: String,
                   scope: DataFrame => DataFrame,
                   upToId: Option[Long] = None): Long =
    upsertAbove(wh, wh, s"sales_last_ven_id__$store",
      scope(source(wh.spark, srcDir, upToId)))

  /** The watermark step both entry points share: extract the tickets
    * above checkpoint `cpName` (the P7 high-water-mark predicate),
    * upsert them into `sink`, and advance the checkpoint only AFTER the
    * sink commits (§7.3). Count and max come from ONE action. Returns
    * rows processed.
    */
  private def upsertAbove(wh: Warehouse, sink: UpsertSink, cpName: String,
                          extract: DataFrame): Long = {
    val cp = wh.checkpoint(cpName).getOrElse(Long.MinValue)
    val incoming = extract.filter(col("ven_id") > cp).cache()
    val stats = incoming.agg(count(lit(1)), max(col("ven_id"))).first()
    val n = stats.getLong(0)
    if (n > 0) {
      sink.upsert("ventas_limpias", incoming, Seq("ven_id"), "ven_id", "ven_id")
      wh.setCheckpoint(cpName, stats.getLong(1))
    }
    incoming.unpersist()
    n
  }
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
                   upToTs: Option[java.sql.Timestamp] = None): Long = {
    val cpMicros = wh.checkpoint("ledger_last_ts")
    val src0 = Tables.ledger(wh.spark, srcDir)
    val src1 = upToTs.map(t => src0.filter(col("fecha") <= lit(t))).getOrElse(src0)
    val fresh = cpMicros
      .map(m => src1.filter(col("fecha") > timestamp_micros(lit(m)))) // P8 strict
      .getOrElse(src1)
    // crash-window dedup: drop ids already landed above the watermark
    val incoming = (if (wh.exists("raw_stock_movements")) {
      val landed = wh.read("raw_stock_movements")
        .filter(cpMicros.map(m => col("fecha") > timestamp_micros(lit(m)))
          .getOrElse(lit(true)))
        .select(col("id_origen"))
      fresh.join(landed, Seq("id_origen"), "left_anti")
    } else fresh).cache()
    // count + max in ONE action BEFORE the append: the incoming plan
    // anti-joins against the sink table, so evaluating it after the
    // append (e.g. on a cache miss) would read its own output and
    // anti-join everything away
    val stats = incoming.agg(count(lit(1)), max(unix_micros(col("fecha")))).first()
    val n = stats.getLong(0)
    if (n > 0) {
      wh.append("raw_stock_movements", incoming)
      wh.setCheckpoint("ledger_last_ts", stats.getLong(1))
    }
    incoming.unpersist()
    n
  }

  /** Stock-point derivation with the reference's date-watermark semantics
    * (update_stock_points.py:79-109): cold start replays the whole
    * warehouse ledger; incrementally, each key's balance is SEEDED from
    * the as-of SOD at the checkpoint date and only events from that date
    * onward are replayed. The seed is injected as a synthetic absolute
    * event at checkpoint-1d (id_origen = -1 sorts before every real
    * event), so the standard R4 window replay needs no special cases.
    * Emitted points at the boundary that merely restate the seed value are
    * dropped, keeping the change-point series identical to a full rebuild.
    * Returns the number of points upserted.
    */
  def refreshStockPoints(wh: Warehouse): Long = {
    val spark = wh.spark
    // nothing ingested yet (Graft.nightly on a fresh warehouse): no-op
    // rather than a path-not-found / NPE on the empty max() below
    if (!wh.exists("raw_stock_movements")) return 0L
    val ledger = wh.read("raw_stock_movements")
    val cpDays = wh.checkpoint("points_last_dt")

    val (points, isSeed) = cpDays match {
      case None => (Stock.stockPointsFrom(ledger), true)
      case Some(days) =>
        val cpDate = date_from_unix_date(lit(days.toInt))
        // J9 as-of seed: latest point per key at or before the checkpoint
        val wAsOf = Window.partitionBy(col("store_id"), col("art_id"))
          .orderBy(col("point_date").desc)
        val seedVals = wh.read("stock_points")
          .filter(to_date(col("point_date")) <= cpDate)
          .withColumn("rn", row_number().over(wAsOf))
          .filter(col("rn") === 1)
          .select(col("store_id").as("tienda_id"), col("art_id"),
            col("sod_stock").as("seed_sod"))
        // synthetic absolute seed event TWO days before the window: the
        // replay calendar then derives SOD(cp-1) = seed, so the change-
        // point comparison at the cp day is against the true prior value
        // (a cp-1 seed would leave SOD(cp-1) at the lag default 0 and
        // re-emit an unchanged point at cp)
        val seedEvents = seedVals.select(
          lit(-1L).as("id_origen"),
          col("tienda_id"), col("art_id"),
          date_sub(cpDate, 2).cast("timestamp").as("fecha"),
          lit("__seed__").as("tipo_movimiento"),
          lit(true).as("is_absolute"),
          lit(null).cast("long").as("delta_cantidad"),
          col("seed_sod").as("abs_stock_after"),
          lit("__seed__").as("usuario"))
        val window = ledger.filter(to_date(col("fecha")) >= cpDate)
        // change-point compression with prev-defaults-to-0 semantics makes
        // this exact: the synthetic seed event reproduces EOD(cp-1), so the
        // replay emits a point at/after cp iff the full rebuild would
        val pts = Stock.stockPointsFrom(
            window.unionByName(seedEvents.select(window.columns.toIndexedSeq.map(col): _*)))
          .filter(to_date(col("point_date")) >= cpDate)
        (pts, false)
    }

    val outCached = points.cache()
    val n = outCached.count()
    if (isSeed) wh.write("stock_points", outCached)
    else if (n > 0) {
      // S9 keyed merge: new points replace same-key rows, everything else
      // carries over (wh.write streams the old table into a tmp dir and
      // swaps — no same-path read/write race)
      val keys = Seq("store_id", "art_id", "point_date")
      wh.write("stock_points",
        wh.read("stock_points")
          .join(outCached.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(outCached))
    }
    val maxRow = ledger.agg(max(unix_date(to_date(col("fecha"))))).first()
    // empty ledger table → max() is NULL → leave the checkpoint untouched
    if (!maxRow.isNullAt(0))
      wh.setCheckpoint("points_last_dt", maxRow.getInt(0).toLong)
    outCached.unpersist()
    n
  }
}
