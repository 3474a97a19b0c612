package graft.streaming

import graft.pipelines.Warehouse
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Structured Streaming twin of the incremental batch layer (SURVEY.md
  * §2.9). The reference has no streaming runtime — it does "micro-batch by
  * cron" with per-store watermarks (etl_inventory/
  * update_raw_stock_movements.py:19-110) and last-wins upserts. This module
  * shows the same semantics on Spark's native streaming engine, so the
  * nightly pipeline can become continuous without changing operator logic:
  *
  *  - event-time watermark replaces the `last_raw_ts` checkpoint +1 s
  *    buffer re-read dance (reference `:69,84-85`): late events inside the
  *    allowed lateness are aggregated correctly, the state store evicts
  *    beyond it;
  *  - the tumbling daily window aggregation is the streaming form of the
  *    A5 daily-net groupBy (etl_inventory/seed_stock_points.py:88-91);
  *  - [[Twin.sink]] + [[Warehouse.upsert]] gives idempotent last-wins
  *    sink semantics (S8/S9), making the pipeline exactly-once-effective
  *    under replay, just like the reference's ON DUPLICATE KEY UPDATE.
  *
  * Scale notes: state is keyed by (tienda_id, art_id, window) — the same
  * partitioning as the batch shuffles; watermark bounds state size; the
  * sink upsert shuffles only the changed keys of each micro-batch.
  */
object StreamingIngest {

  /** Daily net-delta aggregation over a (possibly streaming) ledger frame:
    * groupBy(store, sku, day-window) with a 1-day watermark. Works on both
    * batch and streaming DataFrames — the plan is identical; only the sink
    * differs.
    */
  def dailyNetStream(ledger: DataFrame, lateness: String = "1 day"): DataFrame =
    ledger
      .withWatermark("fecha", lateness)
      .groupBy(
        col("tienda_id"), col("art_id"),
        window(col("fecha"), "1 day").as("w"))
      .agg(
        sum(coalesce(col("delta_cantidad"), lit(0L))).as("daily_delta"),
        count(lit(1)).as("n_events"))
      .select(col("tienda_id"), col("art_id"),
        to_date(col("w.start")).as("dia"),
        col("daily_delta"), col("n_events"))

  /** At-least-once ingest → exactly-once effect: drop re-delivered events
    * by natural key within the watermark horizon — the streaming form of
    * the reference's full-day re-read + strict `fecha > last_ts` filter
    * (update_raw_stock_movements.py:69,84-85). Unlike plain
    * dropDuplicates, the state store evicts keys older than the lateness
    * bound, so dedup state is O(events per horizon), not O(history).
    */
  def dedupStream(events: DataFrame, idCols: Seq[String], tsCol: String,
                  lateness: String = "1 day"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Wire a streaming daily-net frame into an idempotent parquet sink:
    * each micro-batch is merged into `sinkDir` with last-wins semantics on
    * (tienda_id, art_id, dia). Update-mode rows re-emitted for late events
    * overwrite their key — replays converge to the same table (the
    * streaming analog of the reference's transactional upsert+checkpoint,
    * etl_sales/update_clean_data.py:90-107). Update mode, not the
    * twins' append, because the stream is aggregated.
    */
  def upsertSink(dailyNet: DataFrame, sinkDir: String,
                 checkpointDir: String): DataStreamWriter[Row] = {
    val sink = new Path(sinkDir)
    val wh = new Warehouse(dailyNet.sparkSession, sink.getParent.toString)
    Twin.sink(dailyNet, checkpointDir) { (batch, batchId) =>
      // the tmp-swap merge keeps the previous table intact across a
      // failed micro-batch (Delta MERGE in production)
      wh.upsert(sink.getName, batch
          .withColumn("__version", lit(batchId))
          .withColumn("__tiebreak", lit(batchId)),
        Seq("tienda_id", "art_id", "dia"), "__version", "__tiebreak")
    }.outputMode(OutputMode.Update)
  }
}
