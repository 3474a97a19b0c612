package graft.streaming

import graft.operators.Stock.{BalanceRow, LedgerEv}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of the R4 running balance: per-(store, SKU) state kept
  * in the state store via `flatMapGroupsWithState`, so the ledger replay
  * becomes a CONTINUOUS computation — each micro-batch folds its events
  * into the persisted balance, absolute snapshots reset it, and the
  * emitted rows match what the batch window plan (Stock.withBalance)
  * produces over the concatenated input.
  *
  * This is the §2.9 end-state the reference approximates with nightly
  * cron + checkpoints: state lives in Spark's checkpointed state store
  * keyed by (tienda_id, art_id) — the same key as the batch shuffle — and
  * scales horizontally with executors. Late events are handled upstream
  * by the watermarking ingest ([[StreamingIngest]]); within a key, batch
  * arrival order must respect event order (guaranteed here by sorting
  * each micro-batch group, i.e. events may arrive late across batches
  * only if the source replays whole days, as the reference's ingest
  * does).
  */
object StatefulBalance {

  /** Running balance + last absolute value carried across micro-batches
    * (lastAbs mirrors the batch window plan's run_abs so a null-valued
    * absolute event resets identically in both formulations).
    */
  final case class KeyState(balance: Long, lastAbs: Long)

  def apply(ledger: Dataset[LedgerEv]): Dataset[BalanceRow] = {
    val spark = ledger.sparkSession
    import spark.implicits._
    ledger
      .groupByKey(e => (e.tienda_id, e.art_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), events: Iterator[LedgerEv], state: GroupState[KeyState]) => {
          var running = state.getOption.map(_.balance).getOrElse(0L)
          var lastAbs = state.getOption.map(_.lastAbs).getOrElse(0L)
          // getTime truncates to ms — include nanos so same-millisecond
          // events keep the batch plan's micro-precision (fecha, id) order
          val out = events.toArray
            .sortBy(e => (e.fecha.getTime, e.fecha.getNanos, e.id_origen)).map { e =>
            if (e.is_absolute) {
              lastAbs = e.abs_stock_after.getOrElse(lastAbs)
              running = lastAbs
            } else running += e.delta_cantidad.getOrElse(0L)
            BalanceRow(key._1, key._2, e.id_origen, running)
          }
          state.update(KeyState(running, lastAbs))
          out.iterator
        })
  }
}
