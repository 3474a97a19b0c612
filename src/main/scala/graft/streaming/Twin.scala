package graft.streaming

import graft.pipelines.Warehouse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** The wiring every streaming twin shares: one sink shape and one
  * control-lane dispatch, so no twin can drift from the contract.
  *
  * [[sink]] is checkpointed and available-now triggered: the streaming
  * checkpoint gives at-least-once delivery, and each twin's batch body
  * (keyed appends, manifests, idempotent merges) upgrades it to
  * exactly-once effect. The micro-batch body runs on a CLONED session,
  * so state a body shares across batches is keyed by SparkContext
  * ([[graft.ContextMemo]]).
  *
  * [[control]] splits a control micro-batch on its `op` verb. A NULL
  * verb routes to ADVANCE — the data-lane default (a plain arrival that
  * never carried a verb). This is load-bearing: both
  * `col("op") =!= "retract"` and `=== "retract"` evaluate to NULL on a
  * null op, so naive two-filter routing would land the row in NEITHER
  * half — silent data loss from a checkpointed stream.
  *
  * An UNKNOWN non-null verb FAILS FAST instead of being guessed at: a
  * CDC lane that silently reinterprets (or drops) verbs corrupts state
  * with no error surface; failing the micro-batch leaves the
  * checkpoint un-advanced, so the fixed producer replays the batch and
  * the exactly-once contracts of both halves take over.
  */
private[graft] object Twin {

  /** Wire `stream` into `body(batch, batchId)`: append mode,
    * checkpointed at `checkpoint`, available-now triggered. The batch id
    * is stable across checkpoint replays, so bodies may key on it.
    */
  def sink(stream: DataFrame, checkpoint: String)
          (body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)

  /** One CONTROL micro-batch: advances fold first, then retractions
    * cancel — so a row arriving and being recalled in one micro-batch
    * nets to absent, matching the nightly serial order (ingest, then
    * takedown). Each half sees the batch with the verb column dropped
    * and runs only when non-empty.
    */
  def control(batch: DataFrame)(advance: DataFrame => Unit,
                                retract: DataFrame => Unit): Unit = {
    val (adds, rets) = route(batch)
    if (!adds.isEmpty) advance(adds)
    if (!rets.isEmpty) retract(rets)
  }

  private def route(batch: DataFrame): (DataFrame, DataFrame) = {
    val verb = coalesce(col("op"), lit("advance"))
    val unknown = batch.filter(!verb.isin("advance", "retract"))
    require(unknown.isEmpty, {
      val seen = unknown.select(col("op")).distinct().limit(3)
        .collect().map(_.get(0)).mkString(", ")
      s"control lane: unknown op verb(s) [$seen] — want advance|retract"
    })
    (batch.filter(verb === "advance").drop("op"),
      batch.filter(verb === "retract").drop("op"))
  }

  /** Drop every `(di, dc)` pair of `table` that names a retracted doc —
    * pairs naming a deleted doc are derived data the takedown reaches.
    */
  private[streaming] def sweepPairs(wh: Warehouse, table: String,
                                    ids: DataFrame): Unit =
    if (wh.exists(table))
      wh.write(table, wh.read(table)
        .join(broadcast(ids.select(col("doc_id").as("di"))), Seq("di"), "left_anti")
        .join(broadcast(ids.select(col("doc_id").as("dc"))), Seq("dc"), "left_anti"))
}
