package graft.streaming

import graft.operators.Similarity
import graft.pipelines.Warehouse
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Structured-Streaming twin of the EMBEDDING tier's nightly loop (q89 +
  * [[Similarity.appendToAnnIndex]]) — the third of the three: fuzzy
  * ([[StreamingDedup]]), deterministic ([[StreamingWinnow]]), semantic
  * (this). An embeddings stream is screened micro-batch by micro-batch
  * for nearest corpus neighbors against the at-rest `corpus_codes`
  * IVF-PQ index, results land in a durable `ann_matches` table, and the
  * index advances with each batch — later batches are searched against
  * earlier ones, exactly like consecutive nights.
  *
  * At-least-once → exactly-once, structurally:
  *
  *  1. the screen's seen guard (a vec_id anti-join against the codes
  *     table inside [[Similarity.screenAnnAgainstIndex]]) drops vectors
  *     the index already absorbed — a replayed vector never searches
  *     against its own code row;
  *  2. the match append is keyed on (q_id, rank) — a replay that
  *     crashed between the match append and the index append
  *     re-screens, finds the same rows, and the anti-join drops them;
  *  3. the index advance is [[Similarity.appendToAnnIndex]]'s
  *     idempotent anti-join-guarded append (single per-job-atomic
  *     append — this tier has no data/manifest crash window).
  *
  * The encode side NEVER refits: batch vectors are quantized with the
  * corpus-frozen coarse centroids and PQ codebooks (a
  * [[graft.ContextMemo]], so foreachBatch's cloned sessions share one
  * fit — spec'd for the fits in TrainingOpsSpec).
  * Durable across process restarts iff `indexRoot` names a caller-owned
  * path ([[Similarity.openAnnIndex]]); without it the guarantee is
  * scoped to one JVM lifetime, as documented on [[StreamingDedup]].
  */
object StreamingAnn {

  /** One micro-batch of the loop — also the replay unit the spec drives
    * directly. `batch` is embeddings-shaped (`vec_id`, `embedding`).
    */
  def processBatch(dir: String, wh: Warehouse, batch: DataFrame,
                   indexRoot: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    indexRoot.foreach(Similarity.openAnnIndex(spark, dir, _))
    val matches = Similarity.screenAnnAgainstIndex(spark, dir, batch)
    val novel =
      if (!wh.exists("ann_matches")) matches
      else matches.join(wh.read("ann_matches").select(col("q_id"), col("rank")),
        Seq("q_id", "rank"), "left_anti")
    wh.append("ann_matches", novel)
    // the index advance gets the UNFILTERED batch: appendToAnnIndex's
    // vec_id anti-join makes it idempotent on replay
    Similarity.appendToAnnIndex(spark, dir, batch)
    graft.TransientCache.drain()
  }

  /** The retraction unit — [[StreamingDedup.retractBatch]]'s embedding
    * twin: FAISS `remove_ids` on the open index
    * ([[Similarity.retractFromAnnIndex]] — survivor codes byte-stable
    * under the frozen fits) and a sweep of `ann_matches`: rows whose
    * QUERY is retracted go, and any query whose result set NAMES a
    * retracted neighbor is dropped WHOLE. Whole, not row-by-row,
    * because the derived log is keyed (q_id, rank): sweeping only the
    * neighbor rows would leave rank holes that a later re-screen of
    * the same query could backfill against the post-retraction index —
    * one q_id mixing pre- and post-retraction rankings (the same
    * neighbor at two ranks). Dropping the whole query keeps the log's
    * invariant "every present q_id is one single-screening's intact
    * top-k"; the re-screen path stays gated by the codes-table seen
    * guard, so a dropped query is gone, never half-rebuilt.
    */
  def retractBatch(dir: String, wh: Warehouse, vecIds: DataFrame,
                   indexRoot: Option[String] = None): Unit = {
    val spark = vecIds.sparkSession
    indexRoot.foreach(Similarity.openAnnIndex(spark, dir, _))
    val ids = vecIds.select(col("vec_id")).dropDuplicates("vec_id")
    Similarity.retractFromAnnIndex(spark, dir, ids)
    if (wh.exists("ann_matches")) {
      val m = wh.read("ann_matches")
      // affected is NOT takedown-bounded (a popular neighbor can sit in
      // many queries' top-k), so no forced broadcast — let AQE pick
      val affected = m.join(broadcast(ids), Seq("vec_id"), "left_semi")
        .select(col("q_id")).distinct()
      wh.write("ann_matches", m
        .join(broadcast(ids.select(col("vec_id").as("q_id"))), Seq("q_id"), "left_anti")
        .join(affected, Seq("q_id"), "left_anti"))
    }
    graft.TransientCache.drain()
  }

  /** One CONTROL micro-batch — op-routed advance/retract (the
    * [[StreamingQuantileIndex.processControlBatch]] convention).
    */
  def processControlBatch(dir: String, wh: Warehouse, batch: DataFrame,
                          indexRoot: Option[String] = None): Unit = {
    val (adds, rets) = ControlLane.route(batch)
    if (!adds.isEmpty) processBatch(dir, wh, adds, indexRoot)
    if (!rets.isEmpty) retractBatch(dir, wh, rets, indexRoot)
  }

  /** Wire an embeddings stream into the loop. Each micro-batch runs
    * [[processBatch]]; the streaming checkpoint gives at-least-once
    * delivery and the batch body upgrades it to exactly-once effect
    * (durable across restarts iff `indexRoot` is supplied).
    */
  def screenSink(vecStream: DataFrame, dir: String, wh: Warehouse,
                 checkpointDir: String,
                 indexRoot: Option[String] = None): DataStreamWriter[Row] =
    vecStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(dir, wh, batch, indexRoot)
      }
}
