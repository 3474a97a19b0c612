package graft.streaming

import graft.operators.Sessions
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the q101/q103 window funnel: per-user conversion
  * depth maintained CONTINUOUSLY across micro-batches via
  * `flatMapGroupsWithState` — the §2.9 symmetry the dedup/winnow/ANN
  * loops already have, closed for the event tier's conversion metric.
  *
  * The packed long IS the state: one `(best·2⁴⁰ + depth·2³⁶ + start)`
  * value per user in the checkpointed state store, advanced by the
  * SAME [[Sessions.funnelStep]] transition the batch folds run — so
  * streamed ≡ batch is an identity of code paths, not a re-derivation,
  * and a restart resumes mid-chain exactly (a chain OPEN across a
  * restart still completes: start/depth/best all live in the one
  * long). Each micro-batch emits the user's CURRENT depth — the
  * running dashboard value; the final emission per user equals the
  * batch fold over the concatenated input (spec'd).
  *
  * Ordering contract (the [[StatefulBalance]] caveat, verbatim): each
  * micro-batch group is sorted by the packed (time, step) key before
  * folding, so cross-batch arrival must respect event order per user —
  * guaranteed when the source replays whole ingest windows, as the
  * reference's nightly extraction does; out-of-order delivery ACROSS
  * batches needs the watermarking ingest upstream.
  *
  * In-batch memory bound (the twin's contract, stated like
  * [[StatefulBalance]]'s): `evs.toArray` materializes the user's slice
  * of ONE micro-batch for the sort above — CROSS-batch state is the
  * single long, so per-user memory is bounded by the trigger size, not
  * by history, but a whale whose events land in the same micro-batch
  * still builds that batch's array (the shape q103's secondary sort
  * exists to avoid in batch). At scale, cap the trigger
  * (`maxOffsetsPerTrigger` / `maxFilesPerTrigger`) so one user's
  * in-batch slice fits an executor; the nightly-replay sources this
  * twin mirrors batch by ingest window, which does exactly that. The
  * same bound applies to [[StreamingTransitions]], [[StreamingSessions]]
  * and [[StreamingSequence]], whose folds sort the same way.
  */
object StreamingFunnel {

  final case class FunnelEv(user_id: Long, x: Long)
  final case class FunnelRow(user_id: Long, funnel_depth: Long)

  def apply(events: Dataset[FunnelEv]): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[FunnelEv], state: GroupState[Long]) => {
          var acc = state.getOption.getOrElse(0L)
          evs.toArray.map(_.x).sorted.foreach(x => acc = Sessions.funnelStep(acc, x))
          state.update(acc)
          Iterator(FunnelRow(user, acc / Sessions.B40))
        })
  }
}
