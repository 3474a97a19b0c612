package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the q105 session transition matrix: the (from, to)
  * direct-succession pair stream maintained CONTINUOUSLY across
  * micro-batches via `flatMapGroupsWithState` — the §2.9 symmetry
  * closure for the path-analysis metric, alongside [[StreamingFunnel]]
  * (conversion depth) and [[StreamingSessions]] (session assembly).
  *
  * State per user is the LAST event only — (epoch-micros, type code) —
  * because a first-order Markov chain needs exactly one event of
  * lookback: a pair spanning a micro-batch boundary is emitted by the
  * carry, and a >6 h gap (the q36 rule, micro-second precision like the
  * batch lag) breaks the chain exactly as q105's window filter does.
  * Emission is the raw pair stream; the model aggregation (pair counts,
  * row-normalized probabilities) stays a downstream batch agg over the
  * emitted rows — counts are additive across batches, so streamed pair
  * rows aggregated == the batch matrix (spec'd, including a
  * boundary-spanning pair and a gap break).
  *
  * Ordering contract (the [[StatefulBalance]] caveat, verbatim): each
  * micro-batch group is sorted by (ts, event_id) — the batch window's
  * exact order — before folding, so cross-batch arrival must respect
  * event order per user; out-of-order delivery ACROSS batches needs the
  * watermarking ingest upstream.
  */
object StreamingTransitions {

  /** q105's gap at the lag's precision, derived from the batch tier's
    * single gap constant — retuning [[graft.operators.Sessions.GapHours]]
    * moves both sides of the streamed ≡ batch contract together.
    */
  val GapUs: Long = graft.operators.Sessions.GapSec * 1000000L

  final case class TransEv(user_id: Long, us: Long, event_id: Long, code: Int)
  final case class TransState(us: Long, code: Int)
  final case class TransRow(user_id: Long, from_code: Int, to_code: Int)

  /** The fixture's event-type alphabet in sorted order — code = index+1
    * (0 is the no-previous sentinel in the state).
    */
  val Types: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def apply(events: Dataset[TransEv]): Dataset[TransRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[TransEv], state: GroupState[TransState]) => {
          var last = state.getOption.orNull
          val out = Seq.newBuilder[TransRow]
          evs.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (last != null && e.us - last.us <= GapUs)
              out += TransRow(user, last.code, e.code)
            last = TransState(e.us, e.code)
          }
          state.update(last)
          out.result().iterator
        })
  }
}
