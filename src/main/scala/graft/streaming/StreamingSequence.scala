package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the q106 unbounded sequence conversion — per-user
  * earliest view → click → purchase chain maintained CONTINUOUSLY
  * across micro-batches via `flatMapGroupsWithState`, completing the
  * event tier's §2.9 streaming symmetry (q101/q103 ↔ [[StreamingFunnel]],
  * q105 ↔ [[StreamingTransitions]], q109 ↔ [[StreamingCardinality]],
  * and now q106 ↔ this).
  *
  * State per user is the (t1, t2, t3) triple of the batch tier's three
  * chained min-aggs (−1 = unset) — three longs, never an event list.
  * The earliest-greedy advance is exactly the batch recurrence: t1 is
  * the first view seen, t2 the first click strictly after t1, t3 the
  * first purchase strictly after t2. Under the in-order-per-user
  * cross-batch contract (below), "first qualifying event processed" ≡
  * "min qualifying timestamp", so the streamed triple equals the batch
  * min-agg chain at every prefix — depth can only grow, and a chain
  * OPEN across a restart completes from the checkpointed triple.
  *
  * Each micro-batch emits the user's CURRENT (depth, conv) — the
  * running dashboard row; the final emission per user equals the batch
  * per-user row over the concatenated input, so aggregating final
  * emissions by depth reproduces q106's distribution (spec'd, including
  * a restart mid-chain and a click-before-view reordering).
  *
  * Ordering contract (the [[StatefulBalance]] caveat, verbatim): each
  * micro-batch group is sorted by (es, step) before folding, so
  * cross-batch arrival must respect event order per user; out-of-order
  * delivery ACROSS batches needs the watermarking ingest upstream. The
  * per-user in-batch slice materializes once for that sort — the
  * micro-batch-size bound documented on [[StreamingFunnel]].
  */
object StreamingSequence {

  final case class SeqEv(user_id: Long, es: Long, step: Int)
  /** −1 = unset; es is epoch seconds (nonnegative by construction). */
  final case class SeqState(t1: Long, t2: Long, t3: Long)
  final case class SeqRow(user_id: Long, funnel_depth: Long, conv: Option[Long])

  /** The chained-min transition — ONE function shared by the streamed
    * fold and the spec's driver recompute, so streamed ≡ batch is an
    * identity of code for the advance and an argument only for the
    * order contract.
    */
  def seqStep(s: SeqState, es: Long, step: Int): SeqState = step match {
    case 1 => if (s.t1 < 0) s.copy(t1 = es) else s
    case 2 => if (s.t1 >= 0 && s.t2 < 0 && es > s.t1) s.copy(t2 = es) else s
    case _ => if (s.t2 >= 0 && s.t3 < 0 && es > s.t2) s.copy(t3 = es) else s
  }

  def depthOf(s: SeqState): Long =
    if (s.t3 >= 0) 3L else if (s.t2 >= 0) 2L else if (s.t1 >= 0) 1L else 0L

  def apply(events: Dataset[SeqEv]): Dataset[SeqRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[SeqEv], state: GroupState[SeqState]) => {
          var s = state.getOption.getOrElse(SeqState(-1L, -1L, -1L))
          evs.toArray.sortBy(e => (e.es, e.step)).foreach(e =>
            s = seqStep(s, e.es, e.step))
          state.update(s)
          Iterator(SeqRow(user, depthOf(s),
            if (s.t3 >= 0) Some(s.t3 - s.t1) else None))
        })
  }
}
