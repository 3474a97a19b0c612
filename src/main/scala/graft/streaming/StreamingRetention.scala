package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the q104 weekly retention cohorts: per-user
  * cohort/week-offset ACTIVATIONS emitted continuously across
  * micro-batches via `flatMapGroupsWithState` — the event tier's §2.9
  * symmetry for the product-health triangle, alongside
  * [[StreamingFunnel]], [[StreamingTransitions]] and
  * [[StreamingSequence]]. (q107 peak concurrency is the one event
  * metric deliberately left batch-only: its defining operation is a
  * global-order prefix sum over ALL boundary instants — retro-active
  * by construction, the analytic complement of a running dashboard.)
  *
  * State per user is (first_day, seen week-offsets): first_day is
  * q104's per-user min-day agg — under the in-order-per-user contract
  * the FIRST event processed carries the min day, so the cohort is
  * fixed at first encounter — and `seen` dedups (user, offset)
  * exactly as q104's distinct user-week collapse does, so each
  * activation emits ONCE and the emitted stream is additive: counting
  * emissions per (cohort_week, week_offset) downstream reproduces the
  * batch cell counts, and the offset-0 slice reproduces cohort sizes
  * (spec'd across a restart). `seen` grows with CALENDAR weeks since
  * the user's first event, never with event count — the q107 hour
  * ledger's calendar-bound argument applied to state size.
  *
  * Ordering contract and in-batch memory bound: the
  * [[StreamingFunnel]] paragraphs, verbatim (the in-batch sort is by
  * day; out-of-order ACROSS batches would mis-pin first_day and needs
  * the watermarking ingest upstream).
  */
object StreamingRetention {

  final case class RetEv(user_id: Long, day: Long)
  // seen is kept SORTED (TreeSet round-trip below) — the stored state is
  // deterministic and membership probes are O(log weeks), so a batch
  // slice costs O(events·log weeks), not the O(weeks²) a linear
  // `Seq.contains` + append would (calendar-bounded either way, but the
  // quadratic term is free to remove).
  final case class RetState(fd: Long, seen: Seq[Long]) // fd = −1: unset
  final case class RetRow(user_id: Long, cohort_week: Long, week_offset: Long)

  def apply(events: Dataset[RetEv]): Dataset[RetRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[RetEv], state: GroupState[RetState]) => {
          val s0 = state.getOption.getOrElse(RetState(-1L, Seq.empty))
          var fd = s0.fd
          val seen = scala.collection.mutable.TreeSet.empty[Long] ++ s0.seen
          val out = Seq.newBuilder[RetRow]
          evs.toArray.sortBy(_.day).foreach { e =>
            if (fd < 0) fd = e.day
            val off = (e.day - fd) / 7
            if (seen.add(off))
              out += RetRow(user, fd / 7, off)
          }
          state.update(RetState(fd, seen.toSeq))
          out.result().iterator
        })
  }
}
