package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming rate limiter — the incremental twin
  * [[EventQueries.qEventsThrottle]]'s scaladoc promises: the batch
  * query keeps an event iff ≥ 24 h passed since the previous KEPT
  * event; a live notification capper makes the same decision the
  * moment each event arrives. The recurrence state is two longs per
  * user (last kept micros + kept rank) — never an event list.
  *
  * Input contract: the throttle's (user_id, event_id, tsu) rows in
  * time order across micro-batches; within a micro-batch a user's
  * rows sort by (tsu, event_id), matching the batch secondary sort.
  *
  * Semantics vs the batch query, pinned by StreamingThrottleSpec:
  * replaying the fixture — one micro-batch or split across many —
  * emits exactly the batch query's kept rows, ranks and gap seconds
  * included (a kept decision depends on the previous KEPT event, so
  * equality proves the chain state carries across boundaries). */
object StreamingThrottle {
  import EventQueries.{ThrottleIn, ThrottleKept}

  /** Per-user chain state: last kept micros + kept count. */
  case class ThrottleState(lastKept: Long, rank: Long)

  def monitor(evs: Dataset[ThrottleIn],
      minGapUs: Long = 86400000000L): Dataset[ThrottleKept] = {
    import evs.sparkSession.implicits._
    KeyedFold(evs)(_.user_id, Some(Ordering.by(e => (e.tsu, e.event_id)))) {
      (u, it, state: Option[ThrottleState]) =>
        var st = state.orNull
        val out = it.flatMap { r =>
          if (st == null) {
            st = ThrottleState(r.tsu, 1L)
            Some(ThrottleKept(u, r.event_id, r.tsu, 1L, None))
          } else if (r.tsu >= st.lastKept + minGapUs) {
            val gap = (r.tsu - st.lastKept) / 1000000L
            st = ThrottleState(r.tsu, st.rank + 1L)
            Some(ThrottleKept(u, r.event_id, r.tsu, st.rank, Some(gap)))
          } else None
        }.toList
        (Option(st), out.iterator)
    }
  }
}
