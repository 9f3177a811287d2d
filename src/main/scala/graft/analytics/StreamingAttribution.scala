package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming multi-touch attribution — the incremental twin of
  * [[EventQueries.qEventsAttribution]]: the batch query resolves each
  * purchase's first/last preceding touch with one user-keyed window
  * over a CLOSED event log; a live event stream needs the same
  * attribution row emitted the moment the purchase arrives. The
  * running first/last touch is exactly the O(1) per-key state the
  * batch window carries implicitly — here it lives in a
  * [[graft.operators.KeyedFold]] per-user state cell and survives
  * micro-batch boundaries and checkpoint restarts.
  *
  * Scale shape: state per user is ONE small case class (two touch
  * types + two timestamps + a count) — never an event list — so the
  * state store grows with |users|, not |events|. Within a micro-batch
  * a user's events sort by (ts, event_id) (iterator order is not
  * deterministic across task retries; the sort pins replay-identical
  * output) — bounded by one user's share of one micro-batch, the same
  * bound sessionization accepts.
  *
  * Semantics vs the batch query, pinned by StreamingAttributionSpec:
  * replaying any event log through the stream in event-time order —
  * in one micro-batch or split across many — emits exactly the batch
  * query's rows (same strict "touches before the purchase under the
  * total (ts, event_id) order" frame; purchases are never touches). */
object StreamingAttribution {

  /** One arriving event (timestamps as epoch micros — exact). */
  case class EventIn(user_id: Long, event_id: Long, event_type: String,
      ts_us: Long)

  /** Running per-user touch summary — the whole state. */
  case class TouchState(first_touch: String, first_ts_us: Long,
      last_touch: String, last_ts_us: Long, n_touches: Long)

  /** One attribution row, emitted at the purchase event. Option
    * fields are None for a touchless purchase (the batch query's
    * NULLs). */
  case class Attribution(conv_id: Long, user_id: Long, conv_ts_us: Long,
      n_touches: Long, first_touch: Option[String],
      first_ts_us: Option[Long], last_touch: Option[String],
      last_ts_us: Option[Long])

  private val touchTypes = Set("click", "view")

  /** Attribute purchases in a stream of events. Works on a static
    * Dataset too (one "batch" per user), which is how the spec
    * cross-checks it against the batch window query. */
  def attribute(events: Dataset[EventIn]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id, Some(Ordering.by(e => (e.ts_us, e.event_id)))) {
      (user, it, state: Option[TouchState]) =>
        var st = state.orNull
        val out = it.flatMap { e =>
          val emitted =
            if (e.event_type == "purchase") {
              val row =
                if (st == null)
                  Attribution(e.event_id, user, e.ts_us, 0L,
                    None, None, None, None)
                else
                  Attribution(e.event_id, user, e.ts_us, st.n_touches,
                    Some(st.first_touch), Some(st.first_ts_us),
                    Some(st.last_touch), Some(st.last_ts_us))
              Seq(row)
            } else Nil
          if (touchTypes(e.event_type))
            st =
              if (st == null)
                TouchState(e.event_type, e.ts_us, e.event_type, e.ts_us, 1L)
              else
                st.copy(last_touch = e.event_type, last_ts_us = e.ts_us,
                  n_touches = st.n_touches + 1L)
          emitted
        }.toList
        (Option(st), out.iterator)
    }
  }
}
