package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming funnel progression — the incremental twin of
  * [[EventQueries.qEventsFunnel]]: the batch query resolves each
  * user's strict view→click→purchase stage timestamps over a CLOSED
  * log; a live stream needs the stage-completion event emitted the
  * moment a user crosses a stage. Per-user state is the resolved
  * stage timestamps — three Longs, nothing else — and stage N+1 can
  * only resolve strictly after stage N's resolved time, exactly the
  * batch semantics (first view; first click AFTER it; first purchase
  * AFTER that).
  *
  * Emission is append-only and final: a stage, once resolved, never
  * revises (the batch MINs are the same left-fold this operator runs
  * in (ts, event_id) order). Rolling the emitted stage events up by
  * stage reproduces the batch query's per-stage user counts —
  * StreamingFunnelSpec pins that equality one-shot AND split across
  * micro-batches. */
object StreamingFunnel {

  /** One arriving event (epoch micros). */
  case class EventIn(user_id: Long, event_id: Long, event_type: String,
      ts_us: Long)

  /** A user crossing a funnel stage (1 = view, 2 = click,
    * 3 = purchase), at the event that resolved it. */
  case class StageCrossed(user_id: Long, stage: Int, ts_us: Long)

  /** Per-user resolved stage times; -1 = unresolved. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** Emit stage crossings for a stream of events. Works on a static
    * Dataset too, which is how the spec cross-checks it against the
    * batch aggregate. */
  def progress(events: Dataset[EventIn]): Dataset[StageCrossed] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id, Some(Ordering.by(e => (e.ts_us, e.event_id)))) {
      (user, it, state: Option[FunnelState]) =>
        var st = state.getOrElse(FunnelState(-1L, -1L, -1L))
        val out = it.flatMap { e =>
          (e.event_type, st) match {
            case ("view", FunnelState(-1L, _, _)) =>
              st = st.copy(t1 = e.ts_us)
              Seq(StageCrossed(user, 1, e.ts_us))
            case ("click", FunnelState(t1, -1L, _))
                if t1 >= 0L && e.ts_us > t1 =>
              st = st.copy(t2 = e.ts_us)
              Seq(StageCrossed(user, 2, e.ts_us))
            case ("purchase", FunnelState(_, t2, -1L))
                if t2 >= 0L && e.ts_us > t2 =>
              st = st.copy(t3 = e.ts_us)
              Seq(StageCrossed(user, 3, e.ts_us))
            case _ => Nil
          }
        }.toList
        (Some(st), out.iterator)
    }
  }
}
