package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming growth accounting — the incremental twin of
  * [[EventQueries.qEventsLifecycle]]: the batch query classifies every
  * (user, week) activity as new / retained / resurrected and derives
  * churn weeks from the lead side of a closed log; a live stream must
  * emit the classification the moment a user's first event of a week
  * arrives. Per-user state is ONE Long — the start (epoch micros) of
  * the user's last active week — the smallest state that decides all
  * three classes.
  *
  * Churn in a stream is observable only in retrospect: when a user
  * resurrects after a gap, the week they silently churned
  * (last_active_week + 7 days) is emitted as a CHURN BACKFILL at that
  * moment. Users who never return cannot emit churn from inside the
  * stream (their churn is a fact about the closed horizon, which only
  * the batch view has) — StreamingLifecycleSpec reconciles exactly
  * that: streaming churn ≡ batch churn restricted to users with a
  * later active week.
  *
  * Week truncation is Monday-based UTC, computed in integer epoch-day
  * arithmetic to match both engines' `date_trunc('week', ts)`
  * (1970-01-01 was a Thursday → Monday offset 3), spec-pinned against
  * the batch query's own weeks. Emissions are append-only and final:
  * a (user, week) classifies exactly once, at its first event. */
object StreamingLifecycle {

  /** One arriving event (epoch micros). */
  case class EventIn(user_id: Long, event_id: Long, ts_us: Long)

  /** A lifecycle emission: kind ∈ new / retained / resurrected /
    * churned, stamped with the week it belongs to. */
  case class Transition(user_id: Long, week_us: Long, kind: String)

  private val WeekUs = 7L * 86400L * 1000000L
  private val DayUs = 86400L * 1000000L

  /** Monday-UTC week start of an epoch-micros timestamp — the integer
    * twin of `date_trunc('week', ts)` for post-1970 timestamps. */
  def weekStartUs(tsUs: Long): Long = {
    val day = tsUs / DayUs
    (day - ((day + 3) % 7)) * DayUs
  }

  /** Classify a stream of events into lifecycle transitions. Events
    * are processed per user in (ts, event_id) order within each
    * micro-batch; state survives across batches. */
  def classify(events: Dataset[EventIn]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.user_id, Some(Ordering.by(e => (e.ts_us, e.event_id)))) {
      (user, it, state: Option[Long]) =>
        var last = state.getOrElse(-1L)
        val out = it.flatMap { e =>
          val w = weekStartUs(e.ts_us)
          if (last < 0L) {
            last = w; Seq(Transition(user, w, "new"))
          } else if (w <= last) Nil
          else if (w == last + WeekUs) {
            last = w; Seq(Transition(user, w, "retained"))
          } else {
            val churnWeek = last + WeekUs
            last = w
            Seq(Transition(user, churnWeek, "churned"),
              Transition(user, w, "resurrected"))
          }
        }.toList
        (Some(last), out.iterator)
    }
  }
}
