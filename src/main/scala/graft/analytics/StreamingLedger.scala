package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming saturating balance — the incremental twin of
  * [[EventQueries.qEventsLedger]]: the batch query walks each user's
  * deltas in time order through clamp(b + Δ, 0, cap); a live billing
  * or rate-limit monitor needs the same six counters continuously.
  * The recurrence state is exactly what a stream carries per key:
  * five longs (balance, events seen, floor clamps, cap clamps,
  * absorbed cents) — never an event list, so state size is O(keys)
  * regardless of history length.
  *
  * Input contract: the ledger's delta rows (user_id, event_id, tsu,
  * Δ cents) in time order across micro-batches; within a micro-batch
  * a user's rows sort by (tsu, event_id), matching the batch query's
  * secondary sort.
  *
  * Semantics vs the batch query, pinned by StreamingLedgerSpec: after
  * replaying any prefix of a user's events — one micro-batch or split
  * across many — the LAST emitted row for the user equals the batch
  * query run over that prefix; replaying everything converges to the
  * batch result exactly, clamp counts and absorbed cents included. */
object StreamingLedger {
  import EventQueries.{LedgerIn, LedgerOut}

  /** Per-user recurrence state: the six-long summary. */
  case class LedgerState(b: Long, n: Long, fc: Long, cc: Long, ab: Long)

  /** Fold a stream of delta rows into per-user running summaries.
    * Emits one updated summary per (user, micro-batch) touched. */
  def monitor(evs: Dataset[LedgerIn], cap: Long = 5000L,
      start: Long = 2500L): Dataset[LedgerOut] = {
    import evs.sparkSession.implicits._
    KeyedFold(evs)(_.user_id, Some(Ordering.by(e => (e.tsu, e.event_id)))) {
      (u, it, state: Option[LedgerState]) =>
        val st = it.foldLeft(state.getOrElse(
            LedgerState(start, 0L, 0L, 0L, 0L))) { (st, r) =>
          val raw = st.b + r.d
          val cl = math.max(0L, math.min(cap, raw))
          LedgerState(cl, st.n + 1L,
            st.fc + (if (raw < 0L) 1L else 0L),
            st.cc + (if (raw > cap) 1L else 0L),
            st.ab + math.abs(raw - cl))
        }
        (Some(st), Iterator.single(LedgerOut(u, st.n, st.b, st.fc, st.cc, st.ab)))
    }
  }
}
