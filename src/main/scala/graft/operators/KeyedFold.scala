package graft.operators

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed fold behind every stateful streaming operator: rows
  * group by key, and each micro-batch folds a key's rows through the
  * state that key carries across micro-batches and checkpoint restarts
  * (`flatMapGroupsWithState`). A caller writes only the fold step; the
  * policy every operator shares lives here once:
  *
  *  - In-batch ORDER. A key's group iterator is not deterministic
  *    across task retries, so a fold whose answer depends on order
  *    passes a TOTAL order and the batch's rows arrive sorted by it —
  *    replay-identical output. An order-free fold passes none and
  *    streams the iterator unmaterialized.
  *  - One state read and one write per call. `step` sees the carried
  *    state (None for a fresh key) and returns the state to keep, or
  *    None to drop it; it must consume its rows before returning.
  *  - An optional event-time EXPIRY. A kept state with a deadline
  *    times out once the watermark passes it, and `close` emits its
  *    final rows. Spark rejects a timeout below the current watermark
  *    and drops a timeout a call does not set again, so every call
  *    sets it again and a state whose deadline is already at or below
  *    the watermark closes at once, after the batch's rows were
  *    applied to it. The input must carry a watermark.
  *
  * Works on a static Dataset too (one "batch" per key) when no expiry
  * is given. */
private[graft] object KeyedFold {

  /** The event-time deadline of a kept state (None: the state never
    * expires) and the rows a state emits when it expires. */
  final case class Expiry[K, S, O](deadline: S => Option[Long],
      close: (K, S) => Iterator[O])

  def apply[V, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[V])(
      key: V => K, order: Option[Ordering[V]] = None,
      mode: OutputMode = OutputMode.Append,
      expiry: Option[Expiry[K, S, O]] = None)(
      step: (K, Iterator[V], Option[S]) => (Option[S], Iterator[O]))
      : Dataset[O] = {
    val timeout =
      if (expiry.isEmpty) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.EventTimeTimeout
    rows.groupByKey(key).flatMapGroupsWithState[S, O](mode, timeout) {
      (k: K, it: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          expiry.get.close(k, s)
        } else {
          val in = order.fold(it)(o => it.toSeq.sorted(o).iterator)
          val (next, out) = step(k, in, state.getOption)
          next match {
            case None =>
              if (state.exists) state.remove()
              out
            case Some(s) =>
              val deadline = expiry.flatMap(_.deadline(s))
              if (deadline.exists(_ <= state.getCurrentWatermarkMs())) {
                if (state.exists) state.remove()
                out ++ expiry.get.close(k, s)
              } else {
                state.update(s)
                deadline.foreach(state.setTimeoutTimestamp)
                out
              }
          }
        }
    }
  }
}
