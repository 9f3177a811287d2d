package graft.analytics

import java.sql.Timestamp

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming CDC materialization — the incremental twin of
  * [[CdcQueries.qCdcApply]]: the batch query replays a CLOSED
  * changeset onto a snapshot in one pass; a change feed that never
  * closes (the Debezium/Firehose delivery shape the reference's
  * ingestion protocol implies, app/app.py:60-102) needs the same
  * "current state of every key" maintained continuously. Each key
  * keeps one `(seq, value, deleted, deadline)` state in the
  * [[graft.operators.KeyedFold]] — upserts and deletes apply in
  * sequence order, and each micro-batch emits AT MOST ONE row per
  * changed key (intermediate versions inside a batch collapse —
  * changelog compaction, exactly what an upsert sink wants to receive).
  *
  * Ordering discipline: events carry a per-key monotone `seq` (the
  * log offset every CDC transport provides); an event with
  * `seq ≤ last_seq` is a replay or late straggler and is dropped, so
  * task retries and at-least-once sources cannot regress state.
  * Within a micro-batch a key's events sort by seq (iterator order is
  * not deterministic across Spark task retries; the sort pins
  * replay-identical application).
  *
  * Scale shape: state is O(1) per live key and the shuffle is the
  * single key-hash exchange Structured Streaming already does for
  * stateful operators; emission is the compacted changelog, so
  * downstream writes are bounded by distinct-keys-per-batch, not by
  * event volume. Deletes keep a tombstone (`deleted = true`) rather
  * than clearing state, so a late pre-delete update cannot resurrect
  * the row.
  *
  * TOMBSTONE AGING: a tombstone's deadline is its delete's event time
  * + `horizon`, and once the watermark passes it the tombstone clears
  * SILENTLY: its seq guard disappears and the key's slate is clean —
  * the standard tombstone-GC contract (Cassandra's gc_grace): pick the
  * horizon longer than the transport's reorder window and expiry is
  * safe; a straggler older than the horizon CAN then resurrect, the
  * documented, bounded trade every tombstone collector makes (the
  * alternative — tombstones forever — is an unbounded state leak under
  * key churn). A straggler that arrives in the batch where its
  * tombstone's deadline has just passed still meets the tombstone: the
  * batch's rows apply first, then the tombstone clears. Event time is
  * the RIGHT clock for this: the reorder horizon is a property of the
  * event stream, not of wall-clock processing (a replayed backfill
  * must age tombstones by stream time, not by how fast it replays).
  * Live rows never expire.
  *
  * Semantics vs batch, pinned by StreamingCdcSpec: after any
  * partitioning of the feed into micro-batches, the latest emission
  * per key (tombstones filtered) equals the batch "last writer wins"
  * over the same events — and the state survives checkpoint restart.
  * StreamingCdcTwsSpec pins the watermark-driven tombstone GC and the
  * post-expiry resurrection of a sub-tombstone-seq change. */
object StreamingCdc {

  /** One change event: key, per-key monotone sequence, op U(psert) or
    * D(elete), the new value for upserts, and its stream timestamp
    * (every CDC transport stamps changes; the watermark and the GC
    * horizon ride on it). */
  case class TimedChangeEvent(k: Long, seq: Long, op: String,
      value: Double, ts: Timestamp)

  /** One emitted current-state row (compacted changelog entry). */
  case class CurrentRow(k: Long, seq: Long, value: Double, deleted: Boolean)

  /** Per-key state: the applied seq and value (a tombstone keeps the
    * last pre-delete value), and a tombstone's GC deadline. Public:
    * Spark's state encoder codegen needs an accessible constructor. */
  case class CdcState(seq: Long, value: Double, deleted: Boolean,
      deadline: Long)

  /** Materialize a timestamped change feed with event-time tombstone
    * aging: tombstones clear when the watermark passes their write
    * time + `horizon`. `watermarkDelay` bounds event lateness exactly
    * as in every other watermarked operator here. */
  def materialize(events: Dataset[TimedChangeEvent],
      horizon: java.time.Duration,
      watermarkDelay: String = "10 seconds"): Dataset[CurrentRow] = {
    import events.sparkSession.implicits._
    val horizonMs = horizon.toMillis
    KeyedFold(events.withWatermark("ts", watermarkDelay))(_.k,
        Some(Ordering.by(_.seq)),
        expiry = Some(KeyedFold.Expiry[Long, CdcState, CurrentRow](
          s => if (s.deleted) Some(s.deadline) else None,
          (_, _) => Iterator.empty))) { // GC is silent: not a data change
      (k, it, state: Option[CdcState]) =>
        val prior = state.getOrElse(
          CdcState(Long.MinValue, 0.0, deleted = true, 0L))
        val st = it.foldLeft(prior) { (st, e) =>
          if (e.seq <= st.seq) st
          else if (e.op == "D")
            CdcState(e.seq, st.value, deleted = true, e.ts.getTime + horizonMs)
          else CdcState(e.seq, e.value, deleted = false, 0L)
        }
        if (st eq prior) (state, Iterator.empty)
        else (Some(st),
          Iterator.single(CurrentRow(k, st.seq, st.value, st.deleted)))
    }
  }
}
