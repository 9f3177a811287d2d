package graft.analytics

import org.apache.spark.sql.Dataset
import graft.operators.KeyedFold

/** Streaming spike detection — the incremental twin of
  * [[EventQueries.qEventsAnomaly]]: the batch query scores each hourly
  * bucket against the trailing 24 OBSERVED buckets with an exact
  * integer 2σ test; a live monitor needs the same flag the moment an
  * hour closes. The trailing frame is exactly the bounded per-key
  * state a stream carries: a FIFO of the last ≤24 hourly counts per
  * event type, nothing else.
  *
  * Input contract: CLOSED hourly buckets (event_type, bucket_us, n) —
  * the upstream windowed count with a watermark emits exactly these
  * (the same pre-aggregated-input contract as [[StreamingPack]]).
  * Within a micro-batch a type's buckets sort by bucket_us; the FIFO
  * carries across micro-batches and checkpoint restarts.
  *
  * Semantics vs the batch query, pinned by StreamingAnomalySpec:
  * replaying any hourly series in order — one micro-batch or split
  * across many — emits exactly the batch rows: same 24-observed-
  * bucket warmup (no emission before the frame fills), same exact
  * BIGINT cross-multiplied variance test, same floor mean_micro. */
object StreamingAnomaly {

  /** One closed hourly bucket. */
  case class HourCount(event_type: String, bucket_us: Long, n: Long)

  /** One scored bucket (emitted only once the 24-bucket frame is
    * full — the batch query's `m = 24` filter). */
  case class AnomalyFlag(event_type: String, bucket_us: Long, n: Long,
      mean_micro: Long, is_anomaly: Boolean)

  /** Score a stream of closed hourly buckets. Works on a static
    * Dataset too (one "batch" per type), which is how the spec
    * cross-checks it against the batch window query. */
  def monitor(counts: Dataset[HourCount]): Dataset[AnomalyFlag] = {
    import counts.sparkSession.implicits._
    KeyedFold(counts)(_.event_type, Some(Ordering.by(_.bucket_us))) {
      (et, it, state: Option[Seq[Long]]) =>
        var ring = state.getOrElse(Seq.empty[Long])
        val out = it.flatMap { hc =>
          val emitted =
            if (ring.size == 24) {
              // the batch query's exact integer algebra, verbatim:
              // |n − s1/m| > 2σ cross-multiplied to BIGINTs
              val m = 24L
              val s1 = ring.sum
              val s2 = ring.iterator.map(x => x * x).sum
              val lhs = (m * hc.n - s1) * (m * hc.n - s1) * (m - 1)
              val rhs = 4L * m * (m * s2 - s1 * s1)
              Seq(AnomalyFlag(et, hc.bucket_us, hc.n,
                s1 * 1000000L / m, lhs > rhs))
            } else Nil
          ring = (ring :+ hc.n).takeRight(24)
          emitted
        }.toList
        (Some(ring), out.iterator)
    }
  }
}
