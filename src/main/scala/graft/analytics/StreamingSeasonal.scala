package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming seasonally-adjusted anomaly monitor — the incremental
  * twin of [[TsQueries.qTsAnomalySeasonal]]: the batch query flags
  * hours whose count sits more than 3σ from their OWN hour-of-day
  * mean; a live monitor applies the same test the moment an hour
  * closes. The seasonal PROFILE is a parameter in streaming form
  * (monitoring applies a trained profile — here the batch query's
  * exact integer tables: per-hod floor milli-means plus the (n, Σr²)
  * dispersion pair, so the flag is the batch cross-multiplication
  * resid²·n > 9·ssr verbatim, no variance division, no sqrt).
  *
  * Input contract: CLOSED hourly buckets (event_type, bucket_us, x)
  * as an upstream watermarked windowed count emits them — SPARSE.
  * The operator zero-fills interior gaps from its own cursor state,
  * because a quiet-hour OUTAGE is exactly what a seasonal screen
  * must flag (x = 0 against a nonzero hod mean) and the batch series
  * sees those hours as real zero counts. Per-key state: one cursor,
  * O(1).
  *
  * Semantics vs the batch query, pinned by StreamingSeasonalSpec:
  * replaying any hourly series in order — one micro-batch or many —
  * emits exactly the batch query's flagged rows. Hour-of-day is
  * epoch-hours mod 24 (UTC — the session convention both engines
  * pin). */
object StreamingSeasonal {

  /** One closed hourly bucket (sparse — zero hours need no row). */
  case class HourCount(event_type: String, bucket_us: Long, x: Long)

  /** Per-key trained profile: floor milli-mean per hour-of-day plus
    * the dispersion pair the 3σ cross-multiplication needs. */
  case class SeasonalProfile(meanMilliByHod: Map[Long, Long],
      n: Long, ssr: Long)

  /** One flagged hour (emitted only when the 3σ test fires — the
    * batch query's output rows). */
  case class SeasonalFlag(event_type: String, bucket_us: Long, x: Long,
      resid_milli: Long)

  /** Flag a stream of closed hourly buckets against per-key profiles
    * (keys without a profile are ignored). Works on a static Dataset
    * too, which is how the spec cross-checks it against the batch
    * query. */
  def monitor(buckets: Dataset[HourCount],
      profiles: Map[String, SeasonalProfile]): Dataset[SeasonalFlag] = {
    import buckets.sparkSession.implicits._
    import StreamingCusum.{HourUs, walkHours}
    KeyedFold(buckets)(_.event_type, Some(Ordering.by(_.bucket_us))) {
      (et, it, state: Option[Long]) =>
        profiles.get(et) match {
          case None => (state, Iterator.empty)
          case Some(p) =>
            var lastUs = state.getOrElse(Long.MinValue)
            val out = it.flatMap { hc =>
              val flags = walkHours(lastUs, hc.bucket_us, hc.x).flatMap {
                case (t, x) =>
                  p.meanMilliByHod.get((t / HourUs) % 24)
                    .map(mean => SeasonalFlag(et, t, x, x * 1000L - mean))
                    .filter(f => f.resid_milli * f.resid_milli * p.n > 9L * p.ssr)
              }.toList
              // monotonic cursor: a bucket at or before the cursor
              // (out-of-order ACROSS micro-batches — in-batch order
              // is handled by the fold's sort) is DROPPED, never
              // rewinds the cursor — a rewind would re-zero-fill and
              // re-flag hours already processed (duplicate output).
              // Matches [[StreamingCusum]], whose cursor only ever
              // advances inside the fill loop.
              lastUs = math.max(lastUs, hc.bucket_us)
              flags
            }.toList
            (Some(lastUs), out.iterator)
        }
    }
  }
}
