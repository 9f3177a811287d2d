package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming CUSUM level-shift monitor — the incremental twin of
  * [[TsQueries.qTsCusum]]: the batch query scans the zero-filled
  * hourly series and reports the hour where the cumulative deviation
  * from the series mean peaks; a live monitor needs the same running
  * statistic updated the moment an hour closes. CUSUM's reference
  * level is a PARAMETER in streaming form (the classical chart runs
  * against a target μ₀ fixed by calibration — here the batch query's
  * exact rational mean, carried as the integer pair (n_ref,
  * total_ref) so cum accumulates n_ref·x − total_ref in exact
  * BIGINTs, the batch algebra verbatim).
  *
  * Input contract: CLOSED hourly buckets (event_type, bucket_us, x)
  * as an upstream watermarked windowed count emits them — SPARSE:
  * absent hours are absent rows. The operator zero-fills interior
  * gaps from its own state (`lastUs` cursor), because a sustained
  * outage IS a level shift and the batch series sees those hours as
  * real zero counts — so per-key state is (cursor, cum, running
  * argmax), O(1).
  *
  * Semantics vs the batch query, pinned by StreamingCusumSpec:
  * replaying any hourly series in order — one micro-batch or many —
  * leaves the running peak exactly at the batch query's
  * (peak_h, cusum_peak) row; ties keep the EARLIEST hour (strict
  * `>` on |cum|), the batch min-hour argmax rule. */
object StreamingCusum {

  /** One closed hourly bucket (sparse — zero hours need no row). */
  case class HourCount(event_type: String, bucket_us: Long, x: Long)

  /** Per-key reference level: the exact rational mean total/n. */
  case class CusumRef(n_ref: Long, total_ref: Long)

  /** One scored hour: the running CUSUM and the running peak. */
  case class CusumPoint(event_type: String, bucket_us: Long, x: Long,
      cum: Long, peak_us: Long, cusum_peak: Long)

  /** Per-key carried state: gap cursor, running CUSUM, running
    * argmax (abs, hour, signed value). Public: Spark's state encoder
    * codegen needs an accessible constructor. */
  case class CusumState(lastUs: Long, cum: Long, bestAbs: Long,
      bestUs: Long, bestCum: Long)

  private[analytics] val HourUs = 3600000000L

  /** The zero-filled hourly walk CUSUM and [[StreamingSeasonal]]
    * share: (hour, count) for every hour after the cursor `lastUs` up
    * to the bucket's own hour — the bucket's count there, 0 in the gap
    * hours. A fresh key (`lastUs == Long.MinValue`) starts at the
    * bucket itself; a bucket at or before the cursor walks no hour. */
  private[analytics] def walkHours(lastUs: Long, bucketUs: Long,
      x: Long): Iterator[(Long, Long)] =
    Iterator.iterate(if (lastUs == Long.MinValue) bucketUs else lastUs + HourUs)(
      _ + HourUs).takeWhile(_ <= bucketUs)
      .map(t => (t, if (t == bucketUs) x else 0L))

  /** Score a stream of closed hourly buckets against per-key
    * reference levels (keys without a reference are ignored). Works
    * on a static Dataset too, which is how the spec cross-checks it
    * against the batch query. */
  def monitor(buckets: Dataset[HourCount],
      refs: Map[String, CusumRef]): Dataset[CusumPoint] = {
    import buckets.sparkSession.implicits._
    KeyedFold(buckets)(_.event_type, Some(Ordering.by(_.bucket_us))) {
      (et, it, state: Option[CusumState]) =>
        refs.get(et) match {
          case None => (state, Iterator.empty)
          case Some(CusumRef(nRef, totRef)) =>
            var st = state
              .getOrElse(CusumState(Long.MinValue, 0L, -1L, Long.MinValue, 0L))
            val out = it.flatMap { hc =>
              walkHours(st.lastUs, hc.bucket_us, hc.x).map { case (t, x) =>
                val cum = st.cum + nRef * x - totRef
                val abs = math.abs(cum)
                st =
                  if (abs > st.bestAbs) CusumState(t, cum, abs, t, cum)
                  else CusumState(t, cum, st.bestAbs, st.bestUs, st.bestCum)
                CusumPoint(et, t, x, cum, st.bestUs, st.bestCum)
              }
            }.toList
            (Some(st), out.iterator)
        }
    }
  }
}
