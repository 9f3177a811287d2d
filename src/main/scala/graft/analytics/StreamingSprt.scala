package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming sequential test — the live form of
  * [[RelationalQueries.qStatsSprt]], which is where an SPRT belongs
  * in production: the whole point of Wald's test is to STOP THE
  * EXPERIMENT EARLY, which requires watching the boundary as events
  * arrive, not after the fact. Per stream the state is four longs
  * (observations, successes, frozen stop index, frozen stop LLR);
  * the LLR walk uses the batch query's exact micro-scaled integer
  * constants, so there is no floating-point accumulation here either.
  *
  * Emission: one status row per (stream, micro-batch) — the running
  * totals plus the FROZEN stop point once a boundary is crossed
  * (later events keep counting into n_total but never move the
  * verdict, matching the batch query's semantics on a completed
  * stream). The LAST row per stream after a full replay equals the
  * batch row exactly — pinned by StreamingSprtSpec. */
object StreamingSprt {

  /** One Bernoulli observation in a named stream. */
  case class SprtObs(event_type: String, tsu: Long, event_id: Long,
      succ: Long)

  /** Running test status (the batch query's output row shape). */
  case class SprtStatus(event_type: String, n_total: Long,
      stopped: Boolean, stop_n: Long, llr_micro: Long, decision: String)

  /** (observations, successes, stopN or -1, frozen stop LLR). */
  case class SprtState(n: Long, s: Long, stopN: Long, stopLlr: Long)

  val UP = 2944439L
  val LO = -2944439L
  val WIN = 200671L
  val LOSS = -50010L

  def monitor(obs: Dataset[SprtObs]): Dataset[SprtStatus] = {
    import obs.sparkSession.implicits._
    KeyedFold(obs)(_.event_type, Some(Ordering.by(o => (o.tsu, o.event_id)))) {
      (et, it, state: Option[SprtState]) =>
        val st = it.foldLeft(state.getOrElse(SprtState(0L, 0L, -1L, 0L))) {
          (st, o) =>
            val n = st.n + 1L
            val s = st.s + o.succ
            if (st.stopN >= 0L) SprtState(n, s, st.stopN, st.stopLlr)
            else {
              val llr = s * WIN + (n - s) * LOSS
              if (llr >= UP || llr <= LO) SprtState(n, s, n, llr)
              else SprtState(n, s, -1L, 0L)
            }
        }
        val stopped = st.stopN >= 0L
        val llr = if (stopped) st.stopLlr
                  else st.s * WIN + (st.n - st.s) * LOSS
        val dec = if (llr >= UP) "H1"
                  else if (llr <= LO) "H0" else "continue"
        (Some(st), Iterator.single(SprtStatus(et, st.n, stopped,
          if (stopped) st.stopN else st.n, llr, dec)))
    }
  }
}
