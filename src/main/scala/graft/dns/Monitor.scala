package graft.dns

import graft.operators.KeyedFold
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-client response-code monitoring over the DNS stream — the SIEM
  * question downstream consumers of these logs actually ask: a client
  * suddenly resolving many NXDOMAINs is the classic DGA-malware /
  * exfiltration beacon signal.
  *
  * A keyed fold ([[graft.operators.KeyedFold]]) over a
  * `Map[rcode, count]` state per client — one map entry per (active
  * client, distinct rcode; the rcode alphabet is ~10 values). The
  * counts are order-free, so no in-batch order is imposed, and they
  * survive micro-batch boundaries and checkpointed query restarts on
  * the default state store.
  *
  * State bound: one map per client that ever queried, kept for the
  * life of the query — there is no idle-client expiry. The fold needs
  * no particular state store and no time mode, so every trigger works,
  * `Trigger.AvailableNow` included.
  *
  * Emission contract (deterministic, testable): an alert row is
  * emitted for a client each micro-batch in which its NXDOMAIN
  * counter is at or above `threshold` after that batch's updates —
  * a monitoring signal, not a deduplicated incident stream (the
  * incident roll-up is a downstream concern).
  */
object Monitor {

  final case class RcodeAlert(
      srcaddr: String, nxdomain: Long, total: Long)

  /** NXDOMAIN burst alerts over clean decoded records
    * (`Pipeline.decodedRecords` filtered to `reason IS NULL`). */
  def nxdomainAlerts(cleanRecords: DataFrame,
      threshold: Long): Dataset[RcodeAlert] = {
    val spark = cleanRecords.sparkSession
    import spark.implicits._
    val rcodes = Decode.projectDnsFields(cleanRecords)
      .select(col("srcaddr"), col("rcode"))
      .as[(String, String)]
    KeyedFold(rcodes)(_._1) { (key, it, state: Option[Map[String, Long]]) =>
      val counts = it.foldLeft(state.getOrElse(Map.empty[String, Long])) {
        case (m, (_, rcode)) => m.updated(rcode, m.getOrElse(rcode, 0L) + 1L)
      }
      val nx = counts.getOrElse("NXDOMAIN", 0L)
      val alerts =
        if (nx < threshold) Iterator.empty
        else Iterator.single(RcodeAlert(key, nx, counts.values.sum))
      (Some(counts), alerts)
    }
  }
}
