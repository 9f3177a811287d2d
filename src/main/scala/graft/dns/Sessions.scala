package graft.dns

import graft.operators.KeyedFold
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Per-client sessionization over the DNS stream — a gap-session fold
  * on the keyed-fold kernel ([[graft.operators.KeyedFold]]) plus the
  * built-in `session_window` equivalent for the plain gap-session
  * case.
  *
  * State is bounded by watermark + event-time timeout: a session closes
  * when the gap elapses (relative to the event-time watermark), emits
  * once in Append mode, and its state is freed — the 100 TB posture is
  * one state entry per active client, not per event.
  */
object Sessions {

  final case class SessionUpdate(
      srcaddr: String,
      session_start: Timestamp,
      session_end: Timestamp,
      n_queries: Long)

  /** Public: the state encoder's generated code instantiates it. */
  final case class SessionState(start: Long, last: Long, n: Long)

  private def closed(key: String, s: SessionState): SessionUpdate =
    SessionUpdate(key, new Timestamp(s.start), new Timestamp(s.last), s.n)

  /** Gap-based sessions via custom state. Input: clean decoded records
    * (Pipeline.decodedRecords filtered to reason IS NULL). Each batch
    * feeds a client's event times, in order, into its open session,
    * closing it whenever the gap elapses; the open session's deadline
    * is its last event + the gap. */
  def sessionize(cleanRecords: DataFrame, gapSeconds: Long,
      watermarkDelay: String = "10 minutes"): Dataset[SessionUpdate] = {
    val spark = cleanRecords.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000L
    val events = Decode.projectDnsFields(cleanRecords)
      .withWatermark("query_ts", watermarkDelay)
      .select(col("srcaddr"), col("query_ts"))
      .as[(String, Timestamp)]
    KeyedFold(events)(_._1, Some(Ordering.by(_._2.getTime)),
        expiry = Some(KeyedFold.Expiry[String, SessionState, SessionUpdate](
          s => Some(s.last + gapMs),
          (key, s) => Iterator.single(closed(key, s))))) {
      (key, it, open: Option[SessionState]) =>
        var cur = open
        val done = it.map(_._2.getTime).flatMap { t =>
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
              None
            case prev =>
              cur = Some(SessionState(t, t, 1))
              prev.map(closed(key, _))
          }
        }.toList
        (cur, done.iterator)
    }
  }

  /** Same sessions via the built-in `session_window` — the
    * compose-existing-ops path when no custom per-session logic is
    * needed. */
  def sessionWindows(cleanRecords: DataFrame, gap: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    Decode.projectDnsFields(cleanRecords)
      .withWatermark("query_ts", watermarkDelay)
      .groupBy(session_window(col("query_ts"), gap), col("srcaddr"))
      .agg(count(lit(1)).as("n_queries"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("srcaddr"), col("n_queries"))
}
