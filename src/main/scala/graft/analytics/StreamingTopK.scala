package graft.analytics

import graft.operators.{KeyedFold, SpaceSaving}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode
import scala.collection.mutable

/** Streaming heavy hitters — the incremental twin of the SpaceSaving
  * sketch behind [[RelationalQueries]]' heavy-hitter queries: per
  * group, a bounded `capacity`-counter summary lives as keyed stream
  * state, absorbing each micro-batch through the SAME
  * [[SpaceSaving.reduce]] step the batch Aggregator runs, and every
  * batch emits that group's current top-k estimate (Update-mode
  * semantics: the latest emission per group is the answer so far).
  *
  * The state is O(capacity) per group — NEVER proportional to the
  * key cardinality — which is the entire point: exact streaming
  * top-k would grow per-key state without bound; this carries the
  * classic mergeable-summaries guarantee instead (every estimate an
  * overestimate by at most the evicted minimum, every key with true
  * count > N/capacity guaranteed present). With capacity ≥ the
  * group's distinct-key count no eviction ever happens and the
  * emission is EXACT — the regime StreamingTopKSpec pins against the
  * batch groupBy, one-shot and split. */
object StreamingTopK {

  /** One observation: `group` partitions the state; `key` is counted. */
  case class KeyObs(group: String, key: String)

  /** One group's current top-k estimate (count DESC, key ASC). */
  case class TopKRow(group: String, rank: Int, key: String, est: Long)

  def topK(obs: Dataset[KeyObs], capacity: Int, k: Int)
      : Dataset[TopKRow] = {
    import obs.sparkSession.implicits._
    val ss = new SpaceSaving(capacity)
    KeyedFold(obs)(_.group, mode = OutputMode.Update) {
      (g, it, state: Option[Map[String, Long]]) =>
        val buf = mutable.Map(state.getOrElse(Map.empty[String, Long]).toSeq: _*)
        it.foreach(o => ss.reduce(buf, o.key))
        (Some(buf.toMap), buf.toSeq.sortBy { case (key, v) => (-v, key) }
          .take(k).zipWithIndex.iterator
          .map { case ((key, v), i) => TopKRow(g, i + 1, key, v) })
    }
  }
}
