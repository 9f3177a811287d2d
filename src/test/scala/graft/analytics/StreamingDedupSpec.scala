package graft.analytics

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.collection.mutable

/** Streaming exact dedup: first occurrence per key passes through,
  * in-horizon duplicates drop (also across micro-batch boundaries),
  * and a post-horizon duplicate re-emits — the bounded-state contract
  * stated by StreamingDedup's scaladoc, pinned here. */
class StreamingDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, value: Double)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runStream(batches: Seq[Seq[Ev]]): Seq[(Long, Long)] = {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = mutable.ArrayBuffer[(Long, Long)]()
    val q = StreamingDedup.dedup(in.toDF())
      .selectExpr("event_id", "unix_micros(ts)")
      .writeStream.outputMode("append").foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
          out.synchronized { out ++= rows }
          ()
      }.start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    out.synchronized(out.toSeq)
  }

  test("one-shot replay with duplicates ≡ batch first-occurrence set") {
    val base = (0L until 50L).map(i =>
      Ev(i % 20L, ts("2024-01-01 10:00:00"), i.toDouble))
    val got = runStream(Seq(base))
    assert(got.map(_._1).sorted === (0L until 20L))
  }

  test("duplicate across micro-batches inside the horizon is dropped") {
    val b1 = Seq(Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
      Ev(2L, ts("2024-01-01 10:10:00"), 2.0))
    // same keys again 30 min later — watermark is 08:10 (2h), both
    // keys still in state, nothing re-emits
    val b2 = Seq(Ev(1L, ts("2024-01-01 10:40:00"), 3.0),
      Ev(2L, ts("2024-01-01 10:41:00"), 4.0),
      Ev(3L, ts("2024-01-01 10:42:00"), 5.0))
    val got = runStream(Seq(b1, b2))
    assert(got.map(_._1).sorted === Seq(1L, 2L, 3L))
    // the surviving row per key is the FIRST occurrence
    assert(got.toMap.apply(1L) === ts("2024-01-01 10:00:00").getTime * 1000)
  }

  test("post-horizon duplicate re-emits: the bounded-state contract") {
    val b1 = Seq(Ev(1L, ts("2024-01-01 10:00:00"), 1.0))
    // advance the watermark far past 10:00 + 2h so key 1 ages out
    val b2 = Seq(Ev(2L, ts("2024-01-01 20:00:00"), 2.0))
    // key 1 again, event-time past the aged-out horizon: re-emits
    val b3 = Seq(Ev(1L, ts("2024-01-01 20:30:00"), 3.0))
    val got = runStream(Seq(b1, b2, b3))
    assert(got.count(_._1 == 1L) === 2,
      s"aged-out key must re-emit once readmitted: $got")
  }
}
