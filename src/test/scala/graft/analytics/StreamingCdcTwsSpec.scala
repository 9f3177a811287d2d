package graft.analytics

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The transformWithState CDC materializer: inside the tombstone
  * horizon it must agree with the flatMapGroupsWithState variant, and
  * once the WATERMARK passes a tombstone's write time + horizon the
  * timer must clear it silently, releasing its seq guard
  * (post-expiry resurrection — the documented tombstone-GC trade). */
class StreamingCdcTwsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import StreamingCdc.CurrentRow
  import StreamingCdc.TimedChangeEvent

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[A](body: => A): A = {
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksDb)
    try body finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def run(horizon: java.time.Duration,
      batches: Seq[Seq[(Long, Long, String, Double, Long)]])
      : Seq[CurrentRow] = withRocksDb {
    implicit val sc = spark.sqlContext
    // local val, not a spec method: the map closure must not capture
    // the (non-serializable) ScalaTest suite
    val base = 1700000000000L
    val in = MemoryStream[(Long, Long, String, Double, Long)]
    val out = mutable.ArrayBuffer[CurrentRow]()
    val q = StreamingCdc.materialize(
        in.toDS().map { case (k, s, o, v, sec) =>
          TimedChangeEvent(k, s, o, v, new Timestamp(base + sec * 1000L)) },
        horizon, watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").foreachBatch {
        (df: org.apache.spark.sql.Dataset[CurrentRow], _: Long) =>
          out.synchronized { out ++= df.collect() }
          ()
      }.start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    out.synchronized(out.toSeq)
  }

  test("tws cdc: agrees with the fMGWS variant inside the horizon") {
    // the StreamingCdcSpec fixture verbatim (incl. key 4's
    // late-upsert-after-delete), hour-long horizon over a seconds-long
    // stream: no tombstone can expire, so the emissions must be the
    // fMGWS variant's exactly
    val b1 = Seq((1L, 10L, "U", 1.0, 0L), (2L, 11L, "U", 2.0, 0L),
      (3L, 12L, "U", 3.0, 1L), (4L, 10L, "U", 4.0, 1L),
      (4L, 20L, "D", 0.0, 2L))
    val b2 = Seq((1L, 20L, "U", 1.5, 3L), (1L, 21L, "U", 1.7, 3L),
      (3L, 22L, "D", 0.0, 4L), (4L, 15L, "U", 7.0, 4L))
    val b3 = Seq((2L, 5L, "U", 99.0, 5L), (3L, 30L, "U", 3.5, 5L))
    val got = run(java.time.Duration.ofHours(1), Seq(b1, b2, b3))
    val byKey = got.groupBy(_.k).map { case (k, es) => k -> es.maxBy(_.seq) }
    assert(byKey(1L) === CurrentRow(1L, 21L, 1.7, deleted = false))
    assert(byKey(2L) === CurrentRow(2L, 11L, 2.0, deleted = false))
    assert(byKey(3L) === CurrentRow(3L, 30L, 3.5, deleted = false))
    assert(byKey(4L) === CurrentRow(4L, 20L, 4.0, deleted = true))
    assert(got.count(_.k == 4L) === 1, "sub-tombstone upsert must not emit")
    assert(got.count(_.k == 2L) === 1, "stale straggler must not emit")
  }

  test("tws cdc: the watermark expires a tombstone and releases its seq guard") {
    // horizon 5 s: key 1's tombstone (written at t=1) deadlines at
    // t=6; key 2 is the in-horizon control — its sub-tombstone upsert
    // rides the SAME batch as the delete and must stay suppressed.
    // Filler events on key 9 advance the watermark past the deadline
    // (two batches: the watermark advances after a batch, timers fire
    // in the next), then the probe re-sends key 1 a LOWER-seq change
    // with a fresh timestamp — a republished old change. With the
    // tombstone collected, it applies: bounded resurrection, the
    // contract's documented trade.
    val got = run(java.time.Duration.ofSeconds(5),
      Seq(
        Seq((1L, 10L, "U", 1.0, 0L), (1L, 20L, "D", 0.0, 1L),
          (2L, 10L, "U", 2.0, 0L), (2L, 20L, "D", 0.0, 1L),
          (2L, 15L, "U", 9.9, 1L)),
        Seq((9L, 1L, "U", 0.0, 30L)),
        Seq((9L, 2L, "U", 0.0, 31L)),
        Seq((1L, 15L, "U", 7.5, 32L))))
    // control: key 2's in-horizon sub-tombstone upsert was suppressed
    val k2 = got.filter(_.k == 2L)
    assert(k2.map(r => (r.seq, r.deleted)) === Seq((20L, true)),
      s"in-horizon guard failed: $k2")
    // probe: key 1's post-expiry change resurrected the row — its
    // emission ORDER is delete then (lower-seq!) resurrection, which
    // is exactly what distinguishes expiry from ordinary supersession
    assert(got.filter(_.k == 1L).map(r => (r.seq, r.value, r.deleted)) ===
      Seq((20L, 1.0, true), (15L, 7.5, false)),
      s"expired tombstone must release its seq guard: $got")
  }
}
