package graft.analytics

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The CDC tombstone deadline at the watermark's edge. A micro-batch
  * filters late rows against the PREVIOUS batch's watermark but expires
  * state against the CURRENT one, so when the watermark jumps, rows can
  * meet a tombstone whose deadline is already passed — or write one.
  * Spark rejects a timeout below the watermark; neither case may throw.
  * No-data batches are off here, as in a busy stream whose next batch
  * always carries data: otherwise an extra empty batch would expire the
  * tombstone before the probe rows arrive. */
class StreamingCdcDeadlineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import StreamingCdc.{CurrentRow, TimedChangeEvent}

  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Rows are (k, seq, op, value, seconds after a fixed base); a 5 s
    * horizon and no watermark delay. Returns (k, seq, value, deleted). */
  private def run(batches: Seq[Seq[(Long, Long, String, Double, Long)]])
      : Seq[(Long, Long, Double, Boolean)] = {
    val prior = spark.conf.getOption(noDataKey)
    spark.conf.set(noDataKey, "false")
    try {
      implicit val sc = spark.sqlContext
      val base = 1700000000000L
      val in = MemoryStream[(Long, Long, String, Double, Long)]
      val out = mutable.ArrayBuffer[CurrentRow]()
      val q = StreamingCdc.materialize(
          in.toDS().map { case (k, s, o, v, sec) =>
            TimedChangeEvent(k, s, o, v, new Timestamp(base + sec * 1000L)) },
          java.time.Duration.ofSeconds(5), watermarkDelay = "0 seconds")
        .writeStream.outputMode("append").foreachBatch {
          (df: org.apache.spark.sql.Dataset[CurrentRow], _: Long) =>
            out.synchronized { out ++= df.collect() }
            ()
        }.start()
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
      out.synchronized(out.toSeq).map(r => (r.k, r.seq, r.value, r.deleted))
    } finally prior match {
      case Some(v) => spark.conf.set(noDataKey, v)
      case None => spark.conf.unset(noDataKey)
    }
  }

  test("cdc deadline: a delete whose deadline is already behind the watermark") {
    // key 9 moves the watermark to t=1, then to t=100; key 1's rows at
    // t=50 are not late (the previous watermark is 1) but its delete's
    // deadline, 55, is behind the current one: the delete emits and its
    // tombstone is gone at once, so a later lower-seq upsert applies
    val got = run(Seq(
      Seq((9L, 1L, "U", 0.0, 1L)),
      Seq((9L, 2L, "U", 0.0, 100L)),
      Seq((1L, 10L, "U", 1.0, 50L), (1L, 20L, "D", 0.0, 50L)),
      Seq((1L, 15L, "U", 7.5, 101L))))
    assert(got.filter(_._1 == 1L) ===
      Seq((1L, 20L, 1.0, true), (1L, 15L, 7.5, false)), s"got: $got")
  }

  test("cdc deadline: a straggler in the batch where its tombstone's deadline passed") {
    // key 1's tombstone (t=1) deadlines at t=6; key 9 moves the
    // watermark to t=30. The seq-15 straggler arrives in the first
    // batch run under that watermark: it meets the tombstone and stays
    // suppressed, then the tombstone clears — so the seq-12 upsert of
    // the next batch applies
    val got = run(Seq(
      Seq((1L, 10L, "U", 1.0, 0L), (1L, 20L, "D", 0.0, 1L)),
      Seq((9L, 1L, "U", 0.0, 30L)),
      Seq((1L, 15L, "U", 9.9, 31L)),
      Seq((1L, 12L, "U", 8.8, 32L))))
    assert(got.filter(_._1 == 1L) ===
      Seq((1L, 20L, 1.0, true), (1L, 12L, 8.8, false)), s"got: $got")
  }
}
