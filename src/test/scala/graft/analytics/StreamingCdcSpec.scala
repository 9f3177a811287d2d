package graft.analytics

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Streaming CDC materialization: incremental micro-batch application
  * must equal the batch last-writer-wins over the same events, emission
  * must be compacted (one row per changed key per batch), late/replayed
  * events must not regress state, and state must survive a checkpoint
  * restart. Every event carries one timestamp, 5 s after the epoch:
  * inside the default 10 s watermark delay, so the watermark never
  * advances — no event is late and no tombstone expires. The compaction
  * check finds the batch that read its input by the query's progress,
  * not by a batch id a no-data batch could shift. */
class StreamingCdcSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import StreamingCdc.{CurrentRow, TimedChangeEvent}

  private val horizon = java.time.Duration.ofHours(1)
  private val ts0 = 5000L

  /** Batch reference: fold the events in APPLIED order (batches
    * concatenated, seq-sorted within each batch) under the operator's
    * exact rule — an event applies only if its seq exceeds the
    * current state's, upserts set the value, deletes keep the prior
    * value in the tombstone. Mirrors the documented semantics
    * including cross-batch late-drop (a late upsert arriving after a
    * higher-seq delete is DROPPED, not merged). */
  private def reference(applied: Seq[TimedChangeEvent]): Map[Long, CurrentRow] = {
    val st = mutable.Map[Long, (Long, Double, Boolean)]()
    applied.foreach { e =>
      val (seq, v, _) = st.getOrElse(e.k, (Long.MinValue, 0.0, true))
      if (e.seq > seq)
        st(e.k) = (e.seq, if (e.op == "U") e.value else v, e.op == "D")
    }
    st.map { case (k, (seq, v, del)) =>
      k -> CurrentRow(k, seq, v, del)
    }.toMap
  }

  test("streaming cdc: micro-batch materialization ≡ batch last-writer-wins") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val emitted = mutable.ArrayBuffer[(Long, CurrentRow)]()
    // local val, not the spec's field: the map closure must not capture
    // the (non-serializable) ScalaTest suite
    val t0 = ts0
    val q = StreamingCdc.materialize(
        in.toDS().map { case (k, s, o, v) =>
          TimedChangeEvent(k, s, o, v, new Timestamp(t0)) }, horizon)
      .writeStream.outputMode("append").foreachBatch {
        (df: org.apache.spark.sql.Dataset[CurrentRow], bid: Long) =>
          emitted.synchronized { emitted ++= df.collect().map(bid -> _) }
          ()
      }.start()
    // batch 1: inserts + key 4's upsert-then-delete; batch 2: updates,
    // a delete, an intra-batch double-update on key 1 (must compact to
    // ONE emission), and key 4's LATE upsert (seq 15 < its delete's 20
    // — must be dropped, NOT resurrect the row); batch 3: a late
    // straggler (seq below key 2's state — must be dropped) and a
    // post-delete update on key 3 (higher seq — must resurrect)
    val b1 = Seq((1L, 10L, "U", 1.0), (2L, 11L, "U", 2.0), (3L, 12L, "U", 3.0),
      (4L, 10L, "U", 4.0), (4L, 20L, "D", 0.0))
    val b2 = Seq((1L, 20L, "U", 1.5), (1L, 21L, "U", 1.7), (3L, 22L, "D", 0.0),
      (4L, 15L, "U", 7.0))
    val b3 = Seq((2L, 5L, "U", 99.0), (3L, 30L, "U", 3.5))
    // the id of the batch that read each input: the latest one with rows
    val dataBatch = Seq(b1, b2, b3).map { b =>
      in.addData(b)
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0).last.batchId
    }
    q.stop()
    // reference replays in APPLIED order: per batch, seq-sorted
    val applied = Seq(b1, b2, b3).flatMap(_.map { case (k, s, o, v) =>
      TimedChangeEvent(k, s, o, v, new Timestamp(ts0)) }.sortBy(_.seq))
    val want = reference(applied)
    // latest emission per key == batch reference
    val got = emitted.synchronized {
      emitted.groupBy(_._2.k)
        .map { case (k, es) => k -> es.maxBy(_._2.seq)._2 }
    }
    assert(got === want)
    // compaction: key 1 emitted ONCE in batch 2 (two updates collapsed)
    val key1Batch2 = emitted.synchronized(
      emitted.filter(e => e._2.k == 1L && e._1 == dataBatch(1)))
    assert(key1Batch2.size === 1, s"not compacted: $key1Batch2")
    assert(key1Batch2.head._2.value === 1.7)
    // late straggler dropped: key 2 never re-emitted after batch 1
    assert(emitted.synchronized(
      emitted.count(_._2.k == 2L)) === 1, "stale seq must not re-emit")
    // tombstone then resurrection: key 3's final row is live at 3.5
    assert(got(3L) === CurrentRow(3L, 30L, 3.5, deleted = false))
    // late-upsert-after-delete stays dead: key 4's batch-2 event is
    // below its tombstone seq, so batch 2 emits NOTHING for it and
    // the tombstone keeps the pre-delete value
    assert(emitted.synchronized(emitted.count(_._2.k == 4L)) === 1,
      "a sub-tombstone upsert must not re-emit")
    assert(got(4L) === CurrentRow(4L, 20L, 4.0, deleted = true))
  }

  test("streaming cdc: batching-invariance on randomized event logs") {
    // the operator's core claim is that ANY partitioning of the feed
    // into micro-batches converges to the same per-key state; sweep
    // deterministic pseudo-random logs (keys collide, seqs collide
    // across keys, deletes interleave, stragglers arrive late) split
    // 1 / 2 / 4 ways and pin each against the applied-order reference
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(20240814L)
    for (trial <- 1 to 3; nBatches <- Seq(1, 2, 4)) {
      // seqs: a shuffled permutation — unique per key by construction
      // (equal seqs on one key would make the winner iterator-order-
      // dependent in both operator and reference, an undefined input
      // the transport's monotone offsets rule out anyway); shuffling
      // makes late stragglers arrive across batch boundaries naturally
      val seqs = rnd.shuffle((1 to 40).toList)
      val events = seqs.map(sq => TimedChangeEvent(
        k = rnd.nextInt(6).toLong,
        seq = sq.toLong,
        op = if (rnd.nextInt(4) == 0) "D" else "U",
        value = rnd.nextInt(100).toDouble,
        ts = new Timestamp(ts0)))
      val batches = events.grouped(
        math.max(1, events.length / nBatches)).toSeq
      val in = MemoryStream[(Long, Long, String, Double)]
      val emitted = mutable.ArrayBuffer[CurrentRow]()
      val t0 = ts0
      val q = StreamingCdc.materialize(
          in.toDS().map { case (k, s, o, v) =>
            TimedChangeEvent(k, s, o, v, new Timestamp(t0)) }, horizon)
        .writeStream.outputMode("append").foreachBatch {
          (df: org.apache.spark.sql.Dataset[CurrentRow], _: Long) =>
            emitted.synchronized { emitted ++= df.collect() }
            ()
        }.start()
      batches.foreach { b =>
        in.addData(b.map(e => (e.k, e.seq, e.op, e.value)))
        q.processAllAvailable()
      }
      q.stop()
      val applied = batches.flatMap(_.sortBy(_.seq))
      val got = emitted.synchronized {
        emitted.groupBy(_.k).map { case (k, es) => k -> es.maxBy(_.seq) }
      }
      assert(got === reference(applied),
        s"trial $trial split $nBatches diverged from applied-order fold")
    }
  }

  test("streaming cdc: state survives a checkpoint restart") {
    val inDir = java.nio.file.Files.createTempDirectory("cdc_in")
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    val emitted = mutable.ArrayBuffer[CurrentRow]()
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("k BIGINT, seq BIGINT, op STRING, value DOUBLE")
        .json(inDir.toString)
        .withColumn("ts", lit(new Timestamp(ts0))).as[TimedChangeEvent]
      val q = StreamingCdc.materialize(src, horizon)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[CurrentRow], _: Long) =>
            emitted.synchronized { emitted ++= df.collect() }
            ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(inDir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    writeFile("b1.json", Seq(
      """{"k":1,"seq":10,"op":"U","value":1.0}""",
      """{"k":2,"seq":11,"op":"U","value":2.0}"""))
    runOnce()
    // second run resumes from the checkpoint: a genuine update applies
    writeFile("b2.json", Seq(
      """{"k":1,"seq":20,"op":"U","value":1.9}"""))
    runOnce()
    // third run delivers ONLY a stale replay of key 2 (its exact
    // original seq) — the decisive restore probe: with restored state
    // the event is suppressed and NOTHING emits; a silently-empty
    // state store would apply it and emit value 888. (A stale event
    // sharing a batch with a genuine one is undetectable — compaction
    // collapses both cases to the same output — so it must ride alone.)
    writeFile("b3.json", Seq(
      """{"k":2,"seq":11,"op":"U","value":888.0}"""))
    runOnce()
    val finalRows = emitted.synchronized(
      emitted.groupBy(_.k).map { case (k, es) => k -> es.maxBy(_.seq) })
    assert(finalRows(1L) === CurrentRow(1L, 20L, 1.9, deleted = false))
    assert(finalRows(2L) === CurrentRow(2L, 11L, 2.0, deleted = false))
    assert(emitted.synchronized(!emitted.exists(_.value == 888.0)),
      "restored state failed to suppress a replayed event")
    assert(emitted.synchronized(emitted.count(_.k == 2L)) === 1,
      "the stale-only batch must emit nothing for key 2")
  }
}
