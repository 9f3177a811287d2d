package graft.dns

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.util.Base64
import scala.collection.mutable

/** Custom-state sessionization specs: gap-close within a batch,
  * timeout-close via watermark advancement, and agreement with the
  * built-in session_window on the same data. */
class SessionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def record(src: String, ts: String,
      rcode: String = "NOERROR"): String =
    s"""{"version":"1","account_id":"a","region":"r","vpc_id":"v",
       |"query_timestamp":"$ts","query_name":"q.example.","query_type":"A",
       |"query_class":"IN","rcode":"$rcode","answers":[],
       |"srcaddr":"$src","srcport":"1","transport":"UDP",
       |"srcids":{"instance":"i"}}""".stripMargin.replaceAll("\n", "")

  private def envelope(id: String, recs: String*): String =
    s"""{"requestId":"$id","records":[${
      recs.map(r => s"""{"data":"${b64(r)}"}""").mkString(",")}]}"""

  test("flatMapGroupsWithState: gap closes a session, watermark flushes") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val clean = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
    val sessions = Sessions.sessionize(clean, gapSeconds = 60,
      watermarkDelay = "0 seconds")
    val collected = mutable.ArrayBuffer[Sessions.SessionUpdate]()
    val q = sessions.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[Sessions.SessionUpdate], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
    }.start()

    // client A: two bursts separated by > gap → first closes in-batch
    stream.addData(envelope("s0",
      record("10.0.0.1", "2023-10-15T14:00:00Z"),
      record("10.0.0.1", "2023-10-15T14:00:30Z"),
      record("10.0.0.1", "2023-10-15T14:05:00Z")))
    q.processAllAvailable()
    // push watermark far past the gap → second session times out
    stream.addData(envelope("s1", record("10.0.0.9", "2023-10-15T15:00:00Z")))
    q.processAllAvailable()
    stream.addData(envelope("s2", record("10.0.0.9", "2023-10-15T16:00:00Z")))
    q.processAllAvailable()
    q.stop()

    val byStart = collected.synchronized {
      collected.filter(_.srcaddr == "10.0.0.1").sortBy(_.session_start.getTime)
    }
    assert(byStart.map(s => (s.session_start.toString, s.session_end.toString,
      s.n_queries)) === Seq(
      ("2023-10-15 14:00:00.0", "2023-10-15 14:00:30.0", 2L),
      ("2023-10-15 14:05:00.0", "2023-10-15 14:05:00.0", 1L)))
  }

  test("nxdomain monitor: MapState counts cross batches, threshold gates alerts") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // ProcessingTime time-mode queries re-trigger continuously under
      // the default trigger (TTL bookkeeping marks work pending), so
      // processAllAvailable never settles; run each phase with
      // Trigger.AvailableNow against a FIXED checkpoint instead —
      // which also proves the MapState counts survive a full query
      // restart, not just a batch boundary.
      val stream = MemoryStream[String]
      val clean = Pipeline.decodedRecords(
        Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
      val alerts = Monitor.nxdomainAlerts(clean, threshold = 3)
      val ckpt = java.nio.file.Files.createTempDirectory("monckpt").toString
      val collected = mutable.ArrayBuffer[Monitor.RcodeAlert]()
      def runOnce(): Unit = {
        val q = alerts.writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[Monitor.RcodeAlert], _: Long) =>
              collected.synchronized { collected ++= df.collect() }
              ()
          }.start()
        q.awaitTermination()
      }
      // run 1: 2 NXDOMAIN + 1 NOERROR for .1 (below threshold),
      // 1 NXDOMAIN for .2 — no alerts yet
      stream.addData(envelope("m0",
        record("10.0.0.1", "2023-10-15T14:00:00Z", "NXDOMAIN"),
        record("10.0.0.1", "2023-10-15T14:00:01Z", "NXDOMAIN"),
        record("10.0.0.1", "2023-10-15T14:00:02Z"),
        record("10.0.0.2", "2023-10-15T14:00:03Z", "NXDOMAIN")))
      runOnce()
      val afterRun1 = collected.synchronized(collected.toList)
      // run 2 (fresh query, same checkpoint): a third NXDOMAIN for .1 —
      // counts must have survived the restart in MapState; .2 quiet
      stream.addData(envelope("m1",
        record("10.0.0.1", "2023-10-15T14:00:10Z", "NXDOMAIN"),
        record("10.0.0.1", "2023-10-15T14:00:11Z")))
      runOnce()
      assert(afterRun1.isEmpty, s"premature alerts: $afterRun1")
      val finalAlerts = collected.synchronized(collected.toList)
      assert(finalAlerts === List(Monitor.RcodeAlert("10.0.0.1", 3L, 5L)),
        s"got: $finalAlerts")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("session_window builtin agrees on batch data") {
    val envs = spark.createDataset(Seq(envelope("b0",
      record("10.0.0.1", "2023-10-15T14:00:00Z"),
      record("10.0.0.1", "2023-10-15T14:00:30Z"),
      record("10.0.0.1", "2023-10-15T14:05:00Z"),
      record("10.0.0.2", "2023-10-15T14:00:10Z"))))
    val clean = Pipeline.decodedRecords(Pipeline.parseEnvelopes(envs))
      .filter(col("reason").isNull)
    val out = Sessions.sessionWindows(clean, "60 seconds")
      .orderBy(col("srcaddr"), col("session_start"))
      .collect()
      .map(r => (r.getString(2), r.getTimestamp(0).toString, r.getLong(3)))
    assert(out === Array(
      ("10.0.0.1", "2023-10-15 14:00:00.0", 2L),
      ("10.0.0.1", "2023-10-15 14:05:00.0", 1L),
      ("10.0.0.2", "2023-10-15 14:00:10.0", 1L)))
  }
}
