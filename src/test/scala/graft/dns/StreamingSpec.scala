package graft.dns

import graft.SparkTestBase
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.net.{DatagramPacket, DatagramSocket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Streaming-layer specs: micro-batch semantics over MemoryStream, the
  * spool source end-to-end (UDP datagrams received on loopback +
  * parquet dead-letter), and the watermarked windowed aggregation. */
class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Watches what a micro-batch ran: the plans of the session's
    * queries, and the stages that read the spool — those in which a
    * task added rows to the spool scan's output-row metric. A stage that
    * reads the batch's side rows from their blocks computes no scan, so
    * it adds nothing; a job that reads the batch again brings a stage
    * that does. */
  private final class BatchScans extends SparkListener
      with QueryExecutionListener {
    private val updated = mutable.Set[(Int, Long)]() // (stage, metric id)
    private val plans = mutable.Buffer[String]()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      e.taskInfo.accumulables.filter(_.update.exists(_ != 0L))
        .foreach(a => updated += ((e.stageId, a.id)))
    }
    override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { plans += qe.executedPlan.toString }
    override def onFailure(name: String, qe: QueryExecution,
        e: Exception): Unit = ()

    /** How many stages added to one of `metrics`. */
    def stagesUpdating(metrics: Set[Long]): Int =
      synchronized(updated.collect { case (s, m) if metrics(m) => s }.size)
    def sawWriteTo(path: String): Boolean =
      synchronized(plans.exists(_.contains(path)))
  }

  /** A loopback syslog collector: keeps every datagram it receives, as
    * text, until closed (its daemon thread blocks in `receive` until
    * then, so a slow query start cannot time it out). */
  private final class Collector {
    private val socket =
      new DatagramSocket(0, java.net.InetAddress.getByName("127.0.0.1"))
    private val received = mutable.ArrayBuffer[String]()
    private val thread = new Thread(() => {
      val buf = new Array[Byte](65535)
      try while (true) {
        val p = new DatagramPacket(buf, buf.length)
        socket.receive(p)
        received.synchronized {
          received += new String(p.getData, 0, p.getLength,
            StandardCharsets.UTF_8)
        }
      } catch { case _: Exception => () }
    })
    thread.setDaemon(true)
    thread.start()

    def port: Int = socket.getLocalPort

    /** What arrived once `n` datagrams have (or 10 s passed), and clears
      * it. */
    def take(n: Int): List[String] = {
      val deadline = System.currentTimeMillis() + 10000
      while (received.synchronized(received.size) < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      received.synchronized {
        try received.toList finally received.clear()
      }
    }

    def close(): Unit = socket.close()
  }

  /** The parquet part files directly under `dir`. */
  private def parquetFiles(dir: String): Seq[String] = {
    val files = Files.list(java.nio.file.Path.of(dir))
    try files.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toList
    finally files.close()
  }

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def record(qname: String, ts: String = "2023-10-15T14:03:07Z") =
    s"""{"version":"1","account_id":"a","region":"r","vpc_id":"vpc-s",
       |"query_timestamp":"$ts","query_name":"$qname","query_type":"A",
       |"query_class":"IN","rcode":"NOERROR",
       |"answers":[{"Rdata":"1.2.3.4","Type":"A"}],"srcaddr":"10.0.0.1",
       |"srcport":"1234","transport":"UDP",
       |"srcids":{"instance":"i-1"}}""".stripMargin.replaceAll("\n", "")

  private def envelope(id: String, datas: String*): String =
    s"""{"requestId":"$id","records":[${
      datas.map(d => s"""{"data":"$d"}""").mkString(",")}]}"""

  test("memory stream: per-micro-batch pipeline with poison isolation") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val collected = mutable.Map[Long, (Long, Long)]() // batch -> (lines, quarantined)
    val query = stream.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val out = Pipeline.process(Pipeline.parseEnvelopes(df.as[String]))
        collected.synchronized {
          collected(id) = (out.lines.count(), out.quarantine.count())
        }
        ()
      }
      .start()
    stream.addData(envelope("b0", b64(record("one.example."))))
    query.processAllAvailable()
    stream.addData(envelope("b1", b64(record("two.example.")), b64("{broken")))
    query.processAllAvailable()
    query.stop()
    assert(collected(0L) === ((2L, 0L))) // query + 1 reply
    assert(collected(1L) === ((2L, 1L))) // poison quarantined, batch flows
  }

  test("file source end-to-end: UDP datagrams on loopback + dead letters") {
    val inDir = Files.createTempDirectory("stream_in").toString
    val dlDir = Files.createTempDirectory("stream_dl").toString
    val ckDir = Files.createTempDirectory("stream_ck").toString
    // registered before the query starts, so every query and stage its
    // batch runs reports to it
    val scans = new BatchScans
    spark.listenerManager.register(scans)
    spark.sparkContext.addSparkListener(scans)
    val collector = new Collector

    Files.writeString(java.nio.file.Path.of(inDir, "batch0.json"),
      envelope("f0", b64(record("stream.example.")), b64("!!!bad???")) +
        "\n" + envelope("f1", b64(record("other.example."))) +
        // a numeric requestId rejects the whole envelope
        "\n" + envelope("f2", b64(record("rejected.example.")))
          .replace("\"f2\"", "7"))
    val q = Streaming.start(
      Streaming.envelopesFromJsonFiles(spark, inDir),
      "127.0.0.1", collector.port, dlDir, ckDir,
      Trigger.AvailableNow())
    q.awaitTermination(60000)
    // listener events arrive in order, through one queue: the rejected
    // write is the last
    val seen = System.currentTimeMillis() + 10000
    while (!scans.sawWriteTo(s"$dlDir/rejected") &&
      System.currentTimeMillis() < seen) Thread.sleep(50)
    spark.listenerManager.unregister(scans)
    spark.sparkContext.removeSparkListener(scans)
    assert(scans.sawWriteTo(s"$dlDir/rejected"))
    val spool = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
      .collect { case s: MicroBatchScanExec => s.metrics("numOutputRows") }
    assert(scans.stagesUpdating(spool.map(_.id).toSet) === 1,
      "a micro-batch must scan its input once, not once per output")
    // and that scan read each of the 3 input documents once
    val read = spool.map(_.value)
    assert(read === Seq(3L), "the spool must be read once")
    // two valid records × (1 query + 1 reply) = 4 datagrams
    val lines = collector.take(4)
    collector.close()
    assert(lines.size === 4, s"got: $lines")
    assert(lines.distinct.size === 4, s"duplicated datagrams: $lines")
    assert(lines.forall(_.startsWith("<30>Oct 15 14:03:07 vpc-s route53resolver:")))
    // SysLogHandler parity: append_nul=True terminates each datagram
    assert(lines.forall(_.endsWith("\u0000")), "datagrams must be NUL-terminated")
    assert(lines.count(_.contains("query: stream.example.")) === 1)
    assert(lines.count(_.contains("reply: other.example. is 1.2.3.4")) === 1)
    val quarantined = spark.read.parquet(s"$dlDir/quarantine")
    assert(quarantined.count() === 1)
    assert(quarantined.select("reason").as[String].head() === "json")
    // batch_id is a discovered partition column of the idempotent sink
    assert(quarantined.columns.contains("batch_id"))
    val rejected = spark.read.parquet(s"$dlDir/rejected")
      .select("requestId", "reject_reason").as[(String, String)].collect()
    assert(rejected.toSeq === Seq(("7", "requestId_type")))
    // each non-empty dead-letter output is one file, not one per task
    for (kind <- Seq("quarantine", "rejected"))
      assert(parquetFiles(s"$dlDir/$kind/batch_id=0").size === 1, kind)
  }

  test("only the dead-letter kinds a batch has are written") {
    val inDir = Files.createTempDirectory("kinds_in").toString
    val dlDir = Files.createTempDirectory("kinds_dl").toString
    val ckDir = Files.createTempDirectory("kinds_ck").toString
    // one clean envelope and one rejected (numeric requestId): the only
    // side row is the rejected envelope
    Files.writeString(java.nio.file.Path.of(inDir, "k0.json"),
      envelope("k0", b64(record("kept.example."))) + "\n" +
        envelope("k1", b64(record("dropped.example.")))
          .replace("\"k1\"", "8"))
    val sink = new DatagramSocket(0,
      java.net.InetAddress.getByName("127.0.0.1"))
    val q = Streaming.start(Streaming.envelopesFromJsonFiles(spark, inDir),
      "127.0.0.1", sink.getLocalPort, dlDir, ckDir, Trigger.AvailableNow())
    q.awaitTermination(60000)
    q.stop()
    sink.close()
    val rejected = spark.read.parquet(s"$dlDir/rejected")
      .select("requestId", "reject_reason").as[(String, String)].collect()
    assert(rejected.toSeq === Seq(("8", "requestId_type")))
    assert(parquetFiles(s"$dlDir/rejected/batch_id=0").size === 1)
    assert(!Files.exists(java.nio.file.Path.of(dlDir, "quarantine")),
      "a batch with no poison record must write no quarantine output")
  }

  test("replayed micro-batch overwrites its dead-letter partition (idempotent sink)") {
    val inDir = Files.createTempDirectory("replay_in").toString
    val dlDir = Files.createTempDirectory("replay_dl").toString
    val ckDir = Files.createTempDirectory("replay_ck").toString
    Files.writeString(java.nio.file.Path.of(inDir, "b0.json"),
      envelope("rp0", b64(record("rp.example.")), b64("{broken")))
    val sink = new DatagramSocket(0,
      java.net.InetAddress.getByName("127.0.0.1"))
    def runOnce(): Unit = {
      val q = Streaming.start(Streaming.envelopesFromJsonFiles(spark, inDir),
        "127.0.0.1", sink.getLocalPort, dlDir, ckDir, Trigger.AvailableNow())
      q.awaitTermination(60000)
      q.stop()
    }
    runOnce()
    assert(spark.read.parquet(s"$dlDir/quarantine").count() === 1)
    // simulate a crash between side-output write and commit: removing
    // the commit marker makes the restarted query REPLAY batch 0
    // (the local-fs .crc sidecar must go too or the recommit's rename
    // trips over it)
    val committed = java.nio.file.Path.of(ckDir, "commits", "0")
    assert(Files.deleteIfExists(committed), "commit marker must exist")
    Files.deleteIfExists(java.nio.file.Path.of(ckDir, "commits", ".0.crc"))
    runOnce()
    sink.close()
    // the replay overwrote batch_id=0 instead of appending a duplicate
    val rows = spark.read.parquet(s"$dlDir/quarantine")
    assert(rows.count() === 1,
      "replayed batch must overwrite its partition, not append")
    assert(rows.select("reason").as[String].head() === "json")
  }

  test("a new query reuses the classes an earlier drain compiled") {
    val inDir = Files.createTempDirectory("reuse_in").toString
    Files.writeString(java.nio.file.Path.of(inDir, "r0.json"),
      envelope("u0", b64(record("reuse.example.")), b64("{broken")) +
        "\n" + envelope("u1", b64(record("again.example."))) +
        "\n" + envelope("u2", b64(record("rejected.example.")))
          .replace("\"u2\"", "9"))
    val collector = new Collector
    // one AvailableNow drain of the spool by a new query (fresh
    // checkpoint and dead-letter dirs): (classes compiled, input rows,
    // datagrams, quarantine rows, rejected rows)
    def drain() = {
      val dlDir = Files.createTempDirectory("reuse_dl").toString
      val ckDir = Files.createTempDirectory("reuse_ck").toString
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = Streaming.start(Streaming.envelopesFromJsonFiles(spark, inDir),
        "127.0.0.1", collector.port, dlDir, ckDir, Trigger.AvailableNow())
      q.awaitTermination(60000)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
      // two clean records × (1 query + 1 reply) = 4 datagrams
      (compiled, q.lastProgress.numInputRows, collector.take(4).sorted,
        spark.read.parquet(s"$dlDir/quarantine")
          .select("requestId", "record_idx", "reason")
          .as[(String, Int, String)].collect().toSeq,
        spark.read.parquet(s"$dlDir/rejected")
          .select("requestId", "reject_reason")
          .as[(String, String)].collect().toSeq)
    }
    val (_, rows1, lines1, quarantined1, rejected1) = drain()
    val (compiled, rows2, lines2, quarantined2, rejected2) = drain()
    collector.close()
    assert(compiled === 0,
      "the second drain's plan was compiled by the first; a new query " +
        "must reuse those classes, not compile them again")
    assert(rows1 === 3L && rows2 === 3L, "each drain reads the 3 envelopes")
    assert(lines1.size === 4, s"got: $lines1")
    assert(lines2 === lines1)
    assert(quarantined1 === Seq(("u0", 1, "json")))
    assert(quarantined2 === quarantined1)
    assert(rejected1 === Seq(("9", "requestId_type")))
    assert(rejected2 === rejected1)
  }

  test("envelope source seam selects connectors by config") {
    // "files": the environment default — a streaming envelope frame
    val dir = Files.createTempDirectory("seam_in").toString
    val files = Streaming.envelopeSource(spark, "files", Map("path" -> dir))
    assert(files.isStreaming)
    assert(files.columns.contains("requestId") &&
      files.columns.contains("records"))
    // connector path: ANY registered streaming DataSource name wires
    // through the same envelope parse ("rate" stands in; its payload
    // column is `value`)
    val rate = Streaming.envelopeSource(spark, "rate",
      Map("rowsPerSecond" -> "1"), payloadColumn = "value")
    assert(rate.isStreaming && rate.columns.contains("requestId"))
    // "kinesis" goes through the same registry lookup; without the
    // connector jar deployed, the lookup is the ONLY failure — i.e.
    // production enables Kinesis by dropping in the jar + this config
    val err = intercept[Exception] {
      Streaming.envelopeSource(spark, "kinesis",
        Map("streamName" -> "dns-log-stream"))
    }
    assert(err.getMessage.toLowerCase.contains("kinesis"), err.getMessage)
  }

  test("checkpointed restart: processed files are never re-emitted") {
    val inDir = Files.createTempDirectory("restart_in").toString
    val dlDir = Files.createTempDirectory("restart_dl").toString
    val ckDir = Files.createTempDirectory("restart_ck").toString
    val collector = new Collector

    def runOnce(): Unit = {
      val q = Streaming.start(
        Streaming.envelopesFromJsonFiles(spark, inDir),
        "127.0.0.1", collector.port, dlDir, ckDir,
        Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    Files.writeString(java.nio.file.Path.of(inDir, "a.json"),
      envelope("c0", b64(record("first.example."))))
    runOnce()
    Files.writeString(java.nio.file.Path.of(inDir, "b.json"),
      envelope("c1", b64(record("second.example."))))
    runOnce() // same checkpoint: must process ONLY the new file
    val lines = collector.take(4)
    collector.close()
    assert(lines.size === 4, s"got: $lines") // 2 records × (query+reply)
    assert(lines.count(_.contains("query: first.example.")) === 1,
      "restart must not re-emit the already-processed file")
    assert(lines.count(_.contains("query: second.example.")) === 1)
    // clean batches have no dead letters, so they write none
    for (kind <- Seq("quarantine", "rejected"))
      assert(!Files.exists(java.nio.file.Path.of(dlDir, kind)),
        s"a clean batch must leave no $kind output")
  }

  test("stream-static threat-list enrichment joins per micro-batch") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val clean = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
    val threats = Seq(("evil.example.", "high"), ("shady.example.", "low"))
      .toDF("query_name", "severity")
    val enriched = Streaming.enrichWithThreatList(clean, threats)
    val hits = mutable.ArrayBuffer[(String, String)]()
    val q = enriched.writeStream.foreachBatch {
      (df: org.apache.spark.sql.DataFrame, _: Long) =>
        hits.synchronized {
          hits ++= df.select("query_name", "severity").collect()
            .map(r => (r.getString(0), r.getString(1)))
        }
        ()
    }.start()
    stream.addData(envelope("t0",
      b64(record("benign.example.")), b64(record("evil.example.")),
      b64(record("shady.example."))))
    q.processAllAvailable()
    q.stop()
    assert(hits.synchronized(hits.toSet) ===
      Set(("evil.example.", "high"), ("shady.example.", "low")))
  }

  test("streaming dedup absorbs at-least-once replays within the watermark") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val clean = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
    val q = Streaming.dedupRecords(clean)
      .select(col("requestId"), col("record_idx"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    val env = envelope("dup0",
      b64(record("a.example.")), b64(record("b.example.")))
    stream.addData(env)
    q.processAllAvailable()
    stream.addData(env) // replayed delivery — same (requestId, record_idx)
    q.processAllAvailable()
    val rows = spark.table("deduped").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    q.stop()
    assert(rows.sorted === Seq(("dup0", 0), ("dup0", 1)),
      s"replay must be absorbed, got: $rows")
  }

  test("dedup state is bounded by the watermark horizon, not stream length") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val clean = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
    val q = Streaming.dedupRecords(clean)
      .select(col("requestId"), col("record_idx"))
      .writeStream.format("noop").start()
    stream.addData(envelope("s0",
      b64(record("a.example.", "2023-10-15T14:00:00Z")),
      b64(record("b.example.", "2023-10-15T14:00:01Z"))))
    q.processAllAvailable()
    val before = q.lastProgress.stateOperators.head.numRowsTotal
    assert(before === 2, "both keys buffered inside the horizon")
    // Jump event time far past the 10-minute horizon. The watermark
    // derived from this batch evicts the 14:00 keys on the NEXT batch
    // (watermarks advance between batches), hence two more batches.
    stream.addData(envelope("s1",
      b64(record("c.example.", "2023-10-15T16:00:00Z"))))
    q.processAllAvailable()
    stream.addData(envelope("s2",
      b64(record("d.example.", "2023-10-15T16:00:01Z"))))
    q.processAllAvailable()
    val after = q.lastProgress.stateOperators.head.numRowsTotal
    val removed =
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(after <= 2,
      s"state must hold only keys inside the horizon, got $after rows")
    assert(removed >= 2,
      s"watermark passage must evict the expired keys, removed=$removed")
  }

  test("retry-join state is bounded by the watermark horizon") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val clean = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
    val q = Streaming.retries(clean, withinSeconds = 10)
      .writeStream.format("noop").start()
    stream.addData(envelope("j0",
      b64(record("x.example.", "2023-10-15T14:00:00Z")),
      b64(record("y.example.", "2023-10-15T14:00:01Z"))))
    q.processAllAvailable()
    val before = q.lastProgress.stateOperators.head.numRowsTotal
    assert(before > 0, "the interval join must buffer in-horizon rows")
    stream.addData(envelope("j1",
      b64(record("z.example.", "2023-10-15T16:00:00Z"))))
    q.processAllAvailable()
    stream.addData(envelope("j2",
      b64(record("w.example.", "2023-10-15T16:00:30Z"))))
    q.processAllAvailable()
    val after = q.lastProgress.stateOperators.head.numRowsTotal
    val removed =
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(after < before + 2,
      s"join state must not grow with stream length (before=$before, after=$after)")
    assert(removed > 0,
      s"watermark passage must evict expired join rows, removed=$removed")
  }

  test("observe() metrics report per-reason quarantine counts") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val records = Streaming.observed(
      Pipeline.decodedRecords(Pipeline.parseEnvelopes(stream.toDS())))
    val q = records.writeStream.format("noop").start()
    stream.addData(envelope("m0",
      b64(record("ok.example.")), "!!!notb64!!!", b64("{broken")))
    q.processAllAvailable()
    val metrics = q.lastProgress.observedMetrics.get("graft_pipeline")
    q.stop()
    assert(metrics.getAs[Long]("n_records") === 3L)
    assert(metrics.getAs[Long]("n_quarantined") === 2L)
    assert(metrics.getAs[Long]("n_base64") === 1L)
    assert(metrics.getAs[Long]("n_json") === 1L)
  }

  test("stream-stream interval self-join flags retries within the bound") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val clean = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS())).filter(col("reason").isNull)
    val joined = Streaming.retries(clean, withinSeconds = 10)
    val q = joined.writeStream.format("memory").queryName("retries")
      .outputMode("append").start()
    stream.addData(envelope("r0",
      b64(record("dup.example.", "2023-10-15T14:00:00Z")),
      b64(record("dup.example.", "2023-10-15T14:00:05Z")), // retry (+5s)
      b64(record("dup.example.", "2023-10-15T14:00:30Z")), // outside 10s
      b64(record("other.example.", "2023-10-15T14:00:06Z"))))
    q.processAllAvailable()
    // advance watermark so the joined rows finalize in append mode
    stream.addData(envelope("r1",
      b64(record("late.example.", "2023-10-15T15:00:00Z"))))
    q.processAllAvailable()
    val rows = spark.table("retries")
      .select("query_name", "first_ts", "retry_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString))
    q.stop()
    assert(rows.toSet === Set(
      ("dup.example.", "2023-10-15 14:00:00.0", "2023-10-15 14:00:05.0")))
  }

  test("watermarked per-vpc rate windows aggregate event time") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[String]
    val records = Pipeline.decodedRecords(
      Pipeline.parseEnvelopes(stream.toDS()))
      .filter(col("reason").isNull)
    val agg = Streaming.ratePerVpc(records, "1 minute", "5 minutes")
    val query = agg.writeStream.format("memory")
      .queryName("rates").outputMode("complete").start()
    stream.addData(envelope("w0",
      b64(record("a.example.", "2023-10-15T14:03:07Z")),
      b64(record("b.example.", "2023-10-15T14:03:30Z")),
      b64(record("c.example.", "2023-10-15T14:04:02Z"))))
    query.processAllAvailable()
    val rows = spark.table("rates")
      .select("window_start", "n_queries")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    query.stop()
    assert(rows === Map(
      "2023-10-15 14:03:00.0" -> 2L,
      "2023-10-15 14:04:00.0" -> 1L))
  }
}
