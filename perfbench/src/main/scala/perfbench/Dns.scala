package perfbench

import graft.dns.{Pipeline, Streaming}
import graft.examples.FrontDoor
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** Shared pieces of the two DNS workloads. */
object Dns {
  val Loopback = "127.0.0.1"

  def spool(dir: Path, envs: Iterable[Env]): Unit =
    envs.zipWithIndex.foreach { case (e, i) =>
      Files.writeString(dir.resolve(f"envelope-$i%05d.json"), e.body)
    }

  def secs(dtNanos: Long): Double = dtNanos / 1e9

  /** What a dead-letter directory held: quarantine rows
    * (requestId, record_idx, reason) and reject rows (requestId,
    * reason). */
  final case class Side(quarantine: Seq[(String, Int, String)], rejected: Seq[(String, String)])

  def readSide(spark: SparkSession, dead: Path): Side = {
    def read(sub: String, cols: String*): Seq[org.apache.spark.sql.Row] = {
      val p = dead.resolve(sub)
      if (!Files.exists(p)) Nil
      else spark.read.parquet(p.toString).select(cols.map(col): _*).collect().toSeq
    }
    Side(read("quarantine", "requestId", "record_idx", "reason")
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))),
      read("rejected", "requestId", "reject_reason").map(r => (r.getString(0), r.getString(1))))
  }

  /** Compare side outputs with the expectation: returns the
    * requestIds whose quarantine or reject rows differ, plus messages
    * for the run log. */
  def checkSideOutputs(side: Side, envs: Iterable[Env]): (Set[String], Seq[String]) = {
    val gotQ = side.quarantine
    val expQ = Envelopes.quarantine(envs)
    val gotR = side.rejected
    val expR = envs.filter(_.rejectReason != null).map(e => (e.requestId, e.rejectReason)).toSet
    val badQ = (gotQ.toSet -- expQ) ++ (expQ -- gotQ.toSet)
    val badR = (gotR.toSet -- expR) ++ (expR -- gotR.toSet)
    val dupes = gotQ.size - gotQ.toSet.size + gotR.size - gotR.toSet.size
    val failed = badQ.map(_._1) ++ badR.map(_._1)
    val msgs = badQ.take(3).map(b => s"quarantine row mismatch $b").toSeq ++
      badR.take(3).map(b => s"reject row mismatch $b") ++
      (if (dupes > 0) Seq(s"$dupes duplicated side-output rows") else Nil)
    (failed, msgs)
  }

  /** Parquet files and bytes under `dir`. */
  def files(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  /** Volume counters of what the program emitted for a set of
    * envelopes (per-layer metrics): datagrams and lines from the
    * receiver, quarantine and reject rows from the side outputs. An
    * envelope or record counts once any output names it. */
  def volume(envs: Iterable[Env], exp: Expectation, side: Side): Map[String, Double] = {
    val ids = envs.map(_.requestId).toSet
    val q = side.quarantine.filter(r => ids(r._1))
    val rejected = side.rejected.filter(r => ids(r._1))
    val envsSeen = exp.envsWithLines.map(i => exp.envs(i).requestId) ++
      q.map(_._1) ++ rejected.map(_._1)
    Map(
      "dns.envelopes" -> envsSeen.size.toDouble,
      "dns.rejected_envelopes" -> rejected.size.toDouble,
      "dns.records" -> (exp.recordsWithLines + q.size).toDouble,
      "dns.lines" -> exp.lines.toDouble,
      "dns.datagrams" -> exp.received.get.toDouble,
      "dns.bytes" -> exp.bytes.toDouble) ++
      Envelopes.PoisonReasons.map(r => s"dns.quarantined.$r" -> q.count(_._3 == r).toDouble)
  }

  def sum(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; secs(System.nanoTime() - t0)
    })

  /** Per-layer self times of the DNS path on a static read of a spool:
    * each layer's time is the difference between two cumulative
    * prefixes of the same input, each materialized through `noop`. */
  def prefixProbe(spark: SparkSession, spoolDir: Path, envs: Array[Env],
      receiver: Receiver, scratch: Path, reps: Int = 3): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    val raw = spark.read.text(spoolDir.toString).select(col("value")).as[String]
    def parsed = Pipeline.parseEnvelopes(raw)
    def accepted = Pipeline.envelopeRejectReason(parsed)
      .filter(col("reject_reason").isNull).drop("reject_reason")
    def decoded = Pipeline.decodedRecords(accepted)
    def lines = Pipeline.bind9Lines(decoded.filter(col("reason").isNull))
    val gate = timed(reps)(noop(accepted))
    val decode = timed(reps)(noop(decoded))
    val format = timed(reps)(noop(lines))
    val sent = scala.collection.mutable.ArrayBuffer.empty[Expectation]
    val sink = timed(reps) {
      val exp = new Expectation(envs)
      receiver.arm(exp)
      Streaming.UdpSyslogSink.send(lines.select(col("line")).as[String], Loopback, receiver.port)
      exp.await(5000)
      receiver.disarm()
      sent += exp
    }
    val errors = sent.toSeq.map(_.failedEnvelopes.size).filter(_ > 0)
      .map(n => s"prefix sink: $n envelopes with bad datagrams")
    val side = timed(reps) {
      val out = Pipeline.process(parsed, materializeDecode = false)
      out.quarantine.write.mode("overwrite").parquet(scratch.resolve("q").toString)
      out.rejectedEnvelopes.write.mode("overwrite").parquet(scratch.resolve("r").toString)
    }
    (Map("dns.gate_s" -> gate, "dns.decode_s" -> (decode - gate),
      "dns.format_s" -> (format - decode), "dns.sink_s" -> (sink - format),
      "dns.side_output_s" -> (side - decode - gate)), errors)
  }
}

/** `dns_drain`: a pre-spooled backlog of large envelopes drained by
  * `Streaming.start` with `Trigger.AvailableNow`, once per unit, each
  * unit a fresh query and checkpoint over the same spool. */
final class DnsDrain(ctx: Ctx) extends Workload {
  import Dns._
  private val envs = Envelopes.generate(ctx.seed, "d", 16,
    Envelopes.Mix(400, 600, poisonShare = 0.02, rejectShare = 0.01))
  private val spoolDir = ctx.dir("drain-spool")
  spool(spoolDir, envs)
  private val receiver = new Receiver(4 << 20)
  private var units = 0

  private case class Drain(id: Int, exp: Expectation, t0: Long, tEnd: Long,
      cpu: Double, error: Option[Throwable], rcvbuf: Long, sndbuf: Long) {
    def dead: Path = ctx.work.resolve(s"drain-$id/dead")
  }

  private def drain(spark: SparkSession, dir: Path, batch: Array[Env]): Drain = {
    units += 1
    val id = units
    val exp = new Expectation(batch)
    val (rb0, sb0) = Receiver.bufferErrors()
    receiver.arm(exp)
    val cpu0 = Host.cpuS()
    val t0 = System.nanoTime()
    val error = try {
      val q = Streaming.start(
        Streaming.envelopeSource(spark, "files",
          Map("path" -> dir.toString, "maxFilesPerTrigger" -> "16")),
        Loopback, receiver.port,
        ctx.work.resolve(s"drain-$id/dead").toString,
        ctx.work.resolve(s"drain-$id/checkpoint").toString,
        Trigger.AvailableNow())
      q.awaitTermination()
      None
    } catch { case e: Throwable => Some(e) }
    val tq = System.nanoTime()
    if (error.isEmpty) exp.await(5000)
    receiver.disarm()
    val cpu = Host.cpuS() - cpu0
    val (rb1, sb1) = Receiver.bufferErrors()
    val last = exp.lastArrival.foldLeft(tq)(math.max)
    Drain(id, exp, t0, last, cpu, error, rb1 - rb0, sb1 - sb0)
  }

  /** Warm-up: one drain of the backlog, so the timed drains run on
    * compiled code. */
  def setup(spark: SparkSession, round: Int): Unit =
    drain(spark, spoolDir, envs).error.foreach(e => throw e)

  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Outcome = {
    // a fixed number of drains for the window (one per nominal second),
    // so every run does the same work however fast the host is
    val drains = Seq.fill(math.max(3, math.round(seconds).toInt))(drain(spark, spoolDir, envs))
    val (invalid, valid) = drains.partition(_.rcvbuf > 0)
    var errors = Seq.empty[String]
    var failed = 0
    val sides = valid.map(d => if (d.error.isEmpty) readSide(spark, d.dead) else Side(Nil, Nil))
    valid.zip(sides).foreach { case (d, side) =>
      d.error.foreach(e => errors :+= s"drain ${d.id} threw: $e")
      val (sideFailed, msgs) =
        if (d.error.isEmpty) checkSideOutputs(side, envs) else (Set.empty[String], Nil)
      errors ++= msgs
      val bad = if (d.error.nonEmpty) envs.indices.toSet
        else d.exp.failedEnvelopes ++ envs.indices.filter(i => sideFailed(envs(i).requestId))
      if (d.exp.badUnplaced > 0) errors :+= s"drain ${d.id}: ${d.exp.badUnplaced} unplaceable datagrams"
      failed += bad.size
    }
    val latencies = valid.flatMap { d =>
      d.exp.lastArrival.filter(_ > 0).map(t => secs(t - d.t0))
    }
    val work = valid.map(d => secs(d.tEnd - d.t0))
    val layer =
      if (trace.isEmpty) Map.empty[String, Double]
      else {
        val records = envs.filter(_.rejectReason == null).map(_.records.length).sum
        val (nf, nb) = valid.map(d => files(d.dead)).foldLeft((0L, 0L)) {
          case ((a, b), (c, e)) => (a + c, b + e)
        }
        sum(valid.zip(sides).map { case (d, side) => volume(envs, d.exp, side) }) ++
          trace.get.streamMetrics(0) ++ Map(
          "dns.records_per_s" -> records / Stats.median(work),
          "dns.udp_rcvbuf_errors" -> drains.map(_.rcvbuf).sum.toDouble,
          "dns.udp_sndbuf_errors" -> drains.map(_.sndbuf).sum.toDouble,
          "dns.side_files" -> nf.toDouble, "dns.side_bytes" -> nb.toDouble)
      }
    val krec = envs.map(_.records.length).sum / 1000.0
    Outcome(valid.size * envs.length, failed, work, valid.map(_.cpu / krec), latencies,
      layer, errors, invalid.size)
  }

  override def probe(spark: SparkSession): Map[String, Double] = {
    val (m, errs) = prefixProbe(spark, spoolDir, envs, receiver, ctx.dir("drain-probe"))
    if (errs.nonEmpty) throw new IllegalStateException(errs.mkString("; "))
    m
  }

  def close(): Int = { receiver.close(); receiver.stray }
}

/** `dns_paced`: an open loop POSTing envelopes of 1–100 records to
  * `FrontDoor` on a fixed schedule, while `Streaming.start` with a 1 s
  * processing-time trigger drains its spool. Each envelope is timed
  * from its due time to the arrival of its last datagram. */
final class DnsPaced(ctx: Ctx) extends Workload {
  import Dns._
  val perSecond = 20
  /** A micro-batch takes 1–3 s on a 4-core VM, mostly fixed per-batch
    * cost, so triggers often run back to back and an envelope waits for
    * the batch in flight plus its own. (FrontDoor.main's 2 s interval
    * read no steadier on that host.) */
  val triggerSeconds = 1
  private val period = 1000000000L / perSecond
  private val mix = Envelopes.Mix(1, 100, poisonShare = 0.02, rejectShare = 0.01)
  private val receiver = new Receiver(4 << 20)
  private var server: FrontDoor.Server = null
  private var query: StreamingQuery = null
  private var round = 0
  private var posted = Vector.empty[Env]
  private var units = 0

  private def post(body: String): (Int, String) = {
    val c = URI.create(s"http://$Loopback:${server.port}/endpoint").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val os = c.getOutputStream
    os.write(body.getBytes(UTF_8))
    os.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val resp = new String(in.readAllBytes(), UTF_8)
    in.close()
    (code, resp)
  }

  private def ackOk(e: Env, code: Int, resp: String): Boolean =
    if (e.rejectReason == null) code == 200 && resp.contains("\"" + e.requestId + "\"")
    else code == 400 && resp.contains("Invalid data format: " + e.rejectReason)

  def setup(spark: SparkSession, r: Int): Unit = {
    round = r
    posted = Vector.empty
    val spoolDir = ctx.dir(s"paced-$r/spool")
    server = FrontDoor.start(0, spoolDir)
    query = Streaming.start(
      Streaming.envelopeSource(spark, "files",
        Map("path" -> spoolDir.toString, "maxFilesPerTrigger" -> "1000")),
      Loopback, receiver.port,
      ctx.work.resolve(s"paced-$r/dead").toString,
      ctx.work.resolve(s"paced-$r/checkpoint").toString,
      Trigger.ProcessingTime(s"$triggerSeconds second"))
    // warm-up: 1 s of the paced traffic, all of it delivered
    val warm = Envelopes.generate(ctx.seed, s"w$r", perSecond, mix)
    val exp = new Expectation(warm)
    receiver.arm(exp)
    val t0 = System.nanoTime()
    warm.zipWithIndex.foreach { case (e, i) =>
      val wait = t0 + i * period - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L)
      val (code, resp) = post(e.body)
      require(ackOk(e, code, resp), s"warm-up envelope not acknowledged: $code $resp")
    }
    posted ++= warm
    require(exp.await(30000), "warm-up datagrams did not arrive")
    receiver.disarm()
  }

  override def release(): Unit = {
    if (query != null) query.stop()
    if (server != null) server.stop()
    query = null
    server = null
  }

  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Outcome = {
    units += 1
    val n = math.max(1, math.round(seconds * perSecond).toInt)
    val envs = Envelopes.generate(ctx.seed, s"p$units", n, mix)
    val exp = new Expectation(envs)
    val ack = new Array[Double](n)
    val late = new Array[Double](n)
    val ackBad = new Array[Boolean](n)
    val codes = new Array[Int](n)
    val (rb0, sb0) = Receiver.bufferErrors()
    receiver.arm(exp)
    val windowStart = System.currentTimeMillis()
    val cpu0 = Host.cpuS()
    val t0 = System.nanoTime() + 50000000L
    val due = Array.tabulate(n)(i => t0 + i * period)
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val ts = System.nanoTime()
        late(i) = secs(ts - due(i))
        val ok = try {
          val (c, r) = post(envs(i).body)
          codes(i) = c
          ackOk(envs(i), c, r)
        } catch { case _: Throwable => false }
        ackBad(i) = !ok
        ack(i) = secs(System.nanoTime() - ts)
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val tStop = System.nanoTime()
    exp.await(15000)
    query.processAllAvailable()
    val cpuPerKrec = (Host.cpuS() - cpu0) / (envs.map(_.records.length).sum / 1000.0)
    receiver.disarm()
    val (rb1, sb1) = Receiver.bufferErrors()
    posted ++= envs
    val dead = ctx.work.resolve(s"paced-$round/dead")
    val side = readSide(spark, dead)
    val (sideFailed, sideMsgs) = checkSideOutputs(side, posted.filter(_.rejectReason == null))
    val last = exp.lastArrival
    val failedSet = exp.failedEnvelopes ++ ackBad.indices.filter(ackBad(_)) ++
      envs.indices.filter(i => sideFailed(envs(i).requestId))
    val latencies = envs.indices.filter(last(_) > 0).map(i => secs(last(i) - due(i)))
    val triggers = query.recentProgress.toSeq
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= windowStart &&
        p.numInputRows > 0)
      .map(p => p.durationMs.get("triggerExecution").longValue / 1000.0)
    val errors = sideMsgs ++
      (if (exp.badUnplaced > 0) Seq(s"${exp.badUnplaced} unplaceable datagrams") else Nil) ++
      (if (triggers.isEmpty) Seq("no micro-batch ran in the window") else Nil)
    val invalid = if (rb1 > rb0) 1 else 0
    val layer =
      if (trace.isEmpty) Map.empty[String, Double]
      else {
        val acc = envs.filter(_.rejectReason == null)
        val backlog = envs.indices.count(i => envs(i).rejectReason == null &&
          (last(i) <= 0 || last(i) > tStop))
        val (nf, nb) = files(dead)
        volume(envs, exp, side) ++ trace.get.streamMetrics(backlog) ++ Map(
          "frontdoor.ack_p50_s" -> Stats.quantile(ack.toSeq, 0.5),
          "frontdoor.ack_p99_s" -> Stats.quantile(ack.toSeq, 0.99),
          "frontdoor.accepted" -> codes.count(_ == 200).toDouble,
          "frontdoor.rejected" -> codes.count(_ == 400).toDouble,
          "dns.records_per_s" -> acc.map(_.records.length).sum / secs(tStop - t0),
          "dns.udp_rcvbuf_errors" -> (rb1 - rb0).toDouble,
          "dns.udp_sndbuf_errors" -> (sb1 - sb0).toDouble,
          "dns.side_files" -> nf.toDouble, "dns.side_bytes" -> nb.toDouble,
          "bench.gen_late_p99_s" -> Stats.quantile(late.toSeq, 0.99))
      }
    if (invalid > 0) Outcome(0, 0, Nil, Nil, Nil, layer, Nil, 1)
    else Outcome(n, failedSet.size, triggers, Seq(cpuPerKrec), latencies, layer, errors)
  }

  override def probe(spark: SparkSession): Map[String, Double] = {
    val spoolDir = ctx.work.resolve(s"paced-$round/spool")
    val accepted = posted.filter(_.rejectReason == null).toArray
    val (m, errs) = prefixProbe(spark, spoolDir, accepted, receiver, ctx.dir("paced-probe"))
    if (errs.nonEmpty) throw new IllegalStateException(errs.mkString("; "))
    m
  }

  def close(): Int = { release(); receiver.close(); receiver.stray }
}
