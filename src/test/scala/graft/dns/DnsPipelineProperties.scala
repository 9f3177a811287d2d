package graft.dns

import graft.SparkTestBase
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.Dataset
import java.net.{DatagramPacket, DatagramSocket, InetAddress, SocketTimeoutException}
import java.nio.charset.StandardCharsets
import java.util.{Base64, HexFormat}

/** SURVEY.md §5.2 property tests, against a faithful Scala port of the
  * reference's validators:
  *  (a) emitted line count = Σ (1 + |answers|) over accepted records;
  *  (b) the formatter is total on accepted rows (no null/blank lines);
  *  (c) the pipeline accepts a record iff the ported
  *      `is_valid_dns_data` + strict strptime accept it;
  *  (d) poison isolation: appending invalid records never changes the
  *      lines produced for the valid ones.
  */
object DnsPipelineProperties extends Properties("DnsPipeline")
    with SparkTestBase {

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  // ----- generators ------------------------------------------------

  private val word: Gen[String] = for {
    n <- Gen.choose(1, 10)
    cs <- Gen.listOfN(n, Gen.alphaNumChar)
  } yield cs.mkString

  private val tsValid: Gen[String] = for {
    epoch <- Gen.choose(0L, 2000000000L)
  } yield java.time.Instant.ofEpochSecond(epoch)
    .toString.replace("Z", "") .take(19) + "Z"

  private def quote(s: String) = "\"" + s + "\""

  /** A record as ordered key→raw-JSON-fragment pairs, so mutations can
    * drop/retype fields precisely. */
  private val validRecord: Gen[Vector[(String, String)]] = for {
    qname <- word.map(_ + ".example.com.")
    ts <- tsValid
    nAns <- Gen.choose(0, 3)
    answers <- Gen.listOfN(nAns, for {
      rd <- word; ty <- Gen.oneOf("A", "AAAA", "CNAME", "TXT")
    } yield s"""{"Rdata":${quote(rd)},"Type":${quote(ty)}}""")
    port <- Gen.choose(1024, 65535)
  } yield Vector(
    "version" -> quote("1.100000"),
    "account_id" -> quote("111122223333"),
    "region" -> quote("eu-west-1"),
    "vpc_id" -> quote("vpc-test"),
    "query_timestamp" -> quote(ts),
    "query_name" -> quote(qname),
    "query_type" -> quote("A"),
    "query_class" -> quote("IN"),
    "rcode" -> quote("NOERROR"),
    "answers" -> answers.mkString("[", ",", "]"),
    "srcaddr" -> quote("10.0.0.7"),
    "srcport" -> quote(port.toString),
    "transport" -> quote("UDP"),
    "srcids" -> """{"instance":"i-prop"}""")

  /** Mutations spanning every reference drop reason. */
  private val mutation: Gen[Vector[(String, String)] => (Vector[(String, String)], Boolean)] =
    Gen.oneOf(
      Gen.const((r: Vector[(String, String)]) => (r, true)),
      Gen.oneOf(Schemas.stringFields ++ Seq("answers", "srcids")).map(f =>
        (r: Vector[(String, String)]) => (r.filterNot(_._1 == f), false)),
      Gen.const((r: Vector[(String, String)]) =>
        (r.map { case ("srcport", _) => ("srcport", "53211")
                 case kv => kv }, false)),
      Gen.const((r: Vector[(String, String)]) =>
        (r.map { case ("answers", _) => ("answers", """[{"Type":"A"}]""")
                 case kv => kv }, false)),
      Gen.const((r: Vector[(String, String)]) =>
        (r.map { case ("srcids", _) => ("srcids", """{"other":"x"}""")
                 case kv => kv }, false)),
      Gen.const((r: Vector[(String, String)]) =>
        (r.map { case ("query_timestamp", v) =>
                   ("query_timestamp", v.replace("Z\"", ".123Z\""))
                 case kv => kv }, false)))

  private def render(r: Vector[(String, String)]): String =
    r.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  private case class TestRecord(json: String, valid: Boolean, nAnswers: Int)

  private val anyRecord: Gen[TestRecord] = for {
    base <- validRecord
    m <- mutation
  } yield {
    val (mutated, stillValid) = m(base)
    val nAns = mutated.find(_._1 == "answers")
      .map(a => a._2.count(_ == '{')).getOrElse(0)
    TestRecord(render(mutated), stillValid, nAns)
  }

  /** One envelope of `records` as a raw-JSON dataset. */
  private def envelope(records: Seq[String]): Dataset[String] = {
    val sp = spark
    import sp.implicits._
    spark.createDataset(Seq(
      s"""{"requestId":"prop","records":[${
        records.map(r => s"""{"data":"${b64(r)}"}""").mkString(",")}]}"""))
  }

  private def run(records: Seq[String]): Pipeline.Outputs =
    Pipeline.processJson(envelope(records))

  propertyWithSeed("accepts iff reference validator accepts; " +
    "line count = sum(1+|answers|); lines are total", None) =
    Prop.forAllNoShrink(Gen.listOfN(6, anyRecord)) { recs =>
      val out = run(recs.map(_.json))
      val expectedIdx = recs.zipWithIndex.collect {
        case (r, i) if r.valid => i }.toSet
      val gotIdx = out.lines.select("record_idx")
        .distinct().collect().map(_.getInt(0)).toSet
      val expectedLines = recs.filter(_.valid).map(1 + _.nAnswers).sum
      val lines = out.lines.select("line").collect().map(_.getString(0))
      (gotIdx == expectedIdx) :| s"accepted $gotIdx expected $expectedIdx" &&
      (lines.length == expectedLines) :| s"${lines.length} lines, want $expectedLines" &&
      lines.forall(l => l != null && l.nonEmpty) :| "formatter must be total" &&
      (out.quarantine.count() == (recs.size - expectedIdx.size)) :| "quarantine count"
    }

  private val validTestRecord: Gen[TestRecord] = validRecord.map { r =>
    val nAns = r.find(_._1 == "answers").map(_._2.count(_ == '{')).getOrElse(0)
    TestRecord(render(r), valid = true, nAns)
  }

  propertyWithSeed("poison isolation: valid lines unchanged by poison", None) =
    Prop.forAllNoShrink(Gen.listOfN(3, validTestRecord),
      Gen.listOfN(2, Gen.oneOf(
        "!!!notb64!!!", b64("{nope"), b64("[1,2]"), ""))) { (valid, poison) =>
      val clean = run(valid.map(_.json)).lines
        .select("record_idx", "line_idx", "line").collect().map(_.toString)
      val mixed = run(valid.map(_.json) ++ poison).lines
        .select("record_idx", "line_idx", "line").collect().map(_.toString)
      (clean.toSeq == mixed.toSeq) :| "valid records' lines must be identical"
    }

  /** One envelope whose records' `data` are `datas` as given. */
  private def runData(datas: Seq[String]): Pipeline.Outputs = {
    val sp = spark
    import sp.implicits._
    val recs = datas.map(d => s"""{"data":"${d.replace("\n", "\\n")}"}""")
    Pipeline.processJson(spark.createDataset(Seq(
      s"""{"requestId":"prop","records":[${recs.mkString(",")}]}""")))
  }

  /** `c` inserted into a string at a position drawn here. */
  private def insert(c: Gen[String]): Gen[String => String] = for {
    at <- Gen.choose(0, 1 << 20)
    s <- c
  } yield (d: String) => {
    val i = at % (d.length + 1)
    d.take(i) + s + d.drop(i)
  }

  /** What CPython's non-strict b64decode skips: bytes outside the
    * alphabet, and pads once a quad is complete. */
  private val asciiJunk: Gen[String => String] = Gen.oneOf(
    insert(Gen.oneOf(" ", "\n", "!")),
    Gen.choose(1, 4).map(n => (d: String) => d + "=" * n))

  propertyWithSeed("base64 as CPython reads it: ASCII junk or a pad run " +
    "changes no line, a non-ASCII character drops the record", None) =
    Prop.forAllNoShrink(Gen.listOfN(3, validTestRecord),
        Gen.listOfN(3, asciiJunk),
        insert(Gen.oneOf("\u00e9", "\u65e5", "\ud83d\ude00"))) {
      (valid, junk, nonAscii) =>
      def lines(out: Pipeline.Outputs) = out.lines
        .select("record_idx", "line_idx", "line").collect().map(_.toString).toSeq
      val datas = valid.map(r => b64(r.json))
      val junked = datas.zip(junk).map { case (d, j) => j(d) }
      val clean = lines(runData(datas))
      val poisoned = runData(junked.updated(1, nonAscii(junked(1))))
      val quarantined = poisoned.quarantine.select("record_idx", "reason")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      (lines(runData(junked)) == clean) :| "junk changed the lines" &&
      (quarantined == Seq((1, "base64"))) :| s"quarantined $quarantined" &&
      (lines(poisoned) == clean.filterNot(_.startsWith("[1,"))) :|
        "the other records' lines changed"
    }

  /** A valid record whose query name is `qname` + ".example.". */
  private def named(qname: Gen[String]): Gen[String] = for {
    r <- validRecord
    q <- qname
  } yield render(r.map {
    case ("query_name", _) => ("query_name", quote(q + ".example."))
    case kv => kv
  })

  /** Query names mixing ASCII with 2-, 3- and 4-byte UTF-8 characters. */
  private val utf8Name: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "\u00fc", "\u65e5\u672c", "\ud83d\ude00"))
      .map(_.mkString + "\u00fc\u65e5\ud83d\ude00")

  /** Hex of each datagram `send` sends to a loopback socket, sorted:
    * the `n` it is expected to send, and any that follow within 200 ms. */
  private def datagrams(n: Int)(send: Int => Unit): Seq[String] = {
    val socket = new DatagramSocket(0, InetAddress.getLoopbackAddress)
    try {
      socket.setReceiveBufferSize(1 << 20)
      socket.setSoTimeout(10000)
      send(socket.getLocalPort)
      val buf = new Array[Byte](65535)
      def next(): String = {
        val p = new DatagramPacket(buf, buf.length)
        socket.receive(p)
        HexFormat.of().formatHex(p.getData, 0, p.getLength)
      }
      val expected = Seq.fill(n)(next())
      socket.setSoTimeout(200)
      val extra = Iterator.continually(
        try Some(next()) catch { case _: SocketTimeoutException => None })
        .takeWhile(_.isDefined).flatten.toSeq
      (expected ++ extra).sorted
    } finally socket.close()
  }

  propertyWithSeed("datagrams are <30>, the line's UTF-8 bytes and a NUL",
      None) =
    // the last record's lines outgrow the sink's initial 1 KiB buffer
    Prop.forAllNoShrink(Gen.listOfN(3, named(utf8Name)),
        named(utf8Name.map(_ + "\u00fc" * 600))) { (short, long) =>
      val recs = short :+ long
      val sp = spark
      import sp.implicits._
      val lines = run(recs).lines.select("line").as[String].collect().toSeq
      val want = lines.map(l => HexFormat.of().formatHex(
        s"<30>$l\u0000".getBytes(StandardCharsets.UTF_8))).sorted
      val counts = spark.sparkContext.longAccumulator
      val routed = datagrams(want.size) { port =>
        Streaming.UdpSyslogSink.sendRouted(
          Pipeline.routed(Pipeline.parseEnvelopes(envelope(recs))),
          "127.0.0.1", port, counts, counts).count()
      }
      val sent = datagrams(want.size) { port =>
        Streaming.UdpSyslogSink.send(lines.toDS(), "127.0.0.1", port)
      }
      (lines.size >= 4) :| s"${lines.size} lines for 4 valid records" &&
      lines.exists(_.getBytes(StandardCharsets.UTF_8).length > 1024) :|
        "no line outgrows the buffer" &&
      (routed == want) :| "sendRouted's datagrams differ from the framing" &&
      (sent == want) :| "send's datagrams differ from the framing"
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(15)
}
