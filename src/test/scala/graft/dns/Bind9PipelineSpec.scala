package graft.dns

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

/** Golden end-to-end fixtures (FIXTURES.md §2-4): envelope JSON in →
  * exact BIND9 lines out, plus one quarantine fixture per drop reason of
  * the reference's per-record try/except (app/app.py:219-263). */
class Bind9PipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Mirror of Format.deterministicHexTag's seed layout: fields joined
    * with the  separator the Column expression uses. */
  private def tag(requestId: String, recordIdx: Int, qname: String,
      qts: String): String =
    "@0x" + md5hex(Seq(requestId, recordIdx.toString, qname, qts)
      .mkString("\u0001")).take(12)

  private val happyRecord =
    """{"version":"1.100000","account_id":"111122223333","region":"eu-west-1",
      |"vpc_id":"vpc-7example","query_timestamp":"2023-10-15T14:03:07Z",
      |"query_name":"example.com.","query_type":"TXT","query_class":"IN",
      |"rcode":"NOERROR",
      |"answers":[{"Rdata":"203.0.113.9","Type":"A","Class":"IN"},
      |           {"Rdata":"203.0.113.10","Type":"AAAA","Class":"IN"}],
      |"srcaddr":"10.0.0.4","srcport":"53211","transport":"UDP",
      |"srcids":{"instance":"i-0d15cd0d3example"}}""".stripMargin

  private def envelope(requestId: String, datas: Seq[String]): String = {
    val recs = datas.map(d => s"""{"data":"$d"}""").mkString(",")
    s"""{"requestId":"$requestId","timestamp":1697378587123,"records":[$recs]}"""
  }

  private def mutate(json: String, from: String, to: String): String = {
    assert(json.contains(from), s"fixture mutation target missing: $from")
    json.replace(from, to)
  }

  private def run(envelopes: String*): Pipeline.Outputs =
    Pipeline.processJson(spark.createDataset(envelopes))

  test("happy path: query line + one reply line per answer, emit order") {
    val out = run(envelope("req-1", Seq(b64(happyRecord))))
    val t = tag("req-1", 0, "example.com.", "2023-10-15T14:03:07Z")
    val lines = out.lines.orderBy("line_idx")
      .select("line").as[String].collect().toSeq
    assert(lines === Seq(
      s"Oct 15 14:03:07 vpc-7example route53resolver: 15-Oct-2023 14:03:07.000 client $t 10.0.0.4#53211 (example.com.): query: example.com. IN A + (127.0.0.1)",
      s"Oct 15 14:03:07 vpc-7example route53resolver: 15-Oct-2023 14:03:07.000 client $t 10.0.0.4#53211 (example.com.): reply: example.com. is 203.0.113.9",
      s"Oct 15 14:03:07 vpc-7example route53resolver: 15-Oct-2023 14:03:07.000 client $t 10.0.0.4#53211 (example.com.): reply: example.com. is 203.0.113.10"))
    assert(out.quarantine.isEmpty && out.rejectedEnvelopes.isEmpty)
  }

  test("quirk: printed type is answers[0].Type, never query_type") {
    // query_type is TXT but answers[0].Type is A → line says "IN A"
    val out = run(envelope("req-q", Seq(b64(happyRecord))))
    val queryLine = out.lines.filter($"line_idx" === 0)
      .select("line").as[String].head()
    assert(queryLine.contains(" IN A + (127.0.0.1)"))
    assert(!queryLine.contains("TXT"))
  }

  test("zero answers: query line only, fallback type A") {
    val rec = mutate(happyRecord,
      """"answers":[{"Rdata":"203.0.113.9","Type":"A","Class":"IN"},
        |           {"Rdata":"203.0.113.10","Type":"AAAA","Class":"IN"}]""".stripMargin,
      """"answers":[]""")
    val out = run(envelope("req-2", Seq(b64(rec))))
    val lines = out.lines.select("line").as[String].collect().toSeq
    assert(lines.size === 1)
    assert(lines.head.endsWith("(example.com.): query: example.com. IN A + (127.0.0.1)"))
  }

  test("json-null Rdata prints as None (reference parity: .get default is dead code)") {
    // The Rdata KEY is required by validation (app/app.py:208), so the
    // reference's `.get('Rdata', 'N/A')` default never fires; a null
    // VALUE flows into the f-string as Python's None.
    val rec = mutate(happyRecord, """"Rdata":"203.0.113.9"""", """"Rdata":null""")
    val out = run(envelope("req-3", Seq(b64(rec))))
    val reply = out.lines.filter($"line_idx" === 1).select("line").as[String].head()
    assert(reply.endsWith("reply: example.com. is None"))
  }

  test("unicode query_name survives decode+format byte-exactly") {
    val uni = "bücher.例え.de." // ü + CJK, multi-byte UTF-8
    val rec = mutate(happyRecord, "\"query_name\":\"example.com.\"",
      s""""query_name":"$uni"""")
    val out = run(envelope("req-u", Seq(b64(rec))))
    val queryLine = out.lines.filter($"line_idx" === 0)
      .select("line").as[String].head()
    assert(queryLine.contains(s"($uni): query: $uni IN A + (127.0.0.1)"))
    assert(out.quarantine.isEmpty)
  }

  private def soleReason(out: Pipeline.Outputs): String = {
    assert(out.lines.isEmpty, "expected no emitted lines")
    val q = out.quarantine.select("reason").as[String].collect().toSeq
    assert(q.size === 1)
    q.head
  }

  test("drop reason: invalid base64") {
    assert(soleReason(run(envelope("r", Seq("!!!notb64!!!")))) === "base64")
  }

  test("drop reason: invalid utf-8 bytes") {
    val badUtf8 = Base64.getEncoder.encodeToString(Array(0xFF.toByte, 0xFE.toByte))
    assert(soleReason(run(envelope("r", Seq(badUtf8)))) === "base64")
  }

  test("record base64 is read as CPython's b64decode(data).decode('utf-8')") {
    // Decodes generated with python3 (3.11.7):
    // base64.b64decode(s).decode('utf-8'), then json.loads.
    val decodesToNonJson = Seq(
      "QUJD=",    // 'ABC': a pad at quad position 0 is ignored
      "QQ==QQ==", // 'A': the first pad run that ends a quad ends the input
      "QQ===",    // 'A'
      "QQ=A=",    // 'A\x00': a lone pad at position 2 waits for a second
      "=",        // '': json.loads('') raises
      "====")     // ''
    val raises = Seq(
      "Q\u00e9Q==", // ValueError: str.encode('ascii') fails
      "QUJ\u00e9D")
    for (d <- decodesToNonJson)
      assert(soleReason(run(envelope("r", Seq(d)))) === "json", d)
    for (d <- raises)
      assert(soleReason(run(envelope("r", Seq(d)))) === "base64", d)
    // so a valid record with a trailing pad is emitted, and one with a
    // non-ASCII character inside its base64 is dropped
    val data = b64(happyRecord)
    assert(run(envelope("r", Seq(data + "="))).lines.count() === 3)
    assert(soleReason(run(envelope("r",
      Seq(data.take(8) + "\u00e9" + data.drop(8))))) === "base64")
  }

  test("decodedRecords reads a null data as base64") {
    import org.apache.spark.sql.functions._
    val env = spark.range(1).select(
      lit("r").as("requestId"), lit(1L).as("timestamp"),
      array(struct(lit(null).cast("string").as("data"))).as("records"))
    assert(Pipeline.decodedRecords(env).select("reason").as[String]
      .collect().toSeq === Seq("base64"))
  }

  test("drop reason: malformed json") {
    assert(soleReason(run(envelope("r", Seq(b64("{nope"))))) === "json")
  }

  test("drop reason: trailing garbage after the JSON value") {
    // json.loads raises on `{...}garbage` (app/app.py:226,257-258);
    // Jackson only matches with FAIL_ON_TRAILING_TOKENS enabled.
    assert(soleReason(run(envelope("r",
      Seq(b64(happyRecord + "garbage"))))) === "json")
  }

  test("drop reason: second JSON value after the first") {
    assert(soleReason(run(envelope("r",
      Seq(b64(happyRecord + " {}"))))) === "json")
  }

  test("drop reason: missing required field (rcode)") {
    val rec = mutate(happyRecord, """"rcode":"NOERROR",""", "")
    assert(soleReason(run(envelope("r", Seq(b64(rec))))) === "schema")
  }

  test("drop reason: wrong JSON type (srcport as number)") {
    val rec = mutate(happyRecord, """"srcport":"53211"""", """"srcport":53211""")
    assert(soleReason(run(envelope("r", Seq(b64(rec))))) === "schema")
  }

  test("drop reason: answer without Rdata key") {
    val rec = mutate(happyRecord,
      """"answers":[{"Rdata":"203.0.113.9","Type":"A","Class":"IN"},
        |           {"Rdata":"203.0.113.10","Type":"AAAA","Class":"IN"}]""".stripMargin,
      """"answers":[{"Type":"A"}]""")
    assert(soleReason(run(envelope("r", Seq(b64(rec))))) === "schema")
  }

  test("drop reason: srcids without instance") {
    val rec = mutate(happyRecord,
      """"srcids":{"instance":"i-0d15cd0d3example"}""",
      """"srcids":{"resolver":"x"}""")
    assert(soleReason(run(envelope("r", Seq(b64(rec))))) === "schema")
  }

  test("drop reason: fractional-second timestamp") {
    val rec = mutate(happyRecord, "2023-10-15T14:03:07Z", "2023-10-15T14:03:07.123Z")
    assert(soleReason(run(envelope("r", Seq(b64(rec))))) === "timestamp")
  }

  test("poison isolation: valid ++ bad ++ valid emits both valid records") {
    val out = run(envelope("req-p",
      Seq(b64(happyRecord), b64("{nope"), b64(happyRecord))))
    assert(out.lines.count() === 6) // 2 valid records × 3 lines
    assert(out.quarantine.count() === 1)
    assert(out.quarantine.select("record_idx").as[Int].head() === 1)
  }

  test("envelope rejection: missing requestId rejects the whole batch") {
    val env = s"""{"timestamp":1,"records":[{"data":"${b64(happyRecord)}"}]}"""
    val out = run(env)
    assert(out.lines.isEmpty && out.quarantine.isEmpty)
    assert(out.rejectedEnvelopes.select("reject_reason").as[String].head()
      === "requestId_missing")
  }

  test("envelope rejection: over-long record data") {
    val big = "A" * (Schemas.maxDataLength + 4)
    val out = run(envelope("req-big", Seq(big)))
    assert(out.rejectedEnvelopes.select("reject_reason").as[String].head()
      === "data_invalid")
  }

  test("envelope rejection: empty records array") {
    val out = run("""{"requestId":"r","records":[]}""")
    assert(out.rejectedEnvelopes.select("reject_reason").as[String].head()
      === "records_empty")
  }

  test("envelope rejection: numeric requestId (jsonschema type violation)") {
    // from_json would stringify the number; the reference 400s the
    // batch on the jsonschema string-type check (app/app.py:38,88-93).
    val env = s"""{"requestId":7,"records":[{"data":"${b64(happyRecord)}"}]}"""
    val out = run(env)
    assert(out.lines.isEmpty && out.quarantine.isEmpty)
    assert(out.rejectedEnvelopes.select("reject_reason").as[String].head()
      === "requestId_type")
  }

  test("envelope rejection: string timestamp (jsonschema type violation)") {
    // from_json would null the long; the reference 400s the batch on
    // the jsonschema integer-type check (app/app.py:39).
    val env = s"""{"requestId":"r","timestamp":"1697378587123",""" +
      s""""records":[{"data":"${b64(happyRecord)}"}]}"""
    val out = run(env)
    assert(out.lines.isEmpty)
    assert(out.rejectedEnvelopes.select("reject_reason").as[String].head()
      === "timestamp_type")
  }

  test("envelope acceptance: integral-float timestamp passes (draft-7 integer)") {
    val env = s"""{"requestId":"r","timestamp":1697378587123.0,""" +
      s""""records":[{"data":"${b64(happyRecord)}"}]}"""
    val out = run(env)
    assert(out.rejectedEnvelopes.isEmpty && out.lines.count() === 3)
  }

  test("envelope rejection: non-string record data (jsonschema type violation)") {
    val env = """{"requestId":"r","records":[{"data":42}]}"""
    val out = run(env)
    assert(out.rejectedEnvelopes.select("reject_reason").as[String].head()
      === "data_invalid")
  }

  test("envelope gate acceptance table matches jsonschema semantics") {
    val data = b64(happyRecord)
    val cases: Seq[(String, Boolean)] = Seq(
      // (envelope, accepted?)
      (s"""{"requestId":"r","records":[{"data":"$data"}]}""", true),
      // timestamp optional; integer and integral float pass, else fail
      (s"""{"requestId":"r","timestamp":1,"records":[{"data":"$data"}]}""", true),
      (s"""{"requestId":"r","timestamp":1.5,"records":[{"data":"$data"}]}""", false),
      // integral beyond Long range: an integer to jsonschema, while
      // from_json cannot read it as a long
      (s"""{"requestId":"r","timestamp":1e30,"records":[{"data":"$data"}]}""", true),
      (s"""{"requestId":"r","timestamp":true,"records":[{"data":"$data"}]}""", false),
      (s"""{"requestId":"r","timestamp":null,"records":[{"data":"$data"}]}""", false),
      // additionalProperties are allowed by the reference schema
      (s"""{"requestId":"r","extra":"x","records":[{"data":"$data"}]}""", true),
      // records must be an array of objects
      (s"""{"requestId":"r","records":{"data":"$data"}}""", false),
      (s"""{"requestId":"r","records":["$data"]}""", false),
      // root must be an object
      (s"""["$data"]""", false),
      ("not json at all", false),
      // json.loads parity on the byte parse path: a UTF-8 BOM raises
      // in Python ("Unexpected UTF-8 BOM"), and a NUL anywhere in the
      // first bytes (UTF-16-looking input) is never valid UTF-8 JSON
      ("\uFEFF" + s"""{"requestId":"r","records":[{"data":"$data"}]}""",
        false),
      ("\u0000" + s"""{"requestId":"r","records":[{"data":"$data"}]}""",
        false))
    cases.foreach { case (env, shouldAccept) =>
      val out = run(env)
      val accepted = out.rejectedEnvelopes.isEmpty
      assert(accepted === shouldAccept,
        s"envelope $env: accepted=$accepted, want $shouldAccept " +
          s"(reason: ${out.rejectedEnvelopes.collect().mkString(",")})")
      // an accepted envelope must reach the formatter: a from_json
      // coercion that nulls it would otherwise pass as accepted
      if (shouldAccept) assert(out.lines.count() > 0, s"envelope $env: no lines")
    }
  }

  test("ack responses mirror the Firehose response contract (op 16)") {
    val envs = Pipeline.parseEnvelopes(spark.createDataset(Seq(
      envelope("req-ok", Seq(b64(happyRecord))),
      """{"timestamp":1,"records":[{"data":"eA=="}]}""")))
    val acks = Pipeline.ackResponses(envs, receivedAtMs = 1697378587123L)
      .orderBy("requestId").collect()
    assert(acks.map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq === Seq(
      ("req-ok", 1697378587123L, null),
      ("unknown", 1697378587123L,
        "Invalid data format: requestId_missing")))
  }

  test("typed Dataset[DnsQuery] edge carries all 14 fields") {
    val env = Pipeline.parseEnvelopes(
      spark.createDataset(Seq(envelope("req-t", Seq(b64(happyRecord))))))
    val clean = Pipeline.decodedRecords(env).filter($"reason".isNull)
    val q = Pipeline.toDnsQueries(clean).head()
    assert(q.vpc_id === "vpc-7example" && q.srcport === "53211")
    assert(q.answers.map(_.Rdata) ===
      Seq(Some("203.0.113.9"), Some("203.0.113.10")))
    assert(q.srcids === Map("instance" -> "i-0d15cd0d3example"))
    assert(q.query_type === "TXT") // validated, carried, never printed
  }

  test("randomHexTag opt-in: 12-hex shape, one tag shared per record") {
    import org.apache.spark.sql.functions.{array, col, countDistinct, explode, lit, regexp_extract, struct}
    val base = spark.range(8).select(
      col("id"),
      lit("2023-10-15T14:03:07Z").cast("timestamp").as("ts"),
      array(
        struct(lit("1.1.1.1").as("Rdata"), lit("A").as("Type"),
          lit("IN").as("Class")),
        struct(lit("2.2.2.2").as("Rdata"), lit("AAAA").as("Type"),
          lit("IN").as("Class"))).as("answers"))
      // materialize ONCE per record, as the scaladoc prescribes
      .withColumn("tag", Format.randomHexTag())
    val lines = base.select(col("id"),
      explode(Format.bind9Lines(col("ts"), lit("vpc-r"), col("tag"),
        lit("1.2.3.4"), lit("53"), lit("x.example."), col("answers")))
        .as("line"))
      .withColumn("hex", regexp_extract(col("line"), "@0x([0-9a-f]{12})", 1))
    val rows = lines.collect()
    assert(rows.length === 24) // 8 records × (1 query + 2 replies)
    assert(rows.forall(_.getString(2).length === 12),
      "every line must carry an @0x + 12-lowercase-hex tag")
    val perRecord = lines.groupBy("id")
      .agg(countDistinct(col("hex")).as("n")).collect()
    assert(perRecord.forall(_.getLong(1) === 1L),
      "query and reply lines of one record must share one tag")
    assert(lines.agg(countDistinct(col("hex"))).head().getLong(0) >= 2,
      "tags must actually vary across records")
  }

  test("microsoft formatter golden line (dead-code surface, op 13)") {
    val env = Pipeline.parseEnvelopes(
      spark.createDataset(Seq(envelope("req-ms", Seq(b64(happyRecord))))))
    val records = Pipeline.decodedRecords(env)
      .filter($"reason".isNull)
    val line = Pipeline.microsoftDnsLines(records)
      .select("line").as[String].head()
    assert(line ===
      "15/10/2023 14:03:07 0D2C PACKET  0000000001ED00C0 UDP Snd 10.0.0.4 53211 R Q [NOERROR A DR NOERROR] A (12)example.com.(0)")
  }
}
