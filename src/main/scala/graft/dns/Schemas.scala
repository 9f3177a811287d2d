package graft.dns

import org.apache.spark.sql.types._

/** Schemas of the two document shapes the reference validates at ingest
  * (SURVEY.md §1.2): the Kinesis Firehose HTTP-endpoint delivery envelope
  * (reference: app/app.py:35-58, jsonschema) and the decoded Route53
  * Resolver query-log record (reference: app/app.py:175-217, hand-rolled
  * type table). Declared, never inferred: `from_json` reads envelopes
  * with [[envelopeSchema]], and the record codec ([[DnsRecordParse]])
  * builds its row type from [[dnsRecordSchema]].
  */
object Schemas {

  /** Envelope: `{requestId, timestamp?, records: [{data: base64}]}`
    * (reference: app/app.py:35-58). `timestamp` is optional there
    * (absent from the `required` list, app/app.py:57). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("requestId", StringType),
    StructField("timestamp", LongType),
    StructField("records", ArrayType(StructType(Seq(
      StructField("data", StringType)))))))

  /** One DNS answer. Reference requires keys `Rdata` and `Type` per
    * element (app/app.py:208); `Class` is present in real Route53 logs
    * and tolerated, never required. */
  val answerSchema: StructType = StructType(Seq(
    StructField("Rdata", StringType),
    StructField("Type", StringType),
    StructField("Class", StringType)))

  /** The 14 required fields of a Route53 Resolver query-log record with
    * the exact types the reference enforces (app/app.py:177-192).
    * `srcport` is a STRING there (app/app.py:189) — a JSON number fails
    * the reference's isinstance check, which is why ingest-side
    * validation checks the JSON tree's node types (see
    * [[DnsValidation]]) rather than `from_json` into this struct, which
    * silently coerces numbers to strings. */
  val dnsRecordSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("account_id", StringType),
    StructField("region", StringType),
    StructField("vpc_id", StringType),
    StructField("query_timestamp", StringType),
    StructField("query_name", StringType),
    StructField("query_type", StringType),
    StructField("query_class", StringType),
    StructField("rcode", StringType),
    StructField("answers", ArrayType(answerSchema)),
    StructField("srcaddr", StringType),
    StructField("srcport", StringType),
    StructField("transport", StringType),
    StructField("srcids", MapType(StringType, StringType))))

  /** The 12 scalar string fields (everything but answers/srcids) whose
    * JSON type must be exactly `string` (app/app.py:177-192). */
  val stringFields: Seq[String] = Seq(
    "version", "account_id", "region", "vpc_id", "query_timestamp",
    "query_name", "query_type", "query_class", "rcode",
    "srcaddr", "srcport", "transport")

  /** Envelope capacity constants (app/app.py:42-43,50). */
  val minRecordsPerBatch = 1
  val maxRecordsPerBatch = 10000
  val maxDataLength = 1365336
}

/** Typed row mirror of the reference's `DNSQuery` class
  * (app/app.py:107-124) for `Dataset[DnsQuery]` edges. */
case class DnsAnswer(Rdata: Option[String], Type: Option[String], Class: Option[String])

case class DnsQuery(
    version: String,
    account_id: String,
    region: String,
    vpc_id: String,
    query_timestamp: String,
    query_name: String,
    query_type: String,
    query_class: String,
    rcode: String,
    answers: Seq[DnsAnswer],
    srcaddr: String,
    srcport: String,
    transport: String,
    srcids: Map[String, String])
