package graft.dns

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge

/** End-to-end batch composition of the reference pipeline
  * (SURVEY.md §3 entry point 1): envelope documents in → BIND9 lines +
  * quarantined records + rejected envelopes out.
  *
  * Shape: every step is a narrow, codegen-friendly transform — the whole
  * envelope→lines path runs shuffle-free, so it scales linearly with
  * input splits (the 100 TB case is embarrassingly parallel here; cost
  * centers only appear in the analytics layer).
  */
object Pipeline {

  /** Result of one batch: the three disjoint outputs the reference
    * produces implicitly (emit / drop-record / reject-batch), plus the
    * persist handle backing the shared [[routed]] frame (empty when
    * `materializeDecode = false` — the registered single-output
    * queries run cache-free). Multi-output callers call [[Outputs
    * .release]] (or hand `cacheHandles` to
    * `QueryScopedCache.releaseAfter`) once the outputs are consumed; a
    * long-lived session that never releases accumulates cache entries
    * (round-3 verdict). */
  final case class Outputs(
      lines: DataFrame,      // requestId, record_idx, line_idx, line
      quarantine: DataFrame, // requestId, record_idx, data, reason
      rejectedEnvelopes: DataFrame, // requestId, reject_reason
      cacheHandles: Seq[DataFrame] = Nil) {
    /** Unpersist the routed-frame cache (no-op when nothing was
      * persisted). */
    def release(): Unit = cacheHandles.foreach(_.unpersist(blocking = false))
  }

  /** Parse raw envelope JSON documents (one per row) with the declared
    * schema — the `request.get_json()` step (app/app.py:78) — plus the
    * type-strict jsonschema verdict computed on the RAW text before
    * `from_json`'s coercions can mask a type violation (a numeric
    * `requestId` would be stringified, a string `timestamp` nulled —
    * both 400 the whole batch in the reference, app/app.py:35-58,88-93).
    * The carried `envelope_strict_reason` column is consumed (and
    * dropped) by [[envelopeRejectReason]]. */
  def parseEnvelopes(raw: Dataset[String]): DataFrame =
    raw.toDF("json").select(
      from_json(col("json"), Schemas.envelopeSchema).as("env"),
      ExprBridge.column(EnvelopeValidity(ExprBridge.expression(col("json"))))
        .as("envelope_strict_reason"))
      .select(col("env.*"), col("envelope_strict_reason"))

  /** Op 2 — envelope (batch-level) validation, reproducing the
    * jsonschema gate (app/app.py:35-58,79,88-93): a violation rejects
    * the WHOLE batch where later per-record errors drop only the record.
    * Returns null for a valid envelope, else the failed constraint. */
  def envelopeRejectReason(df: DataFrame): DataFrame = {
    val structural =
      when(col("requestId").isNull, lit("requestId_missing"))
        .when(col("records").isNull, lit("records_missing"))
        .when(size(col("records")) < Schemas.minRecordsPerBatch,
          lit("records_empty"))
        .when(size(col("records")) > Schemas.maxRecordsPerBatch,
          lit("records_over_max"))
        .when(!forall(col("records"),
          r => r.getField("data").isNotNull &&
            length(r.getField("data")) <= Schemas.maxDataLength),
          lit("data_invalid"))
        .otherwise(lit(null).cast("string"))
    // Raw-JSON ingest carries the type-strict verdict from
    // parseEnvelopes, which checks every structural rule as well, so
    // it replaces the structural gate (whose per-record length lambda
    // runs interpreted); envelopes built as structured DataFrames are
    // correctly typed by construction and keep the structural gate.
    val reason =
      if (df.columns.contains("envelope_strict_reason"))
        col("envelope_strict_reason")
      else structural
    df.withColumn("reject_reason", reason)
      .drop("envelope_strict_reason")
  }

  /** Ops 3–8 over accepted envelopes: one row per record with validity
    * reason and (for clean rows) the one-pass-parsed fields + event
    * timestamp.
    *
    * Intra-plan parse duplication is solved at the expression level
    * (`DnsRecordParse.deterministic = false` stops CollapseProject
    * from cloning the parse into every field reference — it used to
    * make 42 copies). Cache-free: a caller that needs more than one
    * output of a batch uses [[process]], which shares one [[routed]]
    * frame between them. */
  def decodedRecords(envelopes: DataFrame): DataFrame =
    Decode.parseRecords(Decode.explodeRecords(envelopes))

  /** Adds `lines`, the BIND9 line array of each row where `clean` holds
    * (null elsewhere). The shared line prefix is projected first, so it
    * is computed once per record rather than once per line. */
  private def withLines(records: DataFrame, clean: Column): DataFrame = {
    val dns = col("dns")
    val queryName = dns.getField("query_name")
    val tag = Format.deterministicHexTag(
      col("requestId"), col("record_idx"), queryName,
      dns.getField("query_timestamp"))
    records
      .withColumn("prefix", when(clean, Format.bind9Prefix(
        col("query_ts"), dns.getField("vpc_id"), tag, dns.getField("srcaddr"),
        dns.getField("srcport"), queryName)))
      .withColumn("lines", when(clean, Format.bind9PrefixedLines(
        col("prefix"), queryName, dns.getField("answers"))))
      .drop("prefix")
  }

  /** Ops 7–12 over clean records: typed projection, deterministic client
    * tag, 1+|answers| BIND9 lines, exploded in emit order. */
  def bind9Lines(cleanRecords: DataFrame): DataFrame =
    explodeLines(withLines(cleanRecords, lit(true)))

  private def explodeLines(df: DataFrame): DataFrame =
    df.select(col("requestId"), col("record_idx"), posexplode(col("lines")))
      .withColumnsRenamed(Map("pos" -> "line_idx", "col" -> "line"))

  /** Ops 2–12 as one frame, so one scan of a batch yields all three
    * outputs: one row per record of an accepted envelope and one row per
    * rejected envelope, columns `requestId, record_idx, lines, data,
    * reason, reject_reason`. A row is exactly one of
    *  - a clean record: `lines` holds its BIND9 lines, the rest is null;
    *  - a quarantined record: `data` and `reason`, `lines` is null;
    *  - a rejected envelope: `reject_reason`, everything else null
    *    (`record_idx` too).
    */
  def routed(envelopes: DataFrame): DataFrame = {
    val gated = envelopeRejectReason(envelopes)
    // a rejected envelope's records are nulled, so the outer explode
    // gives it exactly one row, with no record
    val records = gated
      .select(col("requestId"), col("reject_reason"), posexplode_outer(
        when(col("reject_reason").isNull, col("records"))))
      .select(col("requestId"), col("reject_reason"),
        col("pos").as("record_idx"), col("col").getField("data").as("data"))
    val accepted = col("reject_reason").isNull
    val decoded = Decode.parseRecords(records)
      .withColumn("reason", when(accepted, col("reason")))
    withLines(decoded, accepted && col("reason").isNull)
      .select(col("requestId"), col("record_idx"), col("lines"),
        when(col("reason").isNotNull, col("data")).as("data"),
        col("reason"), col("reject_reason"))
  }

  /** The dead-code Microsoft formatter surface (op 13) — same pipeline,
    * one line per record, non-default exactly as in the reference. */
  def microsoftDnsLines(cleanRecords: DataFrame): DataFrame =
    Decode.projectDnsFields(cleanRecords)
      .withColumn("line", Format.microsoftDnsLine(
        col("query_ts"), col("transport"), col("srcaddr"), col("srcport"),
        col("rcode"), col("query_name"), col("answers")))
      .select(col("requestId"), col("record_idx"), col("line"))

  /** Full batch: envelope gate → record decode/validate → split into
    * lines / quarantine / rejected envelopes (op 17 semantics: a poison
    * record quarantines alone; its batch keeps flowing,
    * app/app.py:219-263). All three outputs filter one [[routed]] frame;
    * `materializeDecode` persists it (MEMORY_AND_DISK) so a caller
    * draining more than one output decodes once. A caller consuming a
    * single output passes `false`: nothing is shared, so the cache
    * build would be pure overhead. */
  def process(envelopes: DataFrame,
      materializeDecode: Boolean = true): Outputs = {
    val frame = routed(envelopes)
    val handles =
      if (materializeDecode && !frame.isStreaming)
        Seq(frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else Nil
    Outputs(
      explodeLines(frame.filter(col("lines").isNotNull)),
      frame.filter(col("reason").isNotNull)
        .select(col("requestId"), col("record_idx"), col("data"), col("reason")),
      frame.filter(col("reject_reason").isNotNull)
        .select(col("requestId"), col("reject_reason")),
      handles)
  }

  /** Convenience: raw JSON documents straight to outputs. */
  def processJson(raw: Dataset[String]): Outputs =
    process(parseEnvelopes(raw))

  /** Op 16 — the Firehose HTTP-endpoint response documents: success
    * `{requestId, timestamp}` (app/app.py:99-102), failure
    * `{requestId: "unknown", timestamp, errorMessage}`
    * (app/app.py:88-93). `receivedAtMs` is injected rather than
    * wall-clock so replays are deterministic; a transport layer stamps
    * real receipt time. */
  def ackResponses(envelopes: DataFrame, receivedAtMs: Long): DataFrame =
    envelopeRejectReason(envelopes).select(
      when(col("reject_reason").isNull, col("requestId"))
        .otherwise(lit("unknown")).as("requestId"),
      lit(receivedAtMs).as("timestamp"),
      when(col("reject_reason").isNull, lit(null).cast("string"))
        .otherwise(concat(lit("Invalid data format: "),
          col("reject_reason"))).as("errorMessage"))

  /** Typed edge (op 7's DNSQuery class, app/app.py:107-124): clean
    * decoded records as a Dataset of the 14-field case class, for users
    * who want compile-time row types instead of DataFrames. */
  def toDnsQueries(cleanRecords: DataFrame): Dataset[DnsQuery] = {
    val spark = cleanRecords.sparkSession
    import spark.implicits._
    Decode.projectDnsFields(cleanRecords)
      .select(Schemas.dnsRecordSchema.fieldNames.map(col).toSeq: _*)
      .as[DnsQuery]
  }
}
