package graft.analytics

import graft.dns.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship capability under the oracle gate: drive the REAL DNS
  * pipeline (graft.dns.Pipeline — envelope validation, base64 decode,
  * variant strict-validation, timestamp parse, BIND9 formatting,
  * line explode) over synthetic envelopes built deterministically from
  * the `events` table, and check the final emitted lines against a
  * DuckDB oracle that computes the same lines directly from the event
  * columns. If any pipeline stage (decode, validation, formatting,
  * tag derivation) drifts, the lines stop matching — an end-to-end
  * differential test of the whole reference-equivalent path.
  */
object PipelineQueries {
  import RelationalQueries.Q

  /** The decode path is CPU-bound, and a one-file bench fixture
    * arrives as a single input split that would otherwise run on one
    * core. Spread ONLY when the scan's own split count can't feed
    * every core (round-3 ADVICE #1) — shared logic in
    * [[Tables.spread]], now also applied to the documents/embeddings
    * families. */
  private def spread(df: DataFrame): DataFrame = Tables.spread(df)

  val qDnsPipelineFull = Q(
    "q_dns_pipeline_full",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val record = to_json(struct(
        lit("1.100000").as("version"),
        lit("111122223333").as("account_id"),
        lit("eu-west-1").as("region"),
        concat(lit("vpc-"), (col("user_id") % 10).cast("string")).as("vpc_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("query_timestamp"),
        concat(lit("u"), col("user_id").cast("string"),
          lit(".example.com.")).as("query_name"),
        lit("A").as("query_type"),
        lit("IN").as("query_class"),
        lit("NOERROR").as("rcode"),
        array(struct(
          col("event_id").cast("string").as("Rdata"),
          col("event_type").as("Type"),
          lit("IN").as("Class"))).as("answers"),
        concat(lit("10.0.0."), (col("user_id") % 250).cast("string"))
          .as("srcaddr"),
        (lit(1024) + col("event_id") % 60000).cast("string").as("srcport"),
        lit("UDP").as("transport"),
        map(lit("instance"),
          concat(lit("i-"), col("event_id").cast("string"))).as("srcids")))
      val envelopes = spread(ev)
        .select(
          concat(lit("req-"), col("event_id").cast("string")).as("requestId"),
          col("event_id").as("timestamp"),
          array(struct(base64(encode(record, "UTF-8")).as("data")))
            .as("records"))
      // lines is the only output consumed → no decode materialization
      val out = Pipeline.process(envelopes, materializeDecode = false)
      out.lines
        .select(col("requestId"), col("line_idx"), col("line"))
        .orderBy(col("requestId"), col("line_idx"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      base AS (
        SELECT 'req-' || CAST(event_id AS VARCHAR) AS requestId,
               'u' || CAST(user_id AS VARCHAR) || '.example.com.' AS qname,
               strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS qts,
               'vpc-' || CAST(user_id % 10 AS VARCHAR) AS vpc,
               '10.0.0.' || CAST(user_id % 250 AS VARCHAR) AS srcaddr,
               CAST(1024 + event_id % 60000 AS VARCHAR) AS srcport,
               event_type,
               CAST(event_id AS VARCHAR) AS rdata,
               ts
        FROM e),
      fmt AS (
        SELECT requestId,
               strftime(ts, '%b %d %H:%M:%S') AS slts,
               strftime(ts, '%d-%b-%Y %H:%M:%S') || '.000' AS b9ts,
               '@0x' || SUBSTR(MD5(requestId || CHR(1) || '0' || CHR(1) ||
                 qname || CHR(1) || qts), 1, 12) AS tag,
               vpc, srcaddr, srcport, qname, event_type, rdata
        FROM base)
      SELECT requestId, line_idx, line FROM (
        SELECT requestId, 0 AS line_idx,
               slts || ' ' || vpc || ' route53resolver: ' || b9ts ||
               ' client ' || tag || ' ' || srcaddr || '#' || srcport ||
               ' (' || qname || '): query: ' || qname || ' IN ' ||
               event_type || ' + (127.0.0.1)' AS line
        FROM fmt
        UNION ALL
        SELECT requestId, 1 AS line_idx,
               slts || ' ' || vpc || ' route53resolver: ' || b9ts ||
               ' client ' || tag || ' ' || srcaddr || '#' || srcport ||
               ' (' || qname || '): reply: ' || qname || ' is ' || rdata
        FROM fmt) lines
      ORDER BY requestId, line_idx"""))

  /** Same differential construction for the Microsoft DNS debug-log
    * formatter (the reference's dead-code second format, op 13). */
  val qDnsPipelineMs = Q(
    "q_dns_pipeline_ms",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val record = to_json(struct(
        lit("1.100000").as("version"),
        lit("111122223333").as("account_id"),
        lit("eu-west-1").as("region"),
        concat(lit("vpc-"), (col("user_id") % 10).cast("string")).as("vpc_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("query_timestamp"),
        concat(lit("u"), col("user_id").cast("string"),
          lit(".example.com.")).as("query_name"),
        lit("A").as("query_type"),
        lit("IN").as("query_class"),
        lit("NOERROR").as("rcode"),
        array(struct(
          col("event_id").cast("string").as("Rdata"),
          col("event_type").as("Type"),
          lit("IN").as("Class"))).as("answers"),
        concat(lit("10.0.0."), (col("user_id") % 250).cast("string"))
          .as("srcaddr"),
        (lit(1024) + col("event_id") % 60000).cast("string").as("srcport"),
        lit("UDP").as("transport"),
        map(lit("instance"),
          concat(lit("i-"), col("event_id").cast("string"))).as("srcids")))
      val envelopes = spread(ev)
        .select(
          concat(lit("req-"), col("event_id").cast("string")).as("requestId"),
          col("event_id").as("timestamp"),
          array(struct(base64(encode(record, "UTF-8")).as("data")))
            .as("records"))
      val clean =
        Pipeline.decodedRecords(envelopes).filter(col("reason").isNull)
      Pipeline.microsoftDnsLines(clean)
        .select(col("requestId"), col("line"))
        .orderBy(col("requestId"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events)
      SELECT 'req-' || CAST(event_id AS VARCHAR) AS requestId,
             strftime(ts, '%d/%m/%Y %H:%M:%S') ||
             ' 0D2C PACKET  0000000001ED00C0 UDP Snd ' ||
             '10.0.0.' || CAST(user_id % 250 AS VARCHAR) || ' ' ||
             CAST(1024 + event_id % 60000 AS VARCHAR) ||
             ' R Q [NOERROR A DR NOERROR] ' || event_type || ' (' ||
             CAST(LENGTH('u' || CAST(user_id AS VARCHAR) || '.example.com.')
                  AS VARCHAR) || ')' ||
             'u' || CAST(user_id AS VARCHAR) || '.example.com.' || '(0)'
               AS line
      FROM e ORDER BY requestId"""))

  val all: Seq[Q] = Seq(qDnsPipelineFull, qDnsPipelineMs)
}
