package graft.dns

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge

/** Ops 3–8 of SURVEY.md §2: record unnest, then base64 + UTF-8 decode,
  * JSON parse, structural validation and timestamp parse as the one
  * native expression [[DnsRecordParse]], so Catalyst keeps the whole
  * chain in one narrow stage.
  *
  * Strictness parity with the reference's per-record `try/except`
  * (app/app.py:219-263): where Python raises, the record carries a
  * `reason` column (null = clean) instead of throwing. That reproduces
  * the reference's "one poison record never fails its batch" semantics
  * (op 17) while upgrading silent drops to a quarantinable side output.
  */
object Decode {

  /** Explode `records[]` (op 3, app/app.py:219-220): 1 envelope → N
    * record rows, keeping (requestId, record_idx) as the stable record
    * identity used by the deterministic client tag. */
  def explodeRecords(envelopes: DataFrame): DataFrame =
    envelopes.select(
      col("requestId"),
      col("timestamp"),
      posexplode(col("records")))
      .withColumnsRenamed(Map("pos" -> "record_idx", "col" -> "record"))
      .select(col("requestId"), col("timestamp"), col("record_idx"),
        col("record").getField("data").as("data"))

  /** Ops 4–8 in one expression per record: `dns` is [[DnsRecordParse]]
    * of `data`, and `reason` (null = clean) and `query_ts` are read out
    * of it. */
  def parseRecords(records: DataFrame): DataFrame =
    records
      .withColumn("dns",
        ExprBridge.column(DnsRecordParse(ExprBridge.expression(col("data")))))
      .withColumn("reason", col("dns").getField("reason"))
      .withColumn("query_ts", col("dns").getField("query_ts"))

  /** Record construction (op 7, app/app.py:234-249): project the 14
    * validated fields out of the one-pass parse struct — every column
    * is a cheap GetStructField of the single `dns` attribute, so
    * nothing re-parses downstream. */
  def projectDnsFields(clean: DataFrame): DataFrame =
    clean.select(
      Seq(col("requestId"), col("record_idx"), col("query_ts")) ++
        Schemas.stringFields.map(f => col("dns").getField(f).as(f)) ++
        Seq(col("dns").getField("answers").as("answers"),
          col("dns").getField("srcids").as("srcids")): _*)
}
