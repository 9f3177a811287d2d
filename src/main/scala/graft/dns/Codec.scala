package graft.dns

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** The scaffold of the codec's expressions: one string child, handed to
  * [[evalUtf8]] as a `UTF8String`. Not null-propagating: a null child
  * reaches `evalUtf8` as null and gets a verdict of its own (a null
  * `data` is a `base64` drop, a null document reads `json`), where a
  * null result would read as valid. So the generated code is written
  * out here rather than by `nullSafeCodeGen`. */
sealed abstract class Utf8Codec extends UnaryExpression {

  def evalUtf8(s: UTF8String): AnyRef

  override def eval(input: InternalRow): Any =
    evalUtf8(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codec = ctx.addReferenceObj("codec", this)
    val c = child.genCode(ctx)
    val t = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        ${c.code}
        $t ${ev.value} = ($t) $codec.evalUtf8(${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = (${ev.value} == null);
      """)
  }
}

/** A document's validity: null for a valid one, else the reason. A
  * null input reads `json`, the verdict `json.loads` gives a missing
  * document, so `WHERE graft_*_validity(x) IS NULL` never passes a null
  * row. */
sealed abstract class Validity extends Utf8Codec {

  protected def reason(json: UTF8String): String

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def evalUtf8(json: UTF8String): UTF8String =
    if (json == null) Validity.json
    else {
      val r = reason(json)
      if (r == null) null else UTF8String.fromString(r)
    }
}

object Validity {
  private val json = UTF8String.fromString("json")
}

/** `graft_dns_validity(payload)`: the record checks of [[DnsRecordParse]]
  * over decoded JSON text — `json`, `schema`, `timestamp` or null. */
case class DnsRecordValidity(child: Expression) extends Validity {

  override def prettyName: String = "graft_dns_validity"

  override protected def reason(payload: UTF8String): String =
    DnsValidation.reason(payload)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_envelope_validity(json)`: [[DnsValidation.envelopeReason]] —
  * the raw-JSON ingest path's batch-level gate, before `from_json`'s
  * coercions can mask a type violation the reference would 400. */
case class EnvelopeValidity(child: Expression) extends Validity {

  override def prettyName: String = "graft_envelope_validity"

  override protected def reason(json: UTF8String): String =
    DnsValidation.envelopeReason(json)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The reference's per-record transform (app/app.py:219-263) as one
  * expression: a record's base64 `data` goes to `struct<reason,
  * query_ts, ...the record fields of Schemas.dnsRecordSchema>`. A
  * dropped record carries only its reason, the first of
  *  - `base64`: `base64.b64decode(data).decode('utf-8')` raises, or
  *    `data` is null;
  *  - `json`: `json.loads` raises;
  *  - `schema`: `is_valid_dns_data` fails;
  *  - `timestamp`: the strict strptime raises;
  * and a clean record carries every field and a null reason. The bytes
  * go from the `UTF8String` through [[DnsValidation.base64Utf8]] into
  * one array that Jackson parses; one tree walk validates and
  * extracts.
  *
  * Why one struct-producing expression, not `from_json` plus field
  * reads: Catalyst's OptimizeJsonExprs rewrites every
  * `from_json(x).field` into its own `from_json`, each with its own copy
  * of the decode below it (33 JSON parses per row in the pipeline plan,
  * when it was built that way). This expression is opaque to that rule,
  * and downstream field reads are `GetStructField`s of one attribute.
  */
case class DnsRecordParse(child: Expression) extends Utf8Codec {

  override def dataType: DataType = DnsRecordParse.schema

  override def nullable: Boolean = false

  override def prettyName: String = "graft_dns_parse"

  // Declared non-deterministic although the parse is pure: Catalyst's
  // CollapseProject clones a deterministic expression into every
  // downstream field reference (42 copies of this parse in the lines
  // plan when it was deterministic), each evaluated per row. The flag
  // keeps it evaluated once, in one Project, with the fields read from
  // its attribute; nothing can be pushed below a whole-record parse
  // anyway.
  //
  // Because the flag is a lie, a non-deterministic expression is only
  // legal in Project/Filter/Aggregate/Window: in a grouping key, join
  // condition or sort key it fails analysis. So it stays at Decode's
  // one Project position and is never registered for SQL.
  // PlanAuditSpec pins one parse per pipeline plan; GraftExtensionsSpec
  // pins the SQL registrations.
  override lazy val deterministic: Boolean = false

  override def evalUtf8(data: UTF8String): InternalRow =
    DnsRecordParse.parse(data)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DnsRecordParse {

  val schema: StructType = StructType(
    StructField("reason", StringType) +: StructField("query_ts", TimestampType) +:
      Schemas.dnsRecordSchema.fields)

  private val index = schema.fieldNames.zipWithIndex.toMap
  private val answerFields = Schemas.answerSchema.fieldNames
  private val reasons =
    Seq("base64", "json", "schema", "timestamp")
      .map(r => r -> UTF8String.fromString(r)).toMap

  private def utf8(n: JsonNode): UTF8String =
    if (n == null || n.isNull) null else UTF8String.fromString(n.asText())

  private def dropped(reason: String): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    row.update(0, reasons(reason))
    row
  }

  def parse(data: UTF8String): InternalRow = {
    if (data == null) return dropped("base64")
    val bytes = new Array[Byte]((data.numBytes + 3) / 4 * 3)
    val len = DnsValidation.base64Utf8(data, bytes)
    if (len < 0) return dropped("base64")
    val root = DnsValidation.treeOrNull(bytes, len)
    if (root == null) return dropped("json")
    if (DnsValidation.structuralReason(root) != null) return dropped("schema")
    // the timestamp is both the last check and the event-time field
    val ts = DnsValidation.tsFromTree(root)
    if (ts == null) return dropped("timestamp")
    val row = new GenericInternalRow(schema.length)
    row.update(index("query_ts"),
      java.lang.Long.valueOf(ts.toEpochSecond(ZoneOffset.UTC) * 1000000L))
    Schemas.stringFields.foreach(f => row.update(index(f), utf8(root.get(f))))
    val answers = root.get("answers")
    val arr = new Array[Any](answers.size())
    var i = 0
    val it = answers.elements()
    while (it.hasNext) {
      val a = it.next()
      arr(i) = new GenericInternalRow(
        answerFields.map(f => utf8(a.get(f)): Any))
      i += 1
    }
    row.update(index("answers"), new GenericArrayData(arr))
    val keys = new scala.collection.mutable.ArrayBuffer[Any]
    val vals = new scala.collection.mutable.ArrayBuffer[Any]
    // properties(): fields() is deprecated in the shipped Jackson
    val srcids = root.get("srcids").properties().iterator()
    while (srcids.hasNext) {
      val e = srcids.next()
      keys += UTF8String.fromString(e.getKey)
      vals += utf8(e.getValue)
    }
    row.update(index("srcids"), new ArrayBasedMapData(
      new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray)))
    row
  }
}

/** The checks behind the codec's expressions and FrontDoor's envelope
  * gate, each matching what the reference's Python raises on. */
object DnsValidation {

  // FAIL_ON_TRAILING_TOKENS: Python's json.loads raises on trailing
  // garbage after the first JSON value (app/app.py:226 drops the
  // record via the JSONDecodeError arm, :257-258); Jackson's default
  // readTree would silently accept `{...}garbage`.
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val strictTs: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** The six-bit value of each ASCII byte of the standard base64
    * alphabet, -1 for every other byte. */
  private val sextets: Array[Int] = {
    val t = Array.fill(128)(-1)
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
      .zipWithIndex.foreach { case (c, v) => t(c) = v }
    t
  }

  /** CPython's `base64.b64decode(s).decode('utf-8')` over `s`'s UTF-8
    * bytes: writes the decoded bytes into `out` (at least
    * `(s.numBytes + 3) / 4 * 3` long) and returns their count, or -1
    * where Python raises:
    *  - any byte >= 0x80, since `b64decode` first encodes a `str` as
    *    ASCII;
    *  - then `binascii.a2b_base64`'s non-strict state machine: bytes
    *    outside the alphabet are skipped, a `=` at quad position 0 or 1
    *    is ignored, the first `=` run that completes a quad ends the
    *    input, and a quad left unfinished raises;
    *  - then the decoded bytes must be well-formed UTF-8. */
  def base64Utf8(s: UTF8String, out: Array[Byte]): Int = {
    val n = s.numBytes
    var quad = 0 // position in the current quad; -1 once a pad run ends the input
    var pads = 0
    var left = 0
    var o = 0
    var i = 0
    while (i < n) {
      val c = s.getByte(i)
      if (c < 0) return -1
      if (quad >= 0) {
        if (c == '=') {
          if (quad >= 2) {
            pads += 1
            if (quad + pads >= 4) quad = -1
          }
        } else {
          val v = sextets(c)
          if (v >= 0) {
            pads = 0
            quad match {
              case 0 => left = v
              case 1 => out(o) = ((left << 2) | (v >> 4)).toByte; o += 1; left = v & 0x0f
              case 2 => out(o) = ((left << 4) | (v >> 2)).toByte; o += 1; left = v & 0x03
              case 3 => out(o) = ((left << 6) | v).toByte; o += 1
            }
            quad = (quad + 1) & 3
          }
        }
      }
      i += 1
    }
    if (quad > 0 || !isUtf8(out, o)) -1 else o
  }

  /** Well-formed UTF-8, as Python's strict `decode('utf-8')` reads it
    * (RFC 3629: no overlongs, no surrogates, at most U+10FFFF). */
  private def isUtf8(b: Array[Byte], n: Int): Boolean = {
    var i = 0
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // continuation or overlong lead
      else if (c < 0xe0) { // 2-byte
        if (i + 1 >= n || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) { // 3-byte
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80) return false
        if (c == 0xe0 && c1 < 0xa0) return false // overlong
        if (c == 0xed && c1 > 0x9f) return false // surrogate
        i += 3
      } else if (c < 0xf5) { // 4-byte
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 ||
          (b(i + 3) & 0xc0) != 0x80) return false
        if (c == 0xf0 && c1 < 0x90) return false // overlong
        if (c == 0xf4 && c1 > 0x8f) return false // > U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** Jackson's byte-source bootstrapper inspects the first bytes and
    * will happily SKIP a UTF-8 BOM or auto-detect UTF-16/32 — both of
    * which Python's json.loads rejects ("Unexpected UTF-8 BOM";
    * NUL bytes are unparseable in a str). Gate those byte patterns up
    * front so the byte path keeps json.loads parity: a leading EF BB BF
    * (UTF-8 BOM), or any of FE/FF/00 among the first bytes (UTF-16/32
    * BOMs and NUL-interleaved encodings — all invalid as UTF-8 JSON),
    * are a parse failure.
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

  /** Parsed tree of the first `len` bytes, or null where json.loads
    * would raise (bad syntax, trailing tokens, empty input, BOM or
    * non-UTF-8 prefix). On the record path the bytes are already
    * well-formed UTF-8; on the SQL and envelope paths a malformed
    * sequence fails Jackson's parse (`json`), as the reference never
    * accepts such a body (Flask's get_json 400s it). */
  private[dns] def treeOrNull(bytes: Array[Byte], len: Int): JsonNode = {
    if (nonUtf8JsonPrefix(bytes, len)) return null
    val root =
      try mapper.readTree(bytes, 0, len)
      catch { case _: Exception => return null }
    if (root == null || root.isMissingNode) null else root
  }

  /** `schema` where `is_valid_dns_data` fails (app/app.py:175-217),
    * else null; the timestamp is [[tsFromTree]]'s. */
  private[dns] def structuralReason(root: JsonNode): String = {
    if (!root.isObject) return "schema"
    if (!Schemas.stringFields.forall { f =>
      val v = root.get(f)
      v != null && v.isTextual
    }) return "schema"
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
  private[dns] def tsFromTree(root: JsonNode): LocalDateTime =
    try LocalDateTime.parse(root.get("query_timestamp").asText(), strictTs)
    catch { case _: Exception => null }

  /** Reason (`json` / `schema` / `timestamp`) for decoded record text,
    * or null, in the reference's except-arm order (app/app.py:255-263).
    * Reads the string's bytes as they are. */
  def reason(payload: UTF8String): String = {
    val b = payload.getBytes
    val root = treeOrNull(b, b.length)
    if (root == null) "json"
    else {
      val r = structuralReason(root)
      if (r != null) r else if (tsFromTree(root) == null) "timestamp" else null
    }
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
    * points, as Python's len does. Reads the string's bytes as they
    * are. */
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
    val root = treeOrNull(bytes, len)
    if (root == null) return Left("json")
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
    if (recs.size() < Schemas.minRecordsPerBatch) return Left("records_empty")
    if (recs.size() > Schemas.maxRecordsPerBatch) return Left("records_over_max")
    val it = recs.elements()
    while (it.hasNext) {
      val r = it.next()
      if (!r.isObject) return Left("record_type")
      val d = r.get("data")
      if (d == null || !d.isTextual) return Left("data_invalid")
      val s = d.asText()
      if (s.codePointCount(0, s.length) > Schemas.maxDataLength)
        return Left("data_invalid")
    }
    Right(root)
  }
}
