package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, Locale}
import scala.util.Random

/** One generated Route53 record: its base64 `data`, the quarantine
  * reason the pipeline must give it (null = clean) and, for a clean
  * record, the exact datagrams it must produce. */
final case class Rec(name: String, data: String, reason: String,
    datagrams: Array[String])

/** One Firehose delivery envelope: the JSON body as posted/spooled,
  * its records, and the envelope-level reject reason (null = accepted). */
final case class Env(requestId: String, body: String, records: Array[Rec],
    rejectReason: String) {
  def datagrams: Iterator[String] = records.iterator.flatMap(_.datagrams)
}

/** Seeded envelope generator with an independent expectation: the
  * expected syslog datagrams are rendered here from the generated
  * fields, never through graft.dns.Format or graft.dns.Decode, so a
  * formatter or decoder regression shows as a datagram mismatch.
  *
  * Every record gets a unique query name, so a datagram maps back to
  * exactly one record and envelope. */
object Envelopes {

  val PoisonReasons: Seq[String] = Seq("base64", "json", "schema", "timestamp")

  private val strictTs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val syslogTs = DateTimeFormatter.ofPattern("MMM dd HH:mm:ss", Locale.US)
  private val bind9Ts =
    DateTimeFormatter.ofPattern("dd-MMM-yyyy HH:mm:ss'.000'", Locale.US)
  private val types = Array("A", "AAAA", "CNAME", "MX")
  private val baseEpoch =
    LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)

  /** Mix of one workload: record counts per envelope, share of poison
    * records and share of rejected envelopes. */
  final case class Mix(minRecords: Int, maxRecords: Int,
      poisonShare: Double, rejectShare: Double)

  /** `n` envelopes for `seed`; `label` keeps names unique across
    * batches generated in one run. Record counts are uniform on
    * [minRecords, maxRecords] and paired to a fixed mean. Exactly
    * round(n × rejectShare) envelopes (at least one when the share is
    * positive) are rejected. */
  def generate(seed: Long, label: String, n: Int, mix: Mix): Array[Env] = {
    val rnd = new Random(seed * 1000003L + label.hashCode)
    val nReject =
      if (mix.rejectShare <= 0) 0
      else math.max(1, math.round(n * mix.rejectShare).toInt)
    // reject kinds alternate by draw order, so every batch of a given
    // size holds the same kinds whatever the seed
    val rejects = rnd.shuffle((0 until n).toVector).take(nReject).zipWithIndex.toMap
    // sizes come in mirrored pairs (k, min + max - k), so a batch's
    // record total does not drift with the seed
    var prev = 0
    Array.tabulate(n) { i =>
      val nRec =
        if (i % 2 == 1) mix.minRecords + mix.maxRecords - prev
        else mix.minRecords + rnd.nextInt(mix.maxRecords - mix.minRecords + 1)
      prev = nRec
      envelope(rnd, s"$label-$i", nRec, mix.poisonShare,
        rejects.get(i).map(k => if (k % 2 == 0) "timestamp_type" else "records_empty")
          .orNull)
    }
  }

  private def envelope(rnd: Random, id: String, nRec: Int, poison: Double,
      reject: String): Env = {
    val requestId = s"req-$id"
    val recs =
      if (reject == "records_empty") Array.empty[Rec]
      else Array.tabulate(nRec) { j =>
        val reason =
          if (rnd.nextDouble() < poison) PoisonReasons(rnd.nextInt(4)) else null
        record(rnd, requestId, j, s"r$j.$id.example.com", reason)
      }
    val ts = if (reject == "timestamp_type") "\"1700000000000\"" else "1700000000000"
    val sb = new java.lang.StringBuilder(recs.map(_.data.length + 12).sum + 80)
    sb.append("{\"requestId\": \"").append(requestId)
      .append("\", \"timestamp\": ").append(ts).append(", \"records\": [")
    recs.indices.foreach { j =>
      if (j > 0) sb.append(", ")
      sb.append("{\"data\": \"").append(recs(j).data).append("\"}")
    }
    sb.append("]}")
    // a rejected envelope produces no datagrams, whatever its records hold
    val kept = if (reject == null) recs else recs.map(_.copy(datagrams = Array.empty))
    Env(requestId, sb.toString, kept, reject)
  }

  private def record(rnd: Random, requestId: String, idx: Int, name: String,
      reason: String): Rec = {
    val t = LocalDateTime.ofEpochSecond(
      baseEpoch + rnd.nextInt(365 * 86400), 0, ZoneOffset.UTC)
    val qts = t.format(strictTs)
    val vpc = f"vpc-${rnd.nextInt(0x1000000)}%06x"
    val srcaddr = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
    val srcport = (1024 + rnd.nextInt(60000)).toString
    val nAns = rnd.nextInt(5)
    // (Rdata, Type); Rdata is distinct per answer so no two reply lines
    // of one record coincide, and the first may be JSON null ("None")
    val answers = Array.tabulate(nAns) { k =>
      val rdata =
        if (k == 0 && rnd.nextInt(20) == 0) null
        else s"192.0.${k}.${rnd.nextInt(256)}"
      (rdata, types(rnd.nextInt(types.length)))
    }
    val tsField = if (reason == "timestamp") qts.dropRight(1) + ".250Z" else qts
    val srcportField = if (reason == "schema") srcport else "\"" + srcport + "\""
    val payload = new java.lang.StringBuilder(400)
    payload.append("{\"version\": \"1.100000\", \"account_id\": \"123456789012\", ")
      .append("\"region\": \"us-east-1\", \"vpc_id\": \"").append(vpc)
      .append("\", \"query_timestamp\": \"").append(tsField)
      .append("\", \"query_name\": \"").append(name)
      .append("\", \"query_type\": \"A\", \"query_class\": \"IN\", ")
      .append("\"rcode\": \"NOERROR\", \"answers\": [")
    answers.indices.foreach { k =>
      if (k > 0) payload.append(", ")
      val (rd, ty) = answers(k)
      payload.append("{\"Rdata\": ")
        .append(if (rd == null) "null" else "\"" + rd + "\"")
        .append(", \"Type\": \"").append(ty).append("\", \"Class\": \"IN\"}")
    }
    payload.append("], \"srcaddr\": \"").append(srcaddr)
      .append("\", \"srcport\": ").append(srcportField)
      .append(", \"transport\": \"UDP\", \"srcids\": {\"instance\": \"i-")
      .append(f"${rnd.nextInt(0x10000000)}%08x").append("\"}}")
    val text = if (reason == "json") payload.substring(0, payload.length - 3)
      else payload.toString
    val b64 = Base64.getEncoder.encodeToString(text.getBytes(UTF_8))
    // strict base64 rejects a length that is not a multiple of 4
    val data = if (reason == "base64") b64.dropRight(1) else b64
    val datagrams =
      if (reason != null) Array.empty[String]
      else render(requestId, idx, name, qts, vpc, srcaddr, srcport, answers)
    Rec(name, data, reason, datagrams)
  }

  /** The BIND9 lines of one clean record as syslog datagrams: `<30>`
    * PRI prefix, trailing NUL, a 12-hex md5 client tag over the record
    * identity, one query line then one reply line per answer. */
  def render(requestId: String, idx: Int, name: String, qts: String,
      vpc: String, srcaddr: String, srcport: String,
      answers: Array[(String, String)]): Array[String] = {
    val t = LocalDateTime.parse(qts, strictTs)
    val head = s"${t.format(syslogTs)} $vpc route53resolver: ${t.format(bind9Ts)} " +
      s"client ${tag(requestId, idx, name, qts)} $srcaddr#$srcport ($name): "
    val firstType = answers.headOption.map(_._2).getOrElse("A")
    val lines = (head + s"query: $name IN $firstType + (127.0.0.1)") +:
      answers.map { case (rd, _) =>
        head + s"reply: $name is ${if (rd == null) "None" else rd}"
      }
    lines.map(l => s"<30>$l\u0000")
  }

  private def tag(parts: Any*): String = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(parts.mkString("\u0001").getBytes(UTF_8))
    "@0x" + d.map(b => f"${b & 0xff}%02x").mkString.take(12)
  }

  /** Expected quarantine rows (requestId, record_idx, reason) of the
    * accepted envelopes. */
  def quarantine(envs: Iterable[Env]): Set[(String, Int, String)] =
    envs.iterator.filter(_.rejectReason == null).flatMap { e =>
      e.records.iterator.zipWithIndex.collect {
        case (r, j) if r.reason != null => (e.requestId, j, r.reason)
      }
    }.toSet
}
