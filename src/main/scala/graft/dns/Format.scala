package graft.dns

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Ops 8–13 of SURVEY.md §2: the two output formatters, as pure Column
  * expressions over validated rows.
  *
  * BIND9 formatter: reference app/app.py:146-173 — one query line plus
  * one reply line per answer, all sharing the record's client tag.
  * Microsoft DNS debug formatter: reference app/app.py:126-144 — dead
  * code there (never called, app/app.py:251), shipped here as a second
  * selectable formatter to cover the capability surface.
  *
  * Deliberate deviation (documented, SURVEY.md §7.3): the reference's
  * client tag is `random.randint` per record (app/app.py:153-154);
  * random output breaks replay, retry idempotence, and oracle
  * comparison, so the default tag is a deterministic md5-derived value
  * keyed by record identity. [[randomHexTag]] keeps the reference's
  * literal behavior as an opt-in.
  */
object Format {

  /** strftime("%b %d %H:%M:%S") — syslog prefix (app/app.py:150). */
  def syslogTimestamp(ts: Column): Column = date_format(ts, "MMM dd HH:mm:ss")

  /** strftime("%d-%b-%Y %H:%M:%S.000") — BIND9 body, milliseconds
    * hard-coded to .000 (app/app.py:151). */
  def bind9Timestamp(ts: Column): Column =
    date_format(ts, "dd-MMM-yyyy HH:mm:ss'.000'")

  /** strftime("%d/%m/%Y %H:%M:%S") — Microsoft debug log (app/app.py:131). */
  def microsoftTimestamp(ts: Column): Column =
    date_format(ts, "dd/MM/yyyy HH:mm:ss")

  /** Deterministic stand-in for `"@0x{:012x}".format(random.randint(...))`
    * (app/app.py:153-154): 12 hex chars of md5 over the record identity.
    * One tag per record, shared by its query and reply lines — same
    * sharing the reference gets by generating once per record. */
  def deterministicHexTag(seed: Column*): Column =
    concat(lit("@0x"),
      substring(md5(concat_ws("\u0001", seed.map(_.cast("string")): _*)), 1, 12))

  /** Reference-literal random tag (opt-in; nondeterministic).
    * Materialize it in its own column BEFORE formatting lines
    * (`df.withColumn("tag", randomHexTag())`) so each record draws ONE
    * value shared by its query and reply lines — Catalyst never inlines
    * nondeterministic expressions into multiple use sites, which is
    * exactly the once-per-record sharing the reference gets from
    * generating the tag before building its lines (app/app.py:153-173). */
  def randomHexTag(): Column =
    format_string("@0x%012x", (rand() * lit(0x1000000000000L)).cast("long"))

  /** `answers[0]['Type'] if answers else "A"` (app/app.py:156-157).
    * Quirk preserved: the printed type comes from the FIRST ANSWER, not
    * the record's own query_type field — which is validated but never
    * printed (as is query_class). */
  def firstAnswerType(answers: Column): Column =
    coalesce(try_element_at(answers, lit(1)).getField("Type"), lit("A"))

  /** The text every BIND9 line of a record starts with
    * (app/app.py:160-171): `<syslog ts> <vpc> route53resolver: <bind9 ts>
    * client <tag> <srcaddr>#<srcport> (<query name>): `. The
    * `route53resolver:` program name and ` client ` are constants.
    * Project it in its own column before [[bind9PrefixedLines]] so it is
    * computed once per record, not once per line. */
  def bind9Prefix(ts: Column, vpcId: Column, tag: Column, srcaddr: Column,
      srcport: Column, queryName: Column): Column =
    concat(syslogTimestamp(ts), lit(" "), vpcId, lit(" route53resolver: "),
      bind9Timestamp(ts), lit(" client "), tag, lit(" "), srcaddr, lit("#"),
      srcport, lit(" ("), queryName, lit("): "))

  /** Array of 1 + |answers| lines after a record's [[bind9Prefix]], query
    * line first then answers in array order — the order the reference
    * emits datagrams (app/app.py:158-173,251-253).
    *
    * Query line (app/app.py:160-161): the ` + ` flags field and
    * `(127.0.0.1)` resolver address are constants.
    *
    * Reply lines, one per answer (app/app.py:163-171); zero answers → no
    * reply line. A JSON-null `Rdata` prints `None`: the reference's
    * `.get('Rdata', 'N/A')` default is dead code (the key is required
    * by validation, app/app.py:208), so a null value flows through the
    * f-string as Python's `None` — matched byte-for-byte.
    *
    * `concat` is null when any part is; every part is non-null on a
    * validated record (the type and `Rdata` are coalesced). */
  def bind9PrefixedLines(prefix: Column, queryName: Column,
      answers: Column): Column =
    concat(
      array(concat(prefix, lit("query: "), queryName, lit(" IN "),
        firstAnswerType(answers), lit(" + (127.0.0.1)"))),
      transform(answers, a =>
        concat(prefix, lit("reply: "), queryName, lit(" is "),
          coalesce(a.getField("Rdata"), lit("None")))))

  /** [[bind9PrefixedLines]] of the record's [[bind9Prefix]]. */
  def bind9Lines(ts: Column, vpcId: Column, tag: Column, srcaddr: Column,
      srcport: Column, queryName: Column, answers: Column): Column =
    bind9PrefixedLines(
      bind9Prefix(ts, vpcId, tag, srcaddr, srcport, queryName),
      queryName, answers)

  /** Microsoft DNS debug-log line (app/app.py:126-144). Thread id
    * `0D2C`, two spaces after PACKET, packet id `0000000001ED00C0`, and
    * the doubled rcode are all literal in the reference; the domain name
    * section is the simplified `({len})name(0)` label encoding
    * (app/app.py:138). */
  def microsoftDnsLine(ts: Column, transport: Column, srcaddr: Column,
      srcport: Column, rcode: Column, queryName: Column, answers: Column): Column =
    format_string(
      "%s 0D2C PACKET  0000000001ED00C0 %s Snd %s %s R Q [%s A DR %s] %s (%s)%s(0)",
      microsoftTimestamp(ts), transport, srcaddr, srcport, rcode, rcode,
      firstAnswerType(answers), length(queryName).cast("string"), queryName)
}
