package graft

import graft.dns.{DnsRecordValidity, EnvelopeValidity}
import graft.functions.{CdcChunks, DotProduct, WordShingles}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native expressions for
  * SQL callers:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * SELECT graft_dot(a.v, b.v), graft_shingles(split(text, ' '), 3) ...
  * }}}
  *
  * The public extension mechanism — no private registry access; the
  * DataFrame API reaches the same expressions via
  * [[graft.functions.VectorFunctions]] / [[graft.functions.TextFunctions]].
  *
  * Note: `spark.sql.extensions` is a STATIC conf — it takes effect only
  * when set at context launch (spark-submit / shell `--conf`), not via
  * `spark.conf.set` on a live context. Programmatic callers use
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(arrayA, arrayB)")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2 && children(1).foldable,
          "graft_shingles(words, n) with literal n")
        WordShingles(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))
    // The two strict validators as SQL predicates (null RESULT =
    // valid, else the drop/reject reason; a null INPUT yields "json",
    // never null) — lets SQL-only callers quarantine with the
    // reference's exact semantics, e.g.
    // `WHERE graft_dns_validity(payload) IS NULL`.
    ext.injectFunction((
      FunctionIdentifier("graft_dns_validity"),
      new ExpressionInfo(classOf[DnsRecordValidity].getName,
        "graft_dns_validity"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_dns_validity(payload)")
        DnsRecordValidity(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_envelope_validity"),
      new ExpressionInfo(classOf[EnvelopeValidity].getName,
        "graft_envelope_validity"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_envelope_validity(json)")
        EnvelopeValidity(children.head)
      }))
    // Content-defined chunking of a BINARY payload → array<struct<
    // start, len, chunk_hash>> — the storage-dedup kernel, e.g.
    // `SELECT doc_id, c.* FROM t, LATERAL explode(graft_cdc_chunks(
    // payload)) AS c` for SQL-side chunk inventories.
    ext.injectFunction((
      FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_cdc_chunks(payload)")
        CdcChunks(children.head)
      }))
    // Plan linting (off by default): set spark.graft.planGuard to
    // warn/strict and the scale-hostile logical shapes this engine's
    // own test audit bans (partition-less windows, unbounded collects,
    // cartesian products) are flagged/rejected at optimization time
    // for ANY query in the session.
    ext.injectOptimizerRule(session =>
      new graft.plans.PlanGuardRule(session))
  }
}
