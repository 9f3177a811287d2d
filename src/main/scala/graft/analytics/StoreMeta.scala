package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** The store skeleton shared by the four persisted stores
  * ([[SignatureStore]], [[EmbeddingSignatureStore]], [[TextIndex]],
  * [[VectorIndex]]): generation naming, the generation write frame,
  * marked part-table writes, frozen-layout appends and the atomic
  * generation pointer. Each store keeps only its own algorithm and
  * states its parts; every catalog decision lives here.
  *
  * Problem this solves: a store refresh (a `reingest`, or a full
  * re-`ingest`) that overwrites the physical tables in place gives a
  * racing reader only fail-cleanly-or-one-generation — mid-overwrite,
  * the reader's lazy plan can hit a dropped table. The production
  * guarantee is ALWAYS-CONSISTENT reads: every physical table name
  * carries a generation suffix (`{store}_{part}_g{N}`), writers build
  * the next generation BESIDE the current one ([[writeGeneration]]),
  * and publication is one atomic catalog operation — an
  * `ALTER TABLE ... SET TBLPROPERTIES` on the store's tiny
  * `{store}_meta` table, which holds the pointer (`graft.store.gen`)
  * rather than any data.
  *
  * Retention is keep-two: committing generation N retires N-2, so a
  * reader that resolved its generation before a swap keeps complete,
  * undropped tables through ONE concurrent refresh (the racing-reader
  * spec's scenario). A reader that lags TWO refreshes fails cleanly on
  * missing files — the documented bound, same shape as snapshot
  * retention in table formats. Readers must resolve the generation
  * ONCE per logical operation ([[current]]: all parts from the same
  * `gen` value), never per-table — that is what makes an answer
  * one-generation by construction.
  *
  * Ownership: every table a store writes carries the `graft.store`
  * table property, and no table without it is ever dropped or reused
  * — an unrelated table whose name collides with the store prefix
  * makes the writer fail instead of being destroyed.
  *
  * Crash safety: a writer that dies after writing part tables but
  * before the commit leaves the pointer untouched — readers never see
  * the partial generation, and the next writer targets the same
  * number and drops the (marked) partials first.
  *
  * The meta table doubles as the store's durable statistics carrier:
  * `graft.store.ndocs` records the RAW corpus document count at
  * ingest, bumped by every admit — the df-threshold basis the
  * signature store's `reingest` needs (a count derived from stored
  * sizes would silently exclude docs whose shingles were all stopped,
  * compounding toward over-stopping across refresh cycles).
  *
  * Format break & migration: stores written before generations used
  * unsuffixed names (`{store}_stop`, ...) and cannot be refreshed in
  * place by this code. [[migrate]] upgrades them: rename each marked
  * legacy table to its `_g1` name (metadata — bucketing, marker —
  * travels with the rename) and commit generation 1. A pre-marker
  * legacy table must first be verified by its owner and stamped
  * (`ALTER TABLE t SET TBLPROPERTIES ('graft.store' = 'true')`);
  * the error message says exactly that. */
private[analytics] object StoreMeta {

  private val Marker = "graft.store"
  private val GenKey = "graft.store.gen"
  private val NDocsKey = "graft.store.ndocs"

  /** A part table's bucket layout: `n` buckets on `key`, sorted by
    * `key`. `align` hash-repartitions the rows to the bucket count
    * first ([[Bucketing.alignToBuckets]]: one file per bucket). */
  final case class Buckets(key: String, n: Int, align: Boolean = true)

  /** One generation under construction: `g(part)` is the part's
    * physical name, [[write]] lands a part as a marked table. */
  final class Generation private[StoreMeta] (s: SparkSession,
      store: String, gen: Long) {
    def apply(part: String): String = name(store, part, gen)

    /** Write `df` as part `part` of this generation: a parquet table,
      * bucketed when `buckets` is given, branded with the marker. */
    def write(part: String, df: DataFrame,
        buckets: Option[Buckets] = None): Unit =
      writeMarked(s, df, apply(part), buckets)
  }

  def metaTable(store: String): String = s"${store}_meta"

  /** Physical table name of `part` in generation `gen`. */
  def name(store: String, part: String, gen: Long): String =
    s"${store}_${part}_g$gen"

  /** The committed generation, or None before the first commit. */
  def gen(s: SparkSession, store: String): Option[Long] =
    prop(s, store, GenKey).map(_.toLong)

  def genOrFail(s: SparkSession, store: String): Long =
    gen(s, store).getOrElse(throw new IllegalStateException(
      s"store '$store' has no committed generation — run ingest first " +
        "(for a pre-generation store layout, run migrate)"))

  /** Part → physical name in the committed generation, resolved ONCE
    * for a whole logical operation (see the class doc); throws before
    * the first commit. */
  def current(s: SparkSession, store: String): String => String = {
    val g = genOrFail(s, store)
    part => name(store, part, g)
  }

  /** Current-generation physical name of one `part`. */
  def table(s: SparkSession, store: String, part: String): String =
    current(s, store)(part)

  /** Raw corpus document count (ingest-recorded, admit-bumped). */
  def docCount(s: SparkSession, store: String): Option[Long] =
    prop(s, store, NDocsKey).map(_.toLong)

  /** The generation write frame every ingest and reingest runs in:
    * check the meta table is ours BEFORE any heavy work, pick the next
    * generation number, drop its stale part tables (a crashed prior
    * writer's partials, or a previous JVM's on-disk leftovers the
    * in-memory catalog forgot, which would fail the write with
    * LOCATION_ALREADY_EXISTS), let `body` write every part, then
    * commit with the `ndocs` it returns (None carries the current
    * value forward). Readers keep answering from the committed
    * generation until that commit. */
  def writeGeneration(s: SparkSession, store: String, parts: Seq[String])(
      body: Generation => Option[Long]): Unit = {
    requireOurs(s, metaTable(store))
    val g = gen(s, store).map(_ + 1).getOrElse(1L)
    parts.foreach(p => dropStale(s, name(store, p, g)))
    commit(s, store, g, parts, body(new Generation(s, store, g)))
  }

  /** Append `df` to the committed part table `table` under its FROZEN
    * layout: the bucket key and count are read from the catalog (the
    * ingest-time choice is authoritative). `align` as in [[Buckets]].
    *
    * The write runs on `df`'s session — inside foreachBatch that is
    * the micro-batch clone, whose automatic refresh only invalidates
    * ITS OWN relation cache. So the table is refreshed through the
    * caller's session `s` too, or its next read would hit a stale
    * cached file index and silently miss everything just appended
    * (caught live by the streaming daily-loop spec). */
  def append(s: SparkSession, table: String, df: DataFrame,
      align: Boolean = true): Unit = {
    val layout = bucketSpec(s, table).map(b =>
      Buckets(b.bucketColumnNames.head, b.numBuckets, align))
    save(df, table, "append", layout)
    s.catalog.refreshTable(table)
  }

  /** Bump the recorded corpus document count (admit path). */
  def addDocs(s: SparkSession, store: String, n: Long): Unit = {
    val cur = docCount(s, store).getOrElse(0L)
    s.sql(s"ALTER TABLE ${metaTable(store)} " +
      s"SET TBLPROPERTIES ('$NDocsKey' = '${cur + n}')")
  }

  /** The bucket count of a stored part table (a reingest keeps it). */
  def bucketCount(s: SparkSession, table: String): Int =
    bucketSpec(s, table).map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"$table is not a bucketed store table — run ingest first"))

  /** Upgrade a pre-generation store in place: rename each legacy
    * unsuffixed part table to its generation-1 name and commit. Every
    * legacy table must already carry the `graft.store` marker — the
    * owner stamps a verified pre-marker store first (see class doc). */
  def migrate(s: SparkSession, store: String, parts: Seq[String],
      ndocs: => Option[Long]): Unit = {
    if (gen(s, store).nonEmpty)
      throw new IllegalStateException(
        s"store '$store' already uses the generation layout — nothing to migrate")
    val cat = s.sessionState.catalog
    // validate EVERYTHING the rename loop and the commit will touch
    // before renaming anything: legacy sources present and marked,
    // _g1 targets free, meta name ours-or-absent — a failure after a
    // partial rename would leave the store in neither layout with no
    // re-run path
    requireOurs(s, metaTable(store))
    parts.foreach { p =>
      val legacy = s"${store}_$p"
      val id = TableIdentifier(legacy)
      if (!cat.tableExists(id))
        throw new IllegalStateException(
          s"legacy table $legacy not found — nothing to migrate")
      if (!cat.getTableMetadata(id).properties.contains(Marker))
        throw new IllegalStateException(
          s"table $legacy lacks the '$Marker' marker; verify it is " +
            "really a store table, then stamp it with ALTER TABLE " +
            s"$legacy SET TBLPROPERTIES ('$Marker' = 'true') and " +
            "re-run migrate")
      if (cat.tableExists(TableIdentifier(name(store, p, 1))))
        throw new IllegalStateException(
          s"migration target ${name(store, p, 1)} already exists — " +
            "drop or rename it first (a crashed earlier migrate leaves " +
            "these; dropStale applies if it carries the store marker)")
    }
    // ndocs is by-name: callers may derive it from legacy tables that
    // only exist once validation has confirmed the legacy layout
    val nd = ndocs
    parts.foreach(p =>
      s.sql(s"ALTER TABLE ${store}_$p RENAME TO ${name(store, p, 1)}"))
    commit(s, store, 1, parts, nd)
  }

  /** Atomically publish generation `g` (single catalog op on the meta
    * table), record `ndocs` if given (else carry the current value
    * forward), then retire generation g-2's part tables. */
  private def commit(s: SparkSession, store: String, g: Long,
      parts: Seq[String], ndocs: Option[Long]): Unit = {
    val mt = metaTable(store)
    requireOurs(s, mt)
    if (!s.sessionState.catalog.tableExists(TableIdentifier(mt))) {
      // clear a stale on-disk dir a previous JVM's meta left behind
      dropStale(s, mt)
      writeMarked(s, s.range(0).toDF(), mt, None)
    }
    val props = Seq(s"'$GenKey' = '$g'") ++
      ndocs.orElse(docCount(s, store)).map(n => s"'$NDocsKey' = '$n'")
    s.sql(s"ALTER TABLE $mt SET TBLPROPERTIES (${props.mkString(", ")})")
    if (g >= 3)
      parts.foreach(p => dropStale(s, name(store, p, g - 2)))
  }

  private def writeMarked(s: SparkSession, df: DataFrame, table: String,
      buckets: Option[Buckets]): Unit = {
    save(df, table, "overwrite", buckets)
    s.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('$Marker' = 'true')")
  }

  private def save(df: DataFrame, table: String, mode: String,
      buckets: Option[Buckets]): Unit = {
    val w = buckets match {
      case Some(Buckets(key, n, align)) =>
        (if (align) Bucketing.alignToBuckets(df, key, n) else df)
          .write.bucketBy(n, key).sortBy(key)
      case None => df.write
    }
    w.format("parquet").mode(mode).saveAsTable(table)
  }

  private def prop(s: SparkSession, store: String,
      key: String): Option[String] = {
    val cat = s.sessionState.catalog
    val id = TableIdentifier(metaTable(store))
    if (!cat.tableExists(id)) None
    else cat.getTableMetadata(id).properties.get(key)
  }

  private def bucketSpec(s: SparkSession, table: String) =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table)).bucketSpec

  /** The one ownership check: a catalog-known table WITHOUT the marker
    * is not ours to drop or reuse — fail loudly instead of silently
    * destroying a user table that collides with the store prefix. */
  private def requireOurs(s: SparkSession, table: String): Unit = {
    val cat = s.sessionState.catalog
    val id = TableIdentifier(table)
    if (cat.tableExists(id) &&
        !cat.getTableMetadata(id).properties.contains(Marker))
      throw new IllegalStateException(
        s"table $table exists but was not written by a graft store " +
          s"(missing '$Marker' table property) — refusing to use it; " +
          "choose a different store name")
  }

  /** Drop a marked table and its on-disk directory. */
  private def dropStale(s: SparkSession, table: String): Unit = {
    requireOurs(s, table)
    s.sql(s"DROP TABLE IF EXISTS $table")
    // ask the CATALOG where the managed table would land — the conf's
    // warehouse dir diverges from it when a persistent metastore (e.g.
    // spark-shell's Hive+derby default) pinned the default database's
    // location in an earlier session
    val path = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }
}
