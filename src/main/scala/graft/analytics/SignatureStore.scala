package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Persisted MinHash signature store — the production layout behind
  * incremental dedup: compute the corpus's shingles, stop-set, sizes,
  * and LSH band signatures ONCE at ingest, write them as catalog
  * tables, and let every later batch screen probe the stored tables
  * without ever touching the corpus text again.
  *
  * This is the difference between a daily ingest job that scans 0.1%
  * of a 100 TB corpus and one that rescans all of it:
  * [[DedupQueries.screenBatch]] (the two-DataFrame API) recomputes
  * corpus signatures from text per call — correct, and the right tool
  * when the caller already holds both frames in memory — while
  * [[screen]] computes signatures ONLY for the arriving batch and
  * joins them against the stored tables. The screen plan contains no
  * scan of the corpus source at all (spec-asserted in AnalyticsSpec).
  *
  * Layout (catalog tables under the `store` name prefix):
  *   - `{store}_stop`       (h)            — the stop-shingle set as 60-bit
  *     fingerprints (df semantics keyed on h — collision-equivalent at
  *     2^-60, half the broadcast bytes, and the representation that lets
  *     [[reingest]] refresh geometry without corpus text)
  *   - `{store}_shingles`   (doc_id, h)    — post-stop-filter 60-bit md5
  *     fingerprints ([[DedupQueries.fingerprint]] — never the text;
  *     integer verify joins, half the bytes), bucketed by doc_id
  *   - `{store}_sizes`      (doc_id, n)    — shingle-set sizes
  *   - `{store}_signatures` (doc_id, band, bh) — LSH band rows, bucketed by bh
  *
  * Bucketing pays the exchange at write time: the verify stage's
  * candidate semi-join and ia-join hit `{store}_shingles` on doc_id
  * with no shuffle on the (large) stored side, and the band probe
  * hits `{store}_signatures` with the (small) batch side broadcast by
  * AQE — the corpus-scale tables never move
  * (the [[Bucketing.writeBucketed]] write-once-shuffle-never story).
  *
  * The daily loop: [[ingest]] once, then per batch [[screen]] →
  * drop/keep → [[admit]] the survivors, so tomorrow's batch probes
  * today's — the store grows by appends, never a recompute.
  *
  * Frozen hash geometry: the batch is screened against the INGEST-TIME
  * stop-shingle set, so a stored signature never goes stale — exactly
  * what a production pipeline wants (signatures computed once must
  * stay comparable forever). This differs deliberately from
  * [[DedupQueries.screenBatch]], which derives the stop set from
  * corpus ∪ batch: under frozen geometry a batch cannot shift document
  * frequencies across the stop threshold and silently re-key history.
  * When accumulated drift warrants a re-key, [[reingest]] refreshes
  * geometry from STORED fingerprints (monotone stop growth, no text
  * rescan); only a stop-set shrink needs a full-text [[ingest]].
  *
  * Generations ([[StoreMeta]]): the part names above are LOGICAL —
  * each physical table is generation-suffixed (`{store}_stop_g{N}`),
  * writers build the next generation beside the current one, and a
  * single atomic catalog op publishes it. A reader that resolved its
  * generation keeps complete tables through one concurrent
  * refresh (keep-two retention), so racing [[screen]]s are
  * always-consistent, never partial. Writers stay single-writer per
  * store: concurrent admit-vs-reingest is NOT arbitrated (an admit
  * appended to generation N while a reingest derives N+1 from its
  * own snapshot of N would be silently absent from N+1). */
object SignatureStore {

  private[analytics] val parts = Seq("stop", "shingles", "sizes", "signatures")

  /** Compute and persist the corpus's dedup signatures as catalog
    * tables under the `store` prefix (overwriting any prior ingest).
    * One pass over the corpus text; everything written is narrow
    * (hashes, ids, counts — never text). `buckets` sizes the bucketed
    * tables: at 100 TB use table bytes / 128–512 MB, a multiple of
    * the executor-core count. */
  def ingest(corpus: DataFrame, store: String, buckets: Int = 8): Unit = {
    val s = corpus.sparkSession
    StoreMeta.writeGeneration(s, store, parts) { g =>
      // the RAW corpus document count — persisted so reingest's
      // df-threshold basis never drifts toward a stored-derived count
      // that excludes all-stopped docs
      val nDocs = corpus.count()
      // ONE md5 per shingle instance yields both the minhash input v and
      // the stored fingerprint h; nothing past this point carries text
      val hsh0 = DedupQueries.hashedShingles(corpus).persist(MEMORY_AND_DISK)
      try {
        g.write("stop", DedupQueries.stopFingerprints(hsh0, corpus))
        // read the WRITTEN set back so ingest filters with exactly the
        // bytes a later screen will read
        val sh = hsh0.join(broadcast(s.table(g("stop"))), Seq("h"), "left_anti")
          .persist(MEMORY_AND_DISK)
        try writeSignatures(g, sh, col("v"), buckets)
        finally sh.unpersist()
      } finally hsh0.unpersist()
      Some(nDocs)
    }
  }

  /** The shingles, sizes and signatures parts of generation `g` from
    * the post-stop shingle instances `sh` (doc_id, h, ...) and their
    * minhash input `v` — shared by [[ingest]] and [[reingest]]. */
  private def writeSignatures(g: StoreMeta.Generation, sh: DataFrame,
      v: Column, buckets: Int): Unit = {
    g.write("shingles", sh.select(col("doc_id"), col("h")),
      Some(StoreMeta.Buckets("doc_id", buckets)))
    val mh = DedupQueries.minhashAggV(sh.select(col("doc_id"), v))
      .persist(MEMORY_AND_DISK)
    try {
      g.write("sizes", mh.select(col("doc_id"), col("n")))
      g.write("signatures", DedupQueries.bandSig(mh),
        Some(StoreMeta.Buckets("bh", buckets)))
    } finally mh.unpersist()
  }

  /** Admit a (screened) batch into the store: append its shingles,
    * sizes, and band signatures — computed under the store's FROZEN
    * geometry, exactly as [[screen]] saw them — so later batches
    * screen against corpus ∪ admitted history. This closes the daily
    * loop: screen the arrivals, keep the survivors, admit them, and
    * tomorrow's batch probes today's. doc_ids must be new to the
    * store (the store is append-only; dedup upstream guarantees
    * uniqueness). The stop set is deliberately NOT updated — frozen
    * geometry keeps every stored signature comparable forever;
    * [[reingest]] re-keys from stored state when drift warrants. */
  def admit(s: SparkSession, store: String, batch: DataFrame): Unit = {
    // one generation resolve for the whole operation (see StoreMeta)
    val t = StoreMeta.current(s, store)
    val stop = s.table(t("stop"))
    // the raw doc count (for the persisted ndocs) and the shingle
    // pipeline both consume the batch — persist it so its upstream
    // lineage executes ONCE per admit, not once per consumer
    val batchP = batch.persist(MEMORY_AND_DISK)
    val nBatch = batchP.count()
    val bsh = DedupQueries.hashedShingles(batchP)
      .join(broadcast(stop), Seq("h"), "left_anti")
      .persist(MEMORY_AND_DISK)
    try {
      val bmh = DedupQueries
        .minhashAggV(bsh.select(col("doc_id"), col("v")))
        .persist(MEMORY_AND_DISK)
      try {
        StoreMeta.append(s, t("shingles"), bsh.select(col("doc_id"), col("h")))
        StoreMeta.append(s, t("sizes"), bmh.select(col("doc_id"), col("n")))
        StoreMeta.append(s, t("signatures"), DedupQueries.bandSig(bmh))
      } finally bmh.unpersist()
    } finally {
      bsh.unpersist()
      batchP.unpersist()
    }
    // keep the persisted raw-document count current — reingest's
    // df-threshold basis covers corpus + every admitted batch
    StoreMeta.addDocs(s, store, nBatch)
  }

  /** Refresh the store's frozen geometry from STORED state — no
    * corpus text read, no corpus re-shingling. As [[admit]]ted batches
    * accumulate, document frequencies drift: shingles that were rare
    * at ingest time can become corpus-common and SHOULD join the stop
    * set (they bloat signatures and stack the band hashes with
    * uninformative minima). Everything needed to re-key is already
    * stored: df per fingerprint comes from `{store}_shingles`, the
    * minhash input v is recovered from each 60-bit fingerprint
    * ([[DedupQueries.minhashInputFromFingerprint]] — the first 8 md5
    * hex digits are `h div 16^7`), and sizes/band signatures recompute
    * from the re-filtered shingle table. Cost: one pass over the
    * narrow (doc_id, h) table — at 100 TB of text that table is ~2
    * longs per distinct shingle instance, orders of magnitude smaller
    * than the corpus.
    *
    * The refresh is MONOTONE: the new stop set is the old one UNION
    * newly-common fingerprints. The reverse direction — releasing a
    * shingle the original ingest stopped — is the one thing stored
    * state cannot express: stopped shingles were never written to
    * `{store}_shingles`, so their (doc_id, h) instances are gone. A
    * threshold drop or stop-set shrink therefore requires a full-text
    * [[ingest]]. On an undrifted corpus (no fingerprint crossed the
    * threshold) the refresh is a no-op: screens before and after
    * return identical pairs (spec-asserted). */
  def reingest(s: SparkSession, store: String): Unit = {
    // the refresh READS the committed generation and WRITES the next
    // — no snapshot/checkpoint needed: the source tables stay intact
    // until a later commit retires them, and racing readers keep
    // answering from the committed one until the atomic pointer swap
    val cur = StoreMeta.current(s, store)
    val buckets = StoreMeta.bucketCount(s, cur("shingles"))
    val sh = s.table(cur("shingles"))
    // the df-threshold basis is the PERSISTED raw document count
    // (corpus + admits), not a stored-derived count that would exclude
    // docs whose shingles were all stopped and compound toward
    // over-stopping across refresh cycles; the sizes fallback covers
    // only migrated legacy stores whose true count is lost
    val nDocs = StoreMeta.docCount(s, store)
      .getOrElse(s.table(cur("sizes")).count())
    // fingerprints that crossed the df threshold since ingest; the
    // stored shingle table holds every instance of every non-stopped
    // shingle (corpus + admitted), so df here IS current document
    // frequency for them
    val newStop = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > greatest(lit(10.0), lit(0.05) * lit(nDocs.toDouble)))
      .select(col("h"))
    val sh2 = sh.join(broadcast(newStop), Seq("h"), "left_anti")
      .persist(MEMORY_AND_DISK)
    try StoreMeta.writeGeneration(s, store, parts) { g =>
      g.write("stop", s.table(cur("stop")).union(newStop).distinct())
      writeSignatures(g, sh2,
        DedupQueries.minhashInputFromFingerprint.as("v"), buckets)
      None
    } finally sh2.unpersist()
  }

  /** Upgrade a pre-generation store layout in place (see
    * [[StoreMeta.migrate]]). The recorded document count falls back to
    * the stored sizes count — the closest basis a legacy store can
    * offer (its true raw count was never persisted; documented
    * approximation, excludes docs whose shingles were all stopped). */
  def migrate(s: SparkSession, store: String): Unit =
    // the count is passed by-name: StoreMeta validates the legacy
    // layout FIRST, so a wrong-layout store gets the designed error,
    // not a table-not-found from an eager count
    StoreMeta.migrate(s, store, parts,
      Some(s.table(s"${store}_sizes").count()))

  /** Screen an arriving `batch` (doc_id, text; ids unique vs the
    * stored corpus) against a previously [[ingest]]ed store. Returns
    * (pairs(ia = stored corpus doc, ib = batch doc, jaccard ≥ 0.5),
    * persist handles) — the [[DedupQueries.screenBatch]] contract; tie
    * the handles to the consuming action via
    * [[QueryScopedCache.releaseAfter]].
    *
    * Scale shape: signatures are computed for the BATCH ONLY (one
    * narrow pass over batch text, filtered by the stored stop set);
    * the band probe joins the stored signature table with the tiny
    * batch signature side (AQE broadcasts it), only stored↔batch
    * collisions become candidates, and the Jaccard verify semi-joins
    * the stored shingle table down to candidate docs before anything
    * wide happens. Nothing in the plan scans corpus text. */
  def screen(s: SparkSession, store: String, batch: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    // resolve the generation ONCE: all four tables come from the same
    // committed generation, so a concurrent refresh can never blend
    // into this screen's answer (keep-two retention guarantees the
    // resolved tables survive one racing swap — see StoreMeta)
    val t = StoreMeta.current(s, store)
    val stop = s.table(t("stop"))
    val corpusSig = s.table(t("signatures"))
    val corpusSh = s.table(t("shingles"))
    val corpusSizes = s.table(t("sizes"))
    // batch-side signatures under the stored (frozen) geometry; the
    // batch shingle table feeds the verify join AND the batch size
    // lookup, so persist it for the query's lifetime. One md5 per
    // batch shingle: v and h come out of the same hash.
    val bsh = DedupQueries.hashedShingles(batch)
      .join(broadcast(stop), Seq("h"), "left_anti")
      .persist(MEMORY_AND_DISK)
    val bmh = DedupQueries
      .minhashAggV(bsh.select(col("doc_id"), col("v")))
      .persist(MEMORY_AND_DISK)
    val bsig = DedupQueries.bandSig(bmh)
    // only stored↔batch band collisions ever become candidate rows
    val cand = corpusSig.as("p")
      .join(bsig.as("q"),
        col("p.band") === col("q.band") && col("p.bh") === col("q.bh"))
      .select(col("p.doc_id").as("ia"), col("q.doc_id").as("ib"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // verify ONLY candidate corpus docs: semi-join the stored shingle
    // table down to the candidate id set first (bucketed on doc_id —
    // the stored side reads in place, no exchange). NO broadcast hint
    // on the candidate set: on a dup-heavy corpus it grows toward
    // O(batch) — AQE converts at runtime when actually small.
    val candIa = cand.select(col("ia").as("doc_id")).distinct()
    val shC = corpusSh.join(candIa, Seq("doc_id"), "left_semi")
      .persist(MEMORY_AND_DISK)
    val candSh = cand.join(shC.as("s1"), col("ia") === col("s1.doc_id"))
      .select(col("ia"), col("ib"), col("s1.h").as("h"))
    // the batch side already carries the store's 60-bit fingerprint —
    // the intersection join is integer-keyed end to end
    val bshH = bsh.select(col("doc_id"), col("h"))
    val ni = candSh.as("cs")
      .join(bshH.as("s2"),
        col("s2.doc_id") === col("cs.ib") && col("s2.h") === col("cs.h"))
      .groupBy(col("cs.ia").as("ia"), col("cs.ib").as("ib"))
      .agg(count(lit(1)).as("ni"))
    val pairs = ni
      .join(corpusSizes.as("sa"), col("ia") === col("sa.doc_id"))
      .join(bmh.select(col("doc_id"), col("n")).as("sb"),
        col("ib") === col("sb.doc_id"))
      .select(col("ia"), col("ib"),
        round(col("ni") * lit(1.0) /
          (col("sa.n") + col("sb.n") - col("ni")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    (pairs, Seq(bsh, bmh, cand, shC))
  }
}
