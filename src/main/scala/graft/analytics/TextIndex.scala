package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the LEXICAL member of the four
  * stores ([[SignatureStore]] and [[EmbeddingSignatureStore]] dedup,
  * [[VectorIndex]] ANN, this): the
  * inline [[TextQueries.qTextBm25]] rebuilds postings, document
  * frequencies, and corpus statistics from the corpus on every run; a
  * production search pipeline builds them ONCE at ingest and serves
  * every query from the stored tables — the Lucene/ES segment
  * economics, expressed as catalog tables.
  *
  * Layout (generation-suffixed via [[StoreMeta]], atomic pointer swap,
  * keep-two retention — identical lifecycle guarantees to the other
  * three stores):
  *   - `{store}_post`  (w, doc_id, n, dl) — the postings, bucketed by
  *     term so a query's probe reads inverted lists in place; the doc
  *     length is DENORMALIZED into each posting (the impact-ordered-
  *     postings trick) so scoring never joins a per-doc side table
  *   - `{store}_dict`  (w, df, n_w) — the dictionary: per-term doc
  *     frequency (idf basis) and collection frequency (the query-set
  *     derivation basis), bucketed by term
  *   - `{store}_stats` one row (n_docs, n_total) — the BM25 corpus
  *     constants, FROZEN at ingest
  *
  * Drift contract — the stores' full spectrum, now explicit in code:
  * postings are LOSSLESS (unlike [[VectorIndex]]'s PQ codes), so
  * [[reingest]] refreshes dictionary and statistics entirely from the
  * stored postings with NO corpus re-read — the same stored-state
  * refresh [[SignatureStore.reingest]] performs, and stronger than the
  * vector store can ever offer (its refresh must re-read originals).
  * [[admit]] appends under FROZEN geometry: new postings surface
  * immediately, but idf/avgdl stay ingest-time values until a reingest
  * republishes them — which `q_text_bm25_reingested`'s shared oracle
  * proves restores EXACTLY the scores of a from-scratch ingest. */
object TextIndex {

  private[analytics] val parts = Seq("post", "dict", "stats")

  /** (w, doc_id, n, dl) term frequencies with the doc length attached,
    * plus the persisted tf handle the caller unpersists after its
    * write action — the tf aggregation feeds both the doc-length
    * reduction and the join probe, so the corpus tokenizes once.
    * `docs` is any (doc_id, text) frame. */
  private def postings(docs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
      .persist(MEMORY_AND_DISK)
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("dl"))
    (tf.join(dl, "doc_id")
      .select(col("w"), col("doc_id"), col("n"), col("dl")), tf)
  }

  /** Build and persist the index for a (doc_id, text) corpus frame:
    * one tokenize pass feeds the bucketed postings; dictionary and
    * statistics then derive from the WRITTEN postings table (read
    * back, so the three parts are consistent by construction).
    * `buckets` sizes the postings/dictionary tables (at scale: vocab
    * shards of a few hundred MB, multiple of executor cores). */
  def ingest(docs: DataFrame, store: String, buckets: Int = 8): Unit =
    StoreMeta.writeGeneration(docs.sparkSession, store, parts) { g =>
      val (post, tfHandle) = postings(docs)
      try g.write("post", post, Some(StoreMeta.Buckets("w", buckets)))
      finally tfHandle.unpersist()
      writeDerived(docs.sparkSession, g, buckets)
    }

  /** Dictionary + statistics from generation `g`'s postings table;
    * returns the document count the commit records — shared by
    * [[ingest]] (postings just written) and [[reingest]] (postings
    * copied forward). */
  private def writeDerived(s: SparkSession, g: StoreMeta.Generation,
      buckets: Int): Option[Long] = {
    val post = s.table(g("post"))
    g.write("dict", post.groupBy(col("w"))
        .agg(count(lit(1)).as("df"), sum(col("n")).cast("long").as("n_w")),
      Some(StoreMeta.Buckets("w", buckets)))
    val dl = post.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
    g.write("stats", dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("n_total")))
    Some(s.table(g("stats")).select(col("n_docs")).head.getLong(0))
  }

  /** Admit a batch of new documents under the store's FROZEN
    * dictionary and statistics — the daily-crawl append: one narrow
    * tokenize pass over the batch, postings appended with the
    * ingest-time bucket count (catalog-read so the append matches the
    * stored layout). New postings surface in the very next [[search]];
    * idf and avgdl deliberately DO NOT move (scores of already-indexed
    * docs never change under an append — the segment-freeze property),
    * and terms absent from the frozen dictionary contribute nothing
    * until a [[reingest]] republishes geometry. doc_ids must be new to
    * the store (append-only; dedup upstream — that is what
    * [[SignatureStore]] is for). */
  def admit(s: SparkSession, store: String, batch: DataFrame): Unit = {
    val (post, tfHandle) = postings(batch)
    try StoreMeta.append(s, StoreMeta.table(s, store, "post"), post)
    finally tfHandle.unpersist()
    StoreMeta.addDocs(s, store, batch.select(col("doc_id")).distinct.count)
  }

  /** Refresh dictionary and statistics from STORED STATE ONLY — no
    * corpus re-read, because postings are lossless (the deliberate
    * contrast with [[VectorIndex.reingest]]'s `originals` parameter):
    * generation N's postings copy forward into generation N+1 (the
    * keep-two retirement means every generation must carry complete
    * parts), the dictionary and statistics recompute from them, and
    * the atomic swap republishes — a search racing the refresh still
    * answers entirely from the old geometry. `q_text_bm25_reingested`
    * proves the refresh exact: ingest-minus-batch + admit + reingest
    * hash-matches the from-scratch full-corpus oracle. */
  def reingest(s: SparkSession, store: String): Unit = {
    val postT = StoreMeta.table(s, store, "post")
    val buckets = StoreMeta.bucketCount(s, postT)
    StoreMeta.writeGeneration(s, store, parts) { g =>
      g.write("post", s.table(postT), Some(StoreMeta.Buckets("w", buckets)))
      writeDerived(s, g, buckets)
    }
  }

  /** Upgrade a pre-generation layout in place (see
    * [[StoreMeta.migrate]]); ndocs recovers from the legacy stats
    * row once validation has confirmed the layout. */
  def migrate(s: SparkSession, store: String): Unit =
    StoreMeta.migrate(s, store, parts,
      Some(s.table(s"${store}_stats").select(col("n_docs")).head.getLong(0)))

  /** The stored query set: top-24 dictionary terms by (collection
    * frequency desc, term), three per query — the same derivation as
    * the inline [[TextQueries.bm25PerDoc]], but from the FROZEN
    * dictionary, so the query set is stable under admits. Returns
    * (qid, w). */
  def derivedQueries(s: SparkSession, store: String): DataFrame = {
    s.table(StoreMeta.table(s, store, "dict"))
      .orderBy(col("n_w").desc, col("w")).limit(24)
      .agg(sort_array(collect_list(
        struct((-col("n_w")).as("negn"), col("w")))).as("ts"))
      .select(posexplode(col("ts")))
      .select(expr("CAST(pos DIV 3 AS BIGINT)").as("qid"),
        col("col.w").as("w"))
  }

  /** BM25 top-k against the stored index for a (qid, w) query frame.
    * Nothing here re-reads the corpus: idf comes from the dictionary
    * probe (query side broadcast — a vocab-bounded narrow pass),
    * scores from the bucketed postings probe with the doc length
    * riding each posting, and the corpus constants from the one-row
    * stats broadcast. Arithmetic is byte-identical to
    * [[TextQueries.bm25PerDoc]] — which is how `q_text_bm25_stored`
    * shares the inline query's DuckDB oracle verbatim. */
  def search(s: SparkSession, store: String, queries: DataFrame,
      topk: Int = 10): DataFrame = {
    // one generation resolve for the whole search (see StoreMeta)
    val gt = StoreMeta.current(s, store)
    val stats = s.table(gt("stats"))
    val qt = s.table(gt("dict")).join(broadcast(queries), "w")
      .crossJoin(broadcast(stats))
      .select(col("w"), col("qid"),
        round(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))), 6).as("idf"))
    val scored = s.table(gt("post")).join(broadcast(qt), "w")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(col("idf") * ((col("n") * lit(2.2)) /
          (col("n") + lit(0.3) + lit(0.9) *
            (col("dl") * col("n_docs") / col("n_total")))), 6)
          .cast("decimal(25,6)").as("ts"))
    val perDoc = scored.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("ts")).cast("double").as("score"))
    SimilarityQueries.topKPer(perDoc, Seq(col("qid")),
        Seq(col("score").desc, col("doc_id")), topk)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }
}
