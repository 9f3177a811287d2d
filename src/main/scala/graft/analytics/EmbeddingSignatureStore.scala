package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.functions.VectorFunctions

/** Persisted sign-LSH embedding-dedup store — [[SignatureStore]]'s
  * ingest/screen/admit/reingest lifecycle applied to the EMBEDDING
  * side of dedup: compute each vector's multi-long band signatures
  * ([[graft.functions.LshBandArray]]) ONCE at ingest, persist them as
  * bucketed catalog tables, and let every later batch screen against
  * stored state without re-deriving a single corpus signature.
  *
  * Why the embedding side needs the store MORE than the lexical side:
  * [[DedupQueries.qDedupEmbeddingLsh]]'s band geometry is DERIVED from
  * the corpus rowcount ([[DedupQueries.lshGeometry]] — bucket space
  * must track n to keep candidates linear). Re-deriving per run means
  * an admit-grown corpus crossing ⌈n/8⌉ > 2^r would silently change
  * banding between runs: yesterday's in-flight screen and today's
  * would disagree on which vectors are even COMPARABLE. The store
  * freezes (b, r) at ingest — exactly the drift contract
  * [[SignatureStore]] pins for the lexical stop set — and
  * [[reingest]] re-keys from STORED vectors (no source re-read) when
  * the recorded corpus count has outgrown the frozen geometry.
  *
  * Layout (generation-suffixed catalog tables, see [[StoreMeta]]):
  *   - `{store}_geo`     (b, r, n_ingest) — the FROZEN geometry + the
  *     corpus count it was derived from (one row; every screen/admit
  *     reads its banding from here, never from a live count)
  *   - `{store}_vectors` (vec_id, v array<double>, nrm) — bucketed by
  *     vec_id, so the candidate-verify joins read in place
  *   - `{store}_bands`   (vec_id, band_idx, band_val) — bucketed by
  *     band_val: the probe/self-join key; batch sides are small and
  *     AQE-broadcast, so the corpus-scale table never moves
  *
  * Single-writer per store; racing [[screen]]s are always-consistent
  * via [[StoreMeta]]'s keep-two generation retention (same contract
  * as the lexical store). */
object EmbeddingSignatureStore {

  private[analytics] val parts = Seq("geo", "vectors", "bands")

  /** Normalize raw embeddings (vec_id, embedding array<float>) to the
    * store's internal (vec_id, v array<double>, nrm) shape. */
  private def normalized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", VectorFunctions.dot(col("v"), col("v")))

  /** Ingest the corpus: derive (b, r) from its rowcount, persist the
    * geometry, the normalized vectors, and the band signatures as the
    * next store generation, and commit atomically. One pass over the
    * source; everything later (screen/admit/reingest/selfPairs) runs
    * from stored state alone. */
  def ingest(embeddings: DataFrame, store: String, buckets: Int = 8): Unit =
    StoreMeta.writeGeneration(embeddings.sparkSession, store, parts) { g =>
      val e = normalized(embeddings).persist(MEMORY_AND_DISK)
      try {
        val n = e.count()
        val (b, r) = DedupQueries.lshGeometry(n)
        writeGen(g, e, b, r, n, buckets)
        Some(n)
      } finally e.unpersist()
    }

  /** The store's frozen geometry (b, r) at generation `gen`. */
  private[analytics] def geometry(s: SparkSession, store: String,
      gen: Long): (Int, Int) = {
    val row = s.table(StoreMeta.name(store, "geo", gen)).collect().head
    (row.getInt(0), row.getInt(1))
  }

  /** Screen an arriving batch (vec_id, embedding; ids unique vs the
    * store) against stored state: batch bands are computed under the
    * store's FROZEN geometry, the probe joins the bucketed stored
    * band table (batch side AQE-broadcast — the corpus never moves),
    * and only band collisions get the exact cosine, against stored
    * vectors read in place on vec_id. Returns (pairs(ia = stored,
    * ib = batch, cos_sim ≥ 0.4), persist handles) — release via
    * [[QueryScopedCache.releaseAfter]]. */
  def screen(s: SparkSession, store: String, batch: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val gen = StoreMeta.genOrFail(s, store)
    val (b, r) = geometry(s, store, gen)
    val stored = s.table(StoreMeta.name(store, "bands", gen))
    val vecs = s.table(StoreMeta.name(store, "vectors", gen))
    val be = normalized(batch).persist(MEMORY_AND_DISK)
    val bBands = bands(be, b, r)
    val cand = stored.as("p")
      .join(bBands.as("q"),
        col("p.band_idx") === col("q.band_idx") &&
          col("p.band_val") === col("q.band_val"))
      .select(col("p.vec_id").as("ia"), col("q.vec_id").as("ib"))
      .distinct()
    val pairs = cand
      .join(vecs.select(col("vec_id").as("ia"), col("v").as("va"),
        col("nrm").as("na")), "ia")
      .join(be.select(col("vec_id").as("ib"), col("v").as("vb"),
        col("nrm").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        round(VectorFunctions.dot(col("va"), col("vb")) /
          (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
    (pairs, Seq(be))
  }

  /** Admit a (screened) batch: append its vectors and its band rows —
    * computed under the store's FROZEN geometry, exactly as [[screen]]
    * saw them — and bump the recorded corpus count. The geometry is
    * deliberately NOT re-derived: signatures written today must stay
    * comparable with every stored signature; [[reingest]] re-keys when
    * the count has outgrown the frozen (b, r). */
  def admit(s: SparkSession, store: String, batch: DataFrame): Unit = {
    val gen = StoreMeta.genOrFail(s, store)
    val (b, r) = geometry(s, store, gen)
    val be = normalized(batch).persist(MEMORY_AND_DISK)
    try {
      val n = be.count()
      StoreMeta.append(s, StoreMeta.name(store, "vectors", gen),
        be.select(col("vec_id"), col("v"), col("nrm")))
      StoreMeta.append(s, StoreMeta.name(store, "bands", gen), bands(be, b, r))
      StoreMeta.addDocs(s, store, n)
    } finally be.unpersist()
  }

  /** Re-key the store when admits have outgrown the frozen geometry:
    * derive (b, r) from the RECORDED corpus count (ingest + admits),
    * rebuild every band signature from STORED vectors — no source
    * re-read, the vectors table already holds everything needed — and
    * publish as the next generation. On an un-outgrown store this
    * writes the same geometry (screens before and after agree —
    * spec-asserted); after a boundary crossing it is the ONE sanctioned
    * way banding changes, so the change is an explicit, committed
    * generation instead of a silent per-run drift. */
  def reingest(s: SparkSession, store: String): Unit = {
    val vecT = StoreMeta.table(s, store, "vectors")
    val buckets = StoreMeta.bucketCount(s, vecT)
    val n = StoreMeta.docCount(s, store).getOrElse(s.table(vecT).count())
    val (b, r) = DedupQueries.lshGeometry(n)
    val e = s.table(vecT).persist(MEMORY_AND_DISK)
    try StoreMeta.writeGeneration(s, store, parts) { g =>
      writeGen(g, e, b, r, n, buckets)
      None
    } finally e.unpersist()
  }

  /** Full-corpus near-dup pairs from STORED state alone: the band
    * self-join over the bucketed band table (both sides read in
    * place — no exchange), exact cosine on collisions via the stored
    * vectors. When the store holds exactly one ingested corpus this
    * returns [[DedupQueries.qDedupEmbeddingLsh]]'s rows verbatim —
    * the lossless-persistence property the driver gate checks. */
  def selfPairs(s: SparkSession, store: String): DataFrame = {
    val gen = StoreMeta.genOrFail(s, store)
    val bands = s.table(StoreMeta.name(store, "bands", gen))
    val vecs = s.table(StoreMeta.name(store, "vectors", gen))
    val cand = bands.as("p")
      .join(bands.as("q"),
        col("p.band_idx") === col("q.band_idx") &&
          col("p.band_val") === col("q.band_val") &&
          col("p.vec_id") < col("q.vec_id"))
      .select(col("p.vec_id").as("ia"), col("q.vec_id").as("ib"))
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("ia"), col("v").as("va"),
        col("nrm").as("na")), "ia")
      .join(vecs.select(col("vec_id").as("ib"), col("v").as("vb"),
        col("nrm").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        round(VectorFunctions.dot(col("va"), col("vb")) /
          (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
  }

  /** (vec_id, band_idx, band_val) band rows of `e` under (b, r). */
  private def bands(e: DataFrame, b: Int, r: Int): DataFrame =
    e.select(col("vec_id"),
      posexplode(VectorFunctions.lshBands(col("v"), b, r))
        .as(Seq("band_idx", "band_val")))

  /** Write one complete generation's three part tables. */
  private def writeGen(g: StoreMeta.Generation, e: DataFrame,
      b: Int, r: Int, n: Long, buckets: Int): Unit = {
    val s = e.sparkSession
    import s.implicits._
    g.write("geo", Seq((b, r, n)).toDF("b", "r", "n_ingest"))
    g.write("vectors", e.select(col("vec_id"), col("v"), col("nrm")),
      Some(StoreMeta.Buckets("vec_id", buckets)))
    g.write("bands", bands(e, b, r),
      Some(StoreMeta.Buckets("band_val", buckets)))
  }
}
