package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column handling: media (image/audio/video) as opaque
  * `binary` columns + typed metadata, with feature extraction as a
  * partition-wise batched kernel.
  *
  * The Spark-side plumbing here is real and tested — schema, binary
  * column, partition-preserving batched execution, fixed-width feature
  * schema. The DECODE KERNEL IS A STUB: this container has no image /
  * audio codecs, so [[fakeDecodeKernel]] stands in for (e.g.) a JPEG
  * decode + CNN featurizer with a deterministic byte-histogram fold.
  * Swapping in a real kernel changes only that one function: the
  * batching, schema, and distribution properties are already what a
  * 100 TB media pipeline needs (no shuffle, per-partition batch calls
  * that amortize model/codec setup — the Scala analogue of
  * `mapInPandas` batch semantics).
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, content: Array[Byte])
  final case class FeatureRow(doc_id: Long, features: Array[Float])

  /** Attach an opaque binary content column + typed metadata. The
    * `documents` text stands in for media bytes in this corpus. */
  def binarize(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      md5(encode(col("text"), "UTF-8")).as("content_hash"),
      lit("text/plain").as("media_type"))

  /** STUB decode kernel — deterministic byte-histogram folded into
    * `dim` buckets and L1-normalized. A real deployment replaces only
    * this function with codec + model inference per batch.
    *
    * Numerics chosen for differential testing: integer bucket counts,
    * ONE double division, then a float round-trip — every step is
    * exactly reproducible in ANSI SQL (DuckDB: CAST(cnt AS DOUBLE) /
    * GREATEST(1, n) cast to REAL), which is how a real kernel would be
    * oracle-tested too (golden outputs, exact integer/float plumbing). */
  private[multimodal] def fakeDecodeKernel(
      batch: Seq[MediaRow], dim: Int): Seq[FeatureRow] =
    batch.map { row =>
      val hist = new Array[Long](dim)
      var i = 0
      while (i < row.content.length) {
        hist((row.content(i) & 0xff) % dim) += 1L
        i += 1
      }
      val total = math.max(1, row.content.length).toDouble
      FeatureRow(row.doc_id, hist.map(c => (c / total).toFloat))
    }

  /** Deterministic frame sampling over the opaque binary column — the
    * video/audio "sample N frames" primitive, expressed at the byte
    * layer: `nFrames` windows of `frameBytes` bytes at evenly spread
    * 1-based offsets `1 + (k * max(n_bytes - frameBytes, 0)) DIV
    * max(nFrames - 1, 1)`. A real media pipeline replaces the byte
    * window with a codec's keyframe/PCM extraction at the SAME
    * (doc_id, frame_idx, frame_start) identity; everything around it —
    * the generator explode, the pure-expression slicing, the narrow
    * no-shuffle plan — is the production shape already. Frames of a
    * media blob shorter than one frame are truncated, never padded
    * (both engines' substring semantics). */
  def sampleFrames(binarized: DataFrame, nFrames: Int = 4,
      frameBytes: Int = 64): DataFrame =
    binarized
      .select(col("doc_id"), col("content"), col("n_bytes"),
        posexplode(sequence(lit(0), lit(nFrames - 1))))
      .withColumn("frame_start",
        expr(s"1L + (pos * greatest(n_bytes - $frameBytes, 0L))" +
          s" DIV ${math.max(nFrames - 1, 1)}"))
      .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
        col("frame_start"),
        expr(s"substring(content, CAST(frame_start AS INT), $frameBytes)")
          .as("frame"))

  /** Deterministic nearest-neighbor RESIZE over the opaque content —
    * the "downsample every image to a fixed resolution" primitive,
    * expressed at the symbol layer: `targetN` samples at evenly spread
    * 1-based offsets `1 + (k · (len − 1)) DIV (targetN − 1)` — exactly
    * the nearest-neighbor index formula a real image resize applies
    * per axis (a real kernel swaps the 1-D char lookup for a 2-D pixel
    * lookup at the SAME offset arithmetic; the stub-decode caveat in
    * the object scaladoc applies). Inputs shorter than `targetN`
    * upsample by repetition, exactly like nearest-neighbor upscaling.
    * Pure per-row expressions (a generator + substring), so the plan
    * is narrow with zero shuffle at any corpus size. */
  def resizeNearest(docs: DataFrame, targetN: Int = 32): DataFrame = {
    require(targetN >= 2, s"targetN must be >= 2, got $targetN")
    docs.select(col("doc_id"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      expr(s"""array_join(transform(sequence(0, ${targetN - 1}),
          i -> substring(text,
                 CAST(1 + (i * (length(text) - 1)) DIV ${targetN - 1} AS INT),
                 1)), '')""").as("resized"))
      .withColumn("rhash", md5(encode(col("resized"), "UTF-8")))
  }

  /** Partition-wise batched feature extraction: groups each partition's
    * rows into `batchSize` chunks so a real kernel amortizes per-batch
    * setup (codec init, model weights) — the batch shape `mapInPandas`
    * would provide, expressed natively in Scala. No shuffle. */
  def extractFeatures(binarized: DataFrame, dim: Int = 8,
      batchSize: Int = 64): DataFrame = {
    val spark = binarized.sparkSession
    import spark.implicits._
    binarized.select(col("doc_id"), col("content")).as[MediaRow]
      .mapPartitions(it =>
        it.grouped(batchSize).flatMap(b => fakeDecodeKernel(b, dim)))
      .toDF("doc_id", "features")
  }
}
