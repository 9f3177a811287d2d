package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming sequence packing — the incremental twin of
  * [[PrepQueries.qPrepPack]]: the batch query turns a CLOSED corpus
  * into fixed-length training blocks with a two-level prefix sum; a
  * crawl that never closes needs the same manifest emitted
  * continuously as documents arrive. The global cursor (every doc's
  * stream offset) is exactly the kind of unbounded running state
  * Structured Streaming's keyed state ([[graft.operators.KeyedFold]])
  * owns: each LANE (parallel shard-writer) keeps one Long — the next
  * free token offset — and every micro-batch appends its docs to the lane's
  * stream, emitting the (block, doc, token-range) slices it can
  * already determine. Emission is append-only and final: a slice,
  * once emitted, never revises, because the cursor only moves forward.
  *
  * Scale shape: lanes are the parallelism unit (a production packer
  * runs hundreds — one per concurrent shard file); state per lane is
  * ONE Long, so the state store stays trivially small no matter how
  * much text streams through. Within a micro-batch a lane's docs sort
  * by doc_id (the iterator order is not deterministic across Spark
  * task retries; the sort pins replay-identical packing), and the
  * per-lane batch group materializes in memory — bounded by one
  * lane's share of one micro-batch, the same bound sessionization
  * accepts. Block ids are PER LANE: lanes pack independent token
  * streams, matching how parallel shard writers actually emit
  * `shard-{lane}-block-{id}` files.
  *
  * Semantics vs batch pack, pinned by StreamingPackSpec: per lane,
  * concatenating arrival-ordered docs with one separator token after
  * each (`cursor += n_tok + 1` — [[PrepQueries.qPrepPack]]'s layout)
  * and cutting at `blockSize` boundaries yields byte-identical slices
  * to running the batch packer over the same docs in the same order;
  * the cursor carries across micro-batches and checkpoint restarts. */
object StreamingPack {

  /** One arriving document: its lane routing key and token count
    * (tokenization happens upstream — this operator packs counts). */
  case class DocTokens(lane: Int, doc_id: Long, n_tok: Long)

  /** One emitted manifest row: doc `doc_id` contributes its tokens
    * [tok_start, tok_end) (doc-relative, the batch query's shape) to
    * `block_id` of `lane`. */
  case class BlockSlice(lane: Int, block_id: Long, doc_id: Long,
      tok_start: Long, tok_end: Long)

  /** Slices for one doc laid out at global offset `g` — the same
    * block arithmetic as the batch packer's explode. */
  private def sliceDoc(lane: Int, docId: Long, g: Long, nTok: Long,
      b: Long): Seq[BlockSlice] =
    (g / b to (g + nTok - 1) / b).map { blk =>
      BlockSlice(lane, blk, docId,
        math.max(g, blk * b) - g,
        math.min(g + nTok, (blk + 1) * b) - g)
    }

  /** Pack a stream of token-counted docs into per-lane block slices.
    * Works on a static Dataset too (one "batch" per lane), which is
    * how the spec cross-checks it against the sequential reference. */
  def pack(docs: Dataset[DocTokens],
      blockSize: Long = 2048L): Dataset[BlockSlice] = {
    import docs.sparkSession.implicits._
    KeyedFold(docs)(_.lane, Some(Ordering.by(_.doc_id))) {
      (lane, it, state: Option[Long]) =>
        var g = state.getOrElse(0L)
        val out = it.flatMap { d =>
          val start = g
          g = start + d.n_tok + 1 // one separator token after each doc
          sliceDoc(lane, d.doc_id, start, d.n_tok, blockSize)
        }.toList
        (Some(g), out.iterator)
    }
  }
}
