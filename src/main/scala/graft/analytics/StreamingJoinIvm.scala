package graft.analytics

import graft.operators.KeyedFold
import org.apache.spark.sql.Dataset

/** Streaming JOIN-view maintenance — the incremental twin of
  * [[RelationalQueries.qAggJoinIvm]]: the batch query merges the
  * signed bag-algebra delta terms once; a live pipeline applies the
  * same algebra per micro-batch as order/lineitem CDC rows arrive.
  * Keyed by the JOIN key (orderkey) — the one key under which the
  * view contribution is BILINEAR: contribution = o · (n, cents)
  * where o is the net signed order presence and (n, cents) the net
  * signed line partials. Each event's exact step delta (an O event
  * of sign s contributes s·L_current; an L event contributes
  * o_current·s·line) telescopes to o'L' − oL over any interleaving,
  * so the net per-(key, batch) emission is ARRIVAL-ORDER FREE —
  * lines landing before their order contribute nothing until the
  * order's arrival emits the whole accumulated product term, and an
  * order cancel emits the negated product even though its lines
  * remain in state (the two-sided case a one-sided maintainer
  * corrupts). Per-key state: four longs, O(keys) regardless of
  * history.
  *
  * Output: signed per-customer view deltas (dn, dcents), ONE PER
  * CUSTOMER TOUCHED in the batch — deltas accumulate per
  * custkey-at-event-time, so an order deleted under customer A and
  * re-inserted under customer B within one micro-batch (lines held
  * in state) emits the transfer as (−L to A, +L to B) instead of
  * netting to zero and stranding the view's credit on A. An O
  * event's step delta is the general before/after form — debit
  * o·L from the CURRENT state's customer, credit o′·L to the
  * event's customer — which reduces to s·L for the custkey-stable
  * case and never trusts a delete row's custkey field (removal
  * debits whoever the view currently credits). The downstream view
  * is the running per-customer fold — groups whose fold reaches
  * (0, 0) have vanished, exactly the batch query's n ≠ 0 filter.
  *
  * Semantics vs the batch query, pinned by StreamingJoinIvmSpec:
  * replaying base + delta CDC rows — one micro-batch or many, lines
  * before or after their orders, custkey stable or transferred —
  * folds to exactly the batch view. */
object StreamingJoinIvm {

  /** One CDC row: kind "O" (order upsert; `custkey` meaningful) or
    * "L" (lineitem; `cents` meaningful); sign +1 insert, −1 delete. */
  case class JoinCdc(kind: String, orderkey: Long, custkey: Long,
      cents: Long, sign: Long)

  /** Per-orderkey state: net signed order presence, its customer,
    * net signed line count + cents. */
  case class JoinState(o: Long, custkey: Long, ln: Long, lcents: Long)

  /** A signed per-customer view delta (fold downstream). */
  case class ViewDelta(custkey: Long, dn: Long, dcents: Long)

  def monitor(evs: Dataset[JoinCdc]): Dataset[ViewDelta] = {
    import evs.sparkSession.implicits._
    KeyedFold(evs)(_.orderkey) { (_, it, state: Option[JoinState]) =>
      var st = state.getOrElse(JoinState(0L, 0L, 0L, 0L))
      // per-custkey-touched accumulation: a batch that moves the
      // order between customers must emit BOTH sides of the
      // transfer, which a single (dn, dc) pair cannot represent
      val d = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long)]
      def add(ck: Long, n: Long, c: Long): Unit = if (n != 0L || c != 0L) {
        val (pn, pc) = d.getOrElse(ck, (0L, 0L))
        d(ck) = (pn + n, pc + c)
      }
      it.foreach { r =>
        if (r.kind == "O") {
          // before/after step delta: debit o·L from the customer
          // the view currently credits, credit o'·L to the event's
          add(st.custkey, -st.o * st.ln, -st.o * st.lcents)
          st = st.copy(o = st.o + r.sign, custkey = r.custkey)
          add(st.custkey, st.o * st.ln, st.o * st.lcents)
        } else {
          add(st.custkey, st.o * r.sign, st.o * r.sign * r.cents)
          st = st.copy(ln = st.ln + r.sign,
            lcents = st.lcents + r.sign * r.cents)
        }
      }
      (Some(st), d.iterator.collect {
        case (ck, (dn, dc)) if dn != 0L || dc != 0L => ViewDelta(ck, dn, dc)
      })
    }
  }
}
