package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

object KeyedFoldSpec {
  /** One keyed row: `ord` is unique, so it totally orders a key's rows. */
  case class Row(k: Int, ord: Long, v: Long)

  /** One emission per row: the key's running state after that row. */
  case class Out(k: Int, ord: Long, h: Long)

  /** An order-sensitive fold with a drop path: a rolling hash that
    * restarts (the state is dropped) at every multiple of 7. */
  def stepState(h: Option[Long], v: Long): Option[Long] =
    if (v % 7 == 0) None else Some(h.getOrElse(1L) * 31L + v)

  def fold(rows: Dataset[Row]): Dataset[Out] = {
    import rows.sparkSession.implicits._
    KeyedFold(rows)(_.k, Some(Ordering.by(_.ord))) {
      (k, it, state: Option[Long]) =>
        var h = state
        val out = it.map { r =>
          h = stepState(h, r.v)
          Out(k, r.ord, h.getOrElse(0L))
        }.toList
        (h, out.iterator)
    }
  }
}

/** The keyed-fold kernel's replay-determinism contract: whatever order
  * a micro-batch's rows arrive in, each key folds them in the caller's
  * total order, batch after batch — so the output equals a driver-side
  * per-key fold over the rows sorted by (batch, order). Each split is
  * fed twice, with every batch's rows in two different orders. */
class KeyedFoldSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import KeyedFoldSpec._

  private def run(batches: Seq[Seq[Row]]): Seq[Out] = {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Row]
    val out = mutable.ArrayBuffer[Out]()
    val q = fold(in.toDS()).writeStream.outputMode("append").foreachBatch {
      (df: Dataset[Out], _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
    }.start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    out.synchronized(out.toSeq.sortBy(o => (o.k, o.ord)))
  }

  private def reference(batches: Seq[Seq[Row]]): Seq[Out] = {
    val h = mutable.Map[Int, Option[Long]]().withDefaultValue(None)
    batches.flatMap(_.sortBy(_.ord)).map { r =>
      h(r.k) = stepState(h(r.k), r.v)
      Out(r.k, r.ord, h(r.k).getOrElse(0L))
    }.sortBy(o => (o.k, o.ord))
  }

  test("keyed fold: any in-batch arrival order folds in the given order") {
    for (nBatches <- Seq(1, 2, 4)) {
      val rnd = new scala.util.Random(7919L * nBatches)
      val ords = rnd.shuffle((1 to 60).toList)
      val rows = ords.map(o =>
        Row(rnd.nextInt(5), o.toLong, rnd.nextInt(50).toLong))
      val batchOf = rows.map(_ => rnd.nextInt(nBatches))
      val batches = (0 until nBatches).map(b =>
        rows.zip(batchOf).collect { case (r, `b`) => r })
      val want = reference(batches)
      // the generated (shuffled) order, then every batch reversed
      for (arrival <- Seq(batches, batches.map(_.reverse)))
        assert(run(arrival) === want, s"split $nBatches diverged")
    }
  }
}
