package perfbench

import graft.dns.Pipeline
import java.nio.file.Paths
import org.apache.spark.sql.functions.col

/** Specs of the harness itself, run with `python3 perfbench/run.py --spec`:
  *  - the generator is a pure function of its seed;
  *  - the independent renderer agrees with `Pipeline.process` on a
  *    sample that holds every poison reason and both reject reasons. */
object Specs {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(1))
    val mix = Envelopes.Mix(1, 60, poisonShare = 0.3, rejectShare = 0.25)
    val a = Envelopes.generate(7, "s", 16, mix)

    check("the same seed gives byte-identical envelopes") {
      val b = Envelopes.generate(7, "s", 16, mix)
      a.map(_.body).sameElements(b.map(_.body)) &&
        a.flatMap(_.datagrams).sameElements(b.flatMap(_.datagrams))
    }
    check("another seed gives other envelopes") {
      !Envelopes.generate(8, "s", 16, mix).map(_.body).sameElements(a.map(_.body))
    }
    check("the sample holds every poison and reject reason") {
      val reasons = a.filter(_.rejectReason == null).flatMap(_.records).map(_.reason).toSet
      Envelopes.PoisonReasons.forall(reasons) &&
        a.map(_.rejectReason).toSet == Set(null, "records_empty", "timestamp_type")
    }

    val spark = Main.session(work)
    import spark.implicits._
    val out = Pipeline.processJson(spark.createDataset(a.map(_.body).toSeq))
    check("rendered datagrams equal the pipeline's lines") {
      val got = out.lines.select(col("line")).as[String].collect()
        .map(l => s"<30>$l\u0000").sorted.toSeq
      val want = a.flatMap(_.datagrams).sorted.toSeq
      if (got != want) System.err.println(s"got ${got.size} lines, want ${want.size}: " +
        got.diff(want).take(2).mkString(" | "))
      got == want
    }
    check("expected quarantine rows equal the pipeline's") {
      val got = out.quarantine.select("requestId", "record_idx", "reason").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      got == Envelopes.quarantine(a)
    }
    check("expected rejects equal the pipeline's") {
      val got = out.rejectedEnvelopes.collect().map(r => (r.getString(0), r.getString(1))).toSet
      got == a.filter(_.rejectReason != null).map(e => (e.requestId, e.rejectReason)).toSet
    }
    out.release()
    spark.stop()
    println(if (failures == 0) "SPECS PASS" else s"SPECS FAIL ($failures)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
