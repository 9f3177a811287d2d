package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval of the run; `parent` names the enclosing span. */
final case class Span(name: String, start: Long, end: Long, parent: String,
    runId: String)

/** Spans of one run, kept in memory and written once at the end. */
final class Spans(runId: String) {
  private val buf = ArrayBuffer.empty[Span]
  def time[T](name: String, parent: String = "")(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally synchronized { buf += Span(name, t0, System.nanoTime(), parent, runId) }
  }
  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(buf.toList).map { s =>
      s"""{"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":"${s.parent}","run_id":"${s.runId}"}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters for the traced part of a run: a SparkListener for
  * jobs, stages, tasks, shuffle, spill and output bytes; a
  * StreamingQueryListener for per-trigger durations; and a read of the SQL status store (the
  * store the Spark UI's SQL tab renders) for plan size and Exchanges
  * of every SQL execution that ran while attached. */
final class Trace(spark: SparkSession) {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var output = 0L
  val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        output += m.outputMetrics.bytesWritten
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  private val sqlStore = spark.sharedState.statusStore
  private var firstExecution = 0L
  private var gc0 = 0L
  private var gcS = 0.0

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def attach(): Unit = {
    firstExecution = (sqlStore.executionsList().map(_.executionId) :+ -1L).max + 1
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    gc0 = gcMillis()
  }

  def detach(): Unit = {
    gcS = (gcMillis() - gc0) / 1000.0
    // the listener bus delivers asynchronously; let it drain first
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** (plan nodes, Exchange nodes) over the SQL executions that ran
    * while attached. */
  def planCounts(): (Long, Long) = {
    var nodes = 0L
    var exchanges = 0L
    sqlStore.executionsList().filter(_.executionId >= firstExecution).foreach { e =>
      val g = sqlStore.planGraph(e.executionId)
      g.allNodes.foreach { n =>
        nodes += 1
        if (n.name.contains("Exchange")) exchanges += 1
      }
    }
    (nodes, exchanges)
  }

  /** Sum over triggers of one `durationMs` key, in seconds. */
  def durationS(key: String): Double = progress.synchronized {
    progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0
  }

  def triggerTimes: Seq[Double] = progress.synchronized {
    progress.toSeq.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1000.0)
  }

  def engineMetrics(): Map[String, Double] = {
    val (nodes, exchanges) = planCounts()
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.exchanges" -> exchanges.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.output_bytes" -> output.toDouble,
      "spark.plan_nodes" -> nodes.toDouble,
      "spark.gc_s" -> gcS)
  }

  def streamMetrics(backlogEnd: Double): Map[String, Double] = {
    val tt = triggerTimes
    Map(
      "stream.batches" -> tt.size.toDouble,
      "stream.trigger_p50_s" -> Stats.quantile(tt, 0.5),
      "stream.trigger_max_s" -> (if (tt.isEmpty) 0.0 else tt.max),
      "stream.add_batch_s" -> durationS("addBatch"),
      "stream.latest_offset_s" -> durationS("latestOffset"),
      "stream.query_planning_s" -> durationS("queryPlanning"),
      "stream.wal_commit_s" -> durationS("walCommit"),
      "stream.backlog_end" -> backlogEnd)
  }
}
