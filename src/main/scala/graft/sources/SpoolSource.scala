package graft.sources

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The envelope spool as a DataSource V2 micro-batch stream: one `value`
  * row per line of every file in a local directory, the rows
  * `spark.read.text` yields for those files, read without Hadoop.
  *
  * Order contract: files are admitted in name order, and the offset is
  * the name of the last admitted file, so a file is read only if its
  * name sorts after every name already admitted. A writer must therefore
  * make its files visible in name order (`FrontDoor` renames them under
  * one lock, with zero-padded sequence numbers). A file whose name sorts
  * at or before the offset when it appears is never read. Names starting
  * with `.` or `_` are hidden, as in Spark's file source (`FrontDoor`'s
  * `.spool*.tmp` files among them), and so are subdirectories.
  *
  * There is no seen-files log: the offset log alone says what each batch
  * read, and a checkpoint written by Spark's file source (whose offsets
  * are log indices, not names) fails at its first batch rather than
  * silently resuming from nothing.
  *
  * Options: `path` (the directory; a plain path or a `file:` URI) and
  * `maxFilesPerTrigger` (files admitted per batch, default 16). Under
  * `Trigger.AvailableNow` the cap still holds per batch and the query
  * stops at the last file present when it started. */
class SpoolSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpoolSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new SpoolTable(SpoolSource.directory(options.get("path")),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(16))
  }
}

object SpoolSource {
  val schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))

  /** The local directory a `path` option names. Any scheme but `file`
    * is refused here, when the stream is defined: this source reads
    * with `java.nio`, and a Hadoop file system is read through the
    * connector arm. */
  private[sources] def directory(path: String): Path = {
    require(path != null, "the spool source requires a 'path' option " +
      "pointing at the envelope spool directory")
    """^([a-zA-Z][a-zA-Z0-9+.-]*):""".r.findFirstMatchIn(path)
      .map(_.group(1).toLowerCase) match {
      case None => Path.of(path).toAbsolutePath
      case Some("file") => Path.of(java.net.URI.create(path))
      case Some(scheme) => throw new IllegalArgumentException(
        s"the spool source reads a local directory, not '$scheme:' " +
          s"($path); read a Hadoop file system through the connector " +
          "arm: envelopeSource(spark, \"text\", Map(\"path\" -> ...), " +
          "payloadColumn = \"value\")")
    }
  }

  /** The lines of one file's bytes, split and trimmed as Hadoop's
    * `LineRecordReader` does: `\n`, `\r\n` and a lone `\r` each end a
    * line, a final line needs no terminator, and a UTF-8 byte-order mark
    * at the start is dropped. Each line is a slice of `bytes`, not a
    * copy. */
  private[sources] def lines(bytes: Array[Byte]): Iterator[UTF8String] =
    new Iterator[UTF8String] {
      private var pos =
        if (bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
          bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte) 3 else 0
      override def hasNext: Boolean = pos < bytes.length
      override def next(): UTF8String = {
        var end = pos
        while (end < bytes.length && bytes(end) != '\n' && bytes(end) != '\r')
          end += 1
        val line = UTF8String.fromBytes(bytes, pos, end - pos)
        pos = if (end + 1 < bytes.length && bytes(end) == '\r' &&
          bytes(end + 1) == '\n') end + 2 else end + 1
        line
      }
    }

  private val mapper = new ObjectMapper()

  /** The offset: the name of the last admitted file, as a JSON string
    * ("" before the first). */
  private[sources] case class SpoolOffset(name: String) extends Offset {
    override def json(): String = mapper.writeValueAsString(name)
  }

  private[sources] object SpoolOffset {
    def parse(json: String): SpoolOffset = {
      val node = mapper.readTree(json)
      if (node == null || !node.isTextual)
        throw new IllegalStateException(
          s"the checkpoint holds the offset $json, which the spool source " +
            "did not write: it was written by Spark's file source, whose " +
            "progress cannot be carried over. Start the query with a fresh " +
            "checkpoint directory.")
      SpoolOffset(node.asText)
    }
  }
}

private[sources] class SpoolTable(dir: Path, maxFiles: Int)
  extends Table with SupportsRead {

  override def name(): String = s"spool $dir"
  override def schema(): StructType = SpoolSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = SpoolSource.schema
      override def description(): String = name()
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream = new SpoolStream(dir, maxFiles,
        SparkSession.active.sparkContext.defaultParallelism,
        SQLConf.get.filesOpenCostInBytes)
    }
}

private[sources] final case class SpoolFile(name: String, size: Long)

private[sources] final case class SpoolPartition(paths: Array[String])
  extends InputPartition

private[sources] class SpoolStream(dir: Path, maxFiles: Int,
    parallelism: Int, bytesPerTask: Long)
  extends MicroBatchStream with SupportsTriggerAvailableNow {
  import SpoolSource.SpoolOffset

  /** The last name present when an AvailableNow query started. */
  @volatile private var stopAt: Option[String] = None
  /** The files the last `latestOffset` admitted, after which name. */
  @volatile private var admitted: (String, Vector[SpoolFile]) = ("", Vector.empty)

  override def initialOffset(): Offset = SpoolOffset("")
  override def deserializeOffset(json: String): Offset = SpoolOffset.parse(json)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxFiles)

  override def prepareForTriggerAvailableNow(): Unit =
    stopAt = Some(names().maxOption.getOrElse(""))

  /** The name of the last file admitted after `start`, or null when no
    * file is new: the engine reads any offset it has not committed as
    * new data, so returning `start` before the first file would run an
    * empty batch. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SpoolOffset].name
    val cap = limit match {
      case m: ReadMaxFiles => m.maxFiles()
      case _: ReadAllAvailable => Int.MaxValue
      case _ => maxFiles
    }
    val files = after(from, stopAt, cap)
    admitted = (from, files)
    files.lastOption.map(f => SpoolOffset(f.name)).orNull
  }

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  /** The batch's files dealt by size, largest first, each to the
    * partition holding the fewest bytes so far, into at most
    * `parallelism` partitions and at most one per `bytesPerTask` bytes of
    * the batch (Spark's `spark.sql.files.openCostInBytes`, the bytes the
    * file source reckons one file open is worth), so a batch of a few
    * small envelopes is one task, not one per core. Each partition reads
    * its files in name order. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = start.asInstanceOf[SpoolOffset].name
    val to = end.asInstanceOf[SpoolOffset].name
    val files = admitted match {
      case (`from`, fs) if fs.lastOption.exists(_.name == to) => fs
      case _ => after(from, Some(to), Int.MaxValue)
    }
    val total = files.map(_.size).sum
    val n = math.max(1, Seq(files.size.toLong, parallelism.toLong,
      (total + bytesPerTask - 1) / bytesPerTask).min.toInt)
    val bins = Array.fill(n)(Vector.empty[String])
    val bytes = new Array[Long](n)
    files.sortBy(-_.size).foreach { f =>
      val i = bytes.indices.minBy(bytes)
      bins(i) :+= f.name
      bytes(i) += f.size
    }
    bins.filter(_.nonEmpty).map(names =>
      SpoolPartition(names.sorted.map(dir.resolve(_).toString).toArray): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = SpoolReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The visible names in the spool, in directory order. */
  private def names(): Vector[String] = {
    val entries = Files.newDirectoryStream(dir)
    try entries.asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toVector
    finally entries.close()
  }

  /** Up to `cap` regular files named after `from` and at most `upTo`,
    * in name order. The directory is listed twice: a listing can miss a
    * file renamed into place while it runs, yet return one renamed after
    * it, and admitting that later name would skip the earlier one for
    * good. A file renamed before the first listing ended is in the
    * second, so only names up to the first listing's last one are
    * admitted. */
  private def after(from: String, upTo: Option[String], cap: Int)
      : Vector[SpoolFile] =
    (names().maxOption ++ upTo).minOption.fold(Vector.empty[SpoolFile]) { last =>
      names().filter(n => n > from && n <= last).sorted.iterator
        .map(n => (n, Files.readAttributes(dir.resolve(n),
          classOf[BasicFileAttributes])))
        .collect { case (n, a) if a.isRegularFile => SpoolFile(n, a.size) }
        .take(cap).toVector
    }
}

private[sources] object SpoolReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val files = partition.asInstanceOf[SpoolPartition].paths.iterator
    private var lines = Iterator.empty[UTF8String]
    private var line: UTF8String = _
    override def next(): Boolean = {
      while (!lines.hasNext && files.hasNext)
        lines = SpoolSource.lines(Files.readAllBytes(Path.of(files.next())))
      lines.hasNext && { line = lines.next(); true }
    }
    override def get(): InternalRow = InternalRow(line)
    override def close(): Unit = ()
  }
}
