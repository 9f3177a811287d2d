package graft.sources

import graft.SparkTestBase
import graft.dns.Streaming
import graft.examples.FrontDoor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import java.net.{DatagramPacket, DatagramSocket, InetAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The envelope spool source: its rows are `spark.read.text`'s, it
  * admits files in name order under both trigger kinds, it resumes
  * FrontDoor's spool across a restart of both sides without skipping an
  * accepted envelope, and it refuses what it cannot read correctly. */
class SpoolSourceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  private def envelope(id: String): String = {
    val record =
      s"""{"version":"1","account_id":"a","region":"r","vpc_id":"vpc-s",""" +
        s""""query_timestamp":"2023-10-15T14:03:07Z","query_name":"$id.example.",""" +
        """"query_type":"A","query_class":"IN","rcode":"NOERROR",""" +
        """"answers":[{"Rdata":"1.2.3.4","Type":"A"}],"srcaddr":"10.0.0.1",""" +
        """"srcport":"1234","transport":"UDP","srcids":{"instance":"i-1"}}"""
    s"""{"requestId":"$id","records":[{"data":"${b64(record)}"}]}"""
  }

  /** Every row of the raw spool stream over `dir`, by batch, drained
    * with AvailableNow on checkpoint `ck`; `during` runs inside batch 0. */
  private def drain(dir: Path, ck: Path, maxFiles: Int = 16,
      during: () => Unit = () => ()): Map[Long, Seq[String]] = {
    val batches = mutable.Map[Long, Seq[String]]()
    val q = spark.readStream.format(classOf[SpoolSource].getName)
      .option("path", dir.toString)
      .option("maxFilesPerTrigger", maxFiles.toString).load()
      .writeStream.option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        if (id == 0) during()
        batches.synchronized { batches(id) = df.as[String].collect().toSeq }
        ()
      }.start()
    q.awaitTermination(60000)
    batches.synchronized(batches.toMap)
  }

  private val BOM = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  /** One spool file's bytes: lines of ASCII, JSON punctuation and
    * multi-byte UTF-8 (blank ones too), each ended by `\n`, `\r\n` or
    * `\r`, the last one maybe not, maybe after a byte-order mark. */
  private val fileBytes: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 6)
    lines <- Gen.listOfN(n, Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "{", "}", "\"", ":", ","),
      2 -> Gen.oneOf("é", "中", "😀", " "))).map(_.mkString))
    ends <- Gen.listOfN(n, Gen.oneOf("\n", "\r\n", "\r"))
    lastEnded <- Gen.oneOf(true, false)
    bom <- Gen.frequency(1 -> true, 3 -> false)
  } yield {
    val text = lines.zip(ends).zipWithIndex.map { case ((l, e), i) =>
      if (i == n - 1 && !lastEnded) l else l + e
    }.mkString
    (if (bom) BOM else Array.emptyByteArray) ++ text.getBytes(UTF_8)
  }

  test("reader parity: the spool's rows are spark.read.text's, hidden files never read") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, fileBytes)) { files =>
      val dir = Files.createTempDirectory("spool_parity")
      files.zipWithIndex.foreach { case (b, i) =>
        Files.write(dir.resolve(f"f$i%03d.json"), b)
      }
      // FrontDoor's in-flight temp file and a `_`-prefixed one
      Files.writeString(dir.resolve(".spool123.tmp"), "hidden-dot\n")
      Files.writeString(dir.resolve("_hidden.json"), "hidden-underscore\n")
      val text = spark.read.text(dir.toString)
        .select(input_file_name(), col("value")).as[(String, String)]
        .collect().toSeq
      val byFile = text.groupMap(r => Path.of(URI.create(r._1)).getFileName
        .toString)(_._2).withDefaultValue(Nil)
      val perFile = files.indices.forall { i =>
        val name = f"f$i%03d.json"
        SpoolSource.lines(Files.readAllBytes(dir.resolve(name)))
          .map(_.toString).toSeq == byFile(name)
      }
      val streamed = drain(dir, Files.createTempDirectory("spool_parity_ck"))
        .values.flatten.toSeq
      perFile && streamed.sorted == text.map(_._2).sorted &&
        !streamed.exists(_.startsWith("hidden"))
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }

  test("AvailableNow admits maxFilesPerTrigger files per batch, stops at the files present at start, and runs no empty batch") {
    val dir = Files.createTempDirectory("spool_now")
    val ck = Files.createTempDirectory("spool_now_ck")
    (0 until 5).foreach(i => Files.writeString(dir.resolve(s"f$i.json"), s"line-$i\n"))
    val late = () => { Files.writeString(dir.resolve("f5.json"), "line-5\n"); () }
    val first = drain(dir, ck, maxFiles = 2, during = late)
    assert(first === Map(0L -> Seq("line-0", "line-1"),
      1L -> Seq("line-2", "line-3"), 2L -> Seq("line-4")))
    // the file written while the first query ran is the next query's
    assert(drain(dir, ck, maxFiles = 2) === Map(3L -> Seq("line-5")))
    // and with no new file there is no batch, not even an empty one
    assert(drain(dir, ck, maxFiles = 2) === Map.empty)
    assert(drain(Files.createTempDirectory("spool_empty"),
      Files.createTempDirectory("spool_empty_ck")) === Map.empty)
  }

  test("FrontDoor and the query stopped mid-spool and restarted: no accepted envelope is skipped") {
    val spool = Files.createTempDirectory("spool_restart")
    val ck = Files.createTempDirectory("spool_restart_ck").toString
    val dead = Files.createTempDirectory("spool_restart_dl").toString
    val socket = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
    val received = mutable.ArrayBuffer[String]()
    val collector = new Thread(() => {
      val buf = new Array[Byte](65535)
      try while (true) {
        val p = new DatagramPacket(buf, buf.length)
        socket.receive(p)
        received.synchronized(received += new String(p.getData, 0, p.getLength, UTF_8))
      } catch { case _: Exception => () }
    })
    collector.setDaemon(true)
    collector.start()
    val client = HttpClient.newHttpClient()
    val pool = Executors.newFixedThreadPool(8)
    /** 8 threads POST `perThread` envelopes each; the accepted ids. */
    def post(server: FrontDoor.Server, round: Int, perThread: Int): Seq[String] =
      (0 until 8).map { t =>
        pool.submit(new Callable[Seq[String]] {
          override def call(): Seq[String] = (0 until perThread).flatMap { i =>
            val id = s"r$round-t$t-$i"
            val resp = client.send(HttpRequest.newBuilder(
                URI.create(s"http://127.0.0.1:${server.port}/endpoint"))
              .header("Content-Type", "application/json")
              .POST(HttpRequest.BodyPublishers.ofString(envelope(id))).build(),
              HttpResponse.BodyHandlers.ofString())
            if (resp.statusCode() == 200) Some(id) else None
          }
        })
      }.flatMap(_.get())
    def query(maxFiles: Int, every: String) = Streaming.start(
      Streaming.envelopeSource(spark, "files",
        Map("path" -> spool.toString, "maxFilesPerTrigger" -> maxFiles.toString)),
      "127.0.0.1", socket.getLocalPort, dead, ck, Trigger.ProcessingTime(every))
    def arrived(ids: Seq[String]): Int = received.synchronized {
      val seen = received.iterator.collect {
        case l if l.contains(" query: ") => l.split(" query: ")(1).takeWhile(_ != ' ')
      }.toSet
      ids.count(id => seen(s"$id.example."))
    }
    try {
      // 2 files per 500 ms trigger cannot drain 64 posts before the stop
      val server1 = FrontDoor.start(0, spool)
      val q1 = query(2, "500 milliseconds")
      val accepted1 = post(server1, 1, 8)
      q1.stop()
      server1.stop()
      val beforeRestart = arrived(accepted1)
      assert(accepted1.size === 64)
      assert(beforeRestart < accepted1.size, "the stop must come mid-spool")
      val server2 = FrontDoor.start(0, spool)
      val q2 = query(1000, "200 milliseconds")
      try {
        val accepted = accepted1 ++ post(server2, 2, 8)
        assert(accepted.size === 128)
        val deadline = System.currentTimeMillis() + 60000
        while (arrived(accepted) < accepted.size &&
          System.currentTimeMillis() < deadline) Thread.sleep(200)
        val missing = accepted.filterNot(id => arrived(Seq(id)) == 1)
        assert(missing.isEmpty, s"accepted but never sent: $missing")
      } finally { q2.stop(); server2.stop() }
    } finally { pool.shutdown(); socket.close() }
  }

  test("a restarted FrontDoor names new files after the old ones, even once those are gone") {
    val spool = Files.createTempDirectory("spool_names")
    def postOne(id: String): String = {
      val server = FrontDoor.start(0, spool)
      try {
        val resp = HttpClient.newHttpClient().send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/endpoint"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(envelope(id))).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() === 200)
      } finally server.stop()
      val names = Files.list(spool)
      try names.iterator().asScala.map(_.getFileName.toString).toSeq.max
      finally names.close()
    }
    val first = postOne("n0")
    val second = postOne("n1")
    assert(second > first)
    Files.delete(spool.resolve(first))
    Files.delete(spool.resolve(second))
    assert(postOne("n2") > second)
  }

  test("a checkpoint written by Spark's file source stops the query at start") {
    val dir = Files.createTempDirectory("spool_old")
    val ck = Files.createTempDirectory("spool_old_ck").toString
    Files.writeString(dir.resolve("a.json"), envelope("old0") + "\n")
    val old = spark.readStream.text(dir.toString).writeStream
      .option("checkpointLocation", ck).format("noop")
      .trigger(Trigger.AvailableNow()).start()
    old.awaitTermination(60000)
    val sink = new DatagramSocket(0, InetAddress.getByName("127.0.0.1"))
    try {
      val q = Streaming.start(
        Streaming.envelopeSource(spark, "files", Map("path" -> dir.toString)),
        "127.0.0.1", sink.getLocalPort,
        Files.createTempDirectory("spool_old_dl").toString, ck,
        Trigger.AvailableNow())
      val err = intercept[StreamingQueryException](q.awaitTermination(60000))
      assert(err.getMessage.contains("fresh checkpoint"), err.getMessage)
    } finally sink.close()
  }

  test("a path on another file system is refused, naming the connector arm") {
    val err = intercept[IllegalArgumentException] {
      Streaming.envelopeSource(spark, "files",
        Map("path" -> "hdfs://namenode:8020/spool"))
    }
    assert(err.getMessage.contains("envelopeSource(spark, \"text\""), err.getMessage)
  }
}
