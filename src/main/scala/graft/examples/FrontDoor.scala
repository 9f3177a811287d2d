package graft.examples

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.dns.DnsValidation
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Example HTTP front door replicating the reference's ingest transport
  * (app/app.py:60-105): `POST /endpoint` accepts one Firehose delivery
  * envelope per request, validates it with the SAME type-strict gate
  * the Spark pipeline uses ([[DnsValidation.envelopeRequestId]], the
  * gate behind [[DnsValidation.envelopeReason]] — one validator, both
  * surfaces — whose one parse also yields the ack's requestId), answers
  * with the Firehose HTTP-endpoint
  * response contract, and spools accepted bodies as files for the
  * spool source ([[graft.sources.SpoolSource]], which
  * [[graft.dns.Streaming.envelopeSource]] reads with `format="files"`).
  * `GET /health` mirrors app/app.py:265-267.
  *
  * JDK-only (`com.sun.net.httpserver`) so the example adds no
  * dependency; the engine never depends on this package. The reference
  * acks 200 BEFORE processing completes (app/app.py:96-102,
  * at-most-once) — the spool-then-stream split reproduces that ack
  * timing while the checkpointed spool source upgrades the processing
  * side to at-least-once.
  */
object FrontDoor {

  private val mapper = new ObjectMapper()

  final case class Server(http: HttpServer, spoolDir: Path,
      pool: java.util.concurrent.ExecutorService) {
    def port: Int = http.getAddress.getPort
    def stop(): Unit = { http.stop(0); pool.shutdown() }
  }

  /** Start the front door on `port` (0 = ephemeral), spooling accepted
    * envelopes into `spoolDir` (one file per delivery, atomic rename so
    * the spool source never lists a partial write). One server per
    * spool directory: its names are in order only among themselves.
    *
    * Thread-per-request, like the reference's `app.run(threaded=True)`
    * (app/app.py:279) — the JDK server's DEFAULT executor handles
    * requests serially on the dispatch thread, so one slow client
    * would head-of-line-block every producer. */
  def start(port: Int, spoolDir: Path): Server = {
    Files.createDirectories(spoolDir)
    val http = HttpServer.create(new InetSocketAddress(port), 0)
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    http.setExecutor(pool)
    val spool = new Spool(spoolDir)
    http.createContext("/endpoint", (ex: HttpExchange) => handle(ex, spool))
    http.createContext("/health", (ex: HttpExchange) => {
      val body = """{"status": "healthy"}""".getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    http.start()
    Server(http, spoolDir, pool)
  }

  /** The Firehose response contract (app/app.py:65-102): 405 on
    * non-POST, 400 on a Content-Type that is not EXACTLY
    * `application/json` (the reference compares `request.content_type`
    * with `!=`, app/app.py:69-74 — so even
    * `application/json; charset=utf-8` is rejected; mirrored
    * verbatim), 200 `{requestId, timestamp}` on acceptance, 400
    * `{requestId: "unknown", timestamp, errorMessage}` on any schema
    * violation. */
  private def handle(ex: HttpExchange, spool: Spool): Unit = {
    val now = System.currentTimeMillis()
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, s"""{"error": "method not allowed"}""")
      return
    }
    val contentType =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (contentType != "application/json") {
      respond(ex, 400,
        s"""{"requestId": "unknown", "timestamp": $now, "errorMessage": "Invalid content type. Expected application/json."}""")
      return
    }
    val body = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    DnsValidation.envelopeRequestId(body) match {
      case Right(requestId) =>
        spool.write(body)
        respond(ex, 200,
          s"""{"requestId": ${mapper.writeValueAsString(requestId)}, "timestamp": $now}""")
      case Left(reason) =>
        respond(ex, 400,
          s"""{"requestId": "unknown", "timestamp": $now, "errorMessage": "Invalid data format: $reason"}""")
    }
  }

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** One envelope document per file, named `spool-<n>.json` with `n`
    * zero-padded to 19 digits, so names sort in the order they were
    * spooled. The spool source reads files in name order and never
    * reads a name at or before the last one it admitted, so a name must
    * become visible only after every smaller one: each body is written
    * to a hidden temp file, and the number is taken and the file renamed
    * under one lock. A server resumes after the highest number in its
    * spool, and no lower than the clock in microseconds, so a restart
    * after the processed files were removed still names new files after
    * them. The `spool-` prefix sorts after the `envelope-<n>-<uuid>`
    * names of earlier versions, so a spool holding some of those stays
    * in order. */
  private final class Spool(dir: Path) {
    private var seq = {
      val names = Files.list(dir)
      try names.iterator().asScala.map(_.getFileName.toString)
        .collect { case Spool.Name(n) => n.toLong }
        .foldLeft(System.currentTimeMillis() * 1000)(math.max)
      finally names.close()
    }

    def write(body: String): Unit = {
      val tmp = Files.createTempFile(dir, ".spool", ".tmp")
      Files.writeString(tmp, body)
      synchronized {
        seq += 1
        Files.move(tmp, dir.resolve(f"spool-$seq%019d.json"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  private object Spool {
    val Name = """spool-(\d{19})\.json""".r
  }

  /** End-to-end example job: front door on `--port`, pipeline reading
    * the spool, BIND9 lines to UDP syslog at `--syslog-host:port`.
    * Ctrl-C to stop; the checkpoint makes restarts resume the spool. */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val spool = Path.of(opts.getOrElse("spool", "/tmp/graft-spool"))
    val server = start(opts.getOrElse("port", "8080").toInt, spool)
    println(s"front door listening on :${server.port}, spooling to $spool")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(opts.getOrElse("master", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val query = graft.dns.Streaming.start(
      graft.dns.Streaming.envelopeSource(spark, "files",
        Map("path" -> spool.toString)),
      opts.getOrElse("syslog-host", "127.0.0.1"),
      opts.getOrElse("syslog-port", "514").toInt,
      opts.getOrElse("dead-letter", "/tmp/graft-dead-letter"),
      opts.getOrElse("checkpoint", "/tmp/graft-checkpoint"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("2 seconds"))
    sys.addShutdownHook { query.stop(); server.stop() }
    query.awaitTermination()
  }
}
