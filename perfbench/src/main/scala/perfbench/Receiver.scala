package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The datagrams one batch of envelopes must produce, and what arrived.
  * The receiver thread only copies each datagram and stamps its arrival
  * time, so it keeps up with the sink's bursts; matching happens after
  * the unit. Each expected datagram is a slot; anything that fills no
  * empty slot (unknown text, or a slot already filled) counts against
  * the envelope it names, or against none. */
final class Expectation(val envs: Array[Env]) {
  private val slots = new java.util.HashMap[String, Integer]()
  private val slotEnvB = Array.newBuilder[Int]
  private val slotRecB = Array.newBuilder[Int]
  private val byName = new java.util.HashMap[String, Integer]()
  private var recs = 0
  envs.indices.foreach { i =>
    envs(i).records.foreach { r =>
      byName.put(r.name, i)
      r.datagrams.foreach { d =>
        require(slots.put(d, slots.size) == null, s"duplicate expected datagram $d")
        slotEnvB += i
        slotRecB += recs
      }
      recs += 1
    }
  }
  val slotEnv: Array[Int] = slotEnvB.result()
  private val slotRec: Array[Int] = slotRecB.result()
  def expected: Int = slotEnv.length

  // room for every expected datagram twice over; any beyond that is
  // counted, not kept, and reads as unplaced
  private val capacity = 2 * expected + 1024
  private val texts = new Array[Array[Byte]](capacity)
  private val times = new Array[Long](capacity)
  private val stored = new AtomicInteger()
  val received = new AtomicInteger()
  @volatile var bytes: Long = 0L

  /** Receiver thread only: copy, stamp, count. */
  private[perfbench] def record(buf: Array[Byte], len: Int, at: Long): Unit = {
    val n = stored.get()
    if (n < capacity) {
      texts(n) = java.util.Arrays.copyOf(buf, len)
      times(n) = at
      stored.set(n + 1)
    }
    bytes += len
    received.incrementAndGet()
  }

  /** Wait until every expected datagram is in, or `timeoutMs` passes. */
  def await(timeoutMs: Long): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (received.get() < expected && System.nanoTime() < end) Thread.sleep(2)
    received.get() >= expected
  }

  /** Matches what arrived so far; read only once the unit is over. */
  private lazy val matched: Expectation.Matched = {
    val arrival = new Array[Long](expected)
    val bad = new Array[Int](envs.length)
    val kept = stored.get()
    var unplaced = received.get() - kept
    (0 until kept).foreach { k =>
      val text = new String(texts(k), UTF_8)
      val s = slots.get(text)
      if (s != null && arrival(s) == 0L) arrival(s) = times(k)
      else {
        val i = envOf(text)
        if (i >= 0) bad(i) += 1 else unplaced += 1
      }
    }
    Expectation.Matched(arrival, bad, unplaced)
  }

  private def envOf(text: String): Int = {
    val a = text.indexOf(" (")
    val b = text.indexOf("): ", a + 2)
    if (a < 0 || b < 0) -1
    else Option(byName.get(text.substring(a + 2, b))).map(_.intValue).getOrElse(-1)
  }

  /** Expected lines that arrived. */
  def lines: Int = matched.arrival.count(_ != 0L)

  /** Envelopes and records that at least one arrived line belongs to. */
  def envsWithLines: Set[Int] =
    slotEnv.indices.filter(matched.arrival(_) != 0L).map(slotEnv(_)).toSet
  def recordsWithLines: Int =
    slotRec.indices.filter(matched.arrival(_) != 0L).map(slotRec(_)).distinct.size

  /** Datagrams that name no known envelope. */
  def badUnplaced: Int = matched.unplaced

  /** Time the last datagram of envelope `i` arrived; -1 when any of its
    * datagrams is missing or it produced none. */
  def lastArrival: Array[Long] = {
    val arrival = matched.arrival
    val last = Array.fill(envs.length)(0L)
    val missing = new Array[Boolean](envs.length)
    slotEnv.indices.foreach { s =>
      val i = slotEnv(s)
      if (arrival(s) == 0L) missing(i) = true
      else last(i) = math.max(last(i), arrival(s))
    }
    envs.indices.map(i => if (missing(i) || last(i) == 0L) -1L else last(i)).toArray
  }

  /** Envelopes with a missing, wrong or duplicated datagram. */
  def failedEnvelopes: Set[Int] = {
    val f = Set.newBuilder[Int]
    slotEnv.indices.foreach(s => if (matched.arrival(s) == 0L) f += slotEnv(s))
    matched.badByEnv.indices.foreach(i => if (matched.badByEnv(i) > 0) f += i)
    f.result()
  }
}

object Expectation {
  private final case class Matched(arrival: Array[Long], badByEnv: Array[Int],
      unplaced: Int)
}

/** Loopback UDP syslog receiver: one socket, one thread. The socket's
  * granted receive buffer is checked against the request, and the
  * kernel's UDP buffer-error counters are read around every measured
  * unit, so a receiver-side overflow invalidates the unit instead of
  * reading as a program failure. */
final class Receiver(requestedBuffer: Int) extends AutoCloseable {
  private val socket = new DatagramSocket(null)
  socket.setReceiveBufferSize(requestedBuffer)
  socket.bind(new InetSocketAddress("127.0.0.1", 0))
  socket.setSoTimeout(50)
  val grantedBuffer: Int = socket.getReceiveBufferSize
  require(grantedBuffer >= math.min(requestedBuffer, Receiver.rmemMax),
    s"receive buffer $grantedBuffer below the requested $requestedBuffer")
  def port: Int = socket.getLocalPort

  @volatile private var current: Expectation = null
  @volatile private var running = true
  /** Datagrams that arrived while no expectation was armed. */
  @volatile var stray: Int = 0

  private val thread = new Thread(() => {
    val buf = new Array[Byte](65536)
    val p = new DatagramPacket(buf, buf.length)
    while (running) {
      try {
        p.setLength(buf.length)
        socket.receive(p)
        val at = System.nanoTime()
        val e = current
        if (e == null) stray += 1
        else e.record(buf, p.getLength, at)
      } catch { case _: SocketTimeoutException => () }
    }
  }, "perfbench-udp-receiver")
  thread.setDaemon(true)
  thread.start()

  def arm(e: Expectation): Unit = current = e
  def disarm(): Unit = current = null

  def close(): Unit = {
    running = false
    thread.join(5000)
    socket.close()
  }
}

object Receiver {
  lazy val rmemMax: Int =
    try Files.readString(Paths.get("/proc/sys/net/core/rmem_max")).trim.toInt
    catch { case _: Throwable => Int.MaxValue }

  /** (RcvbufErrors, SndbufErrors) from the `Udp:` rows of
    * /proc/net/snmp; zeros where the file is unreadable. */
  def bufferErrors(): (Long, Long) =
    try {
      val rows = Files.readAllLines(Paths.get("/proc/net/snmp")).asScala
        .filter(_.startsWith("Udp:")).map(_.split("\\s+").drop(1)).toSeq
      val m = rows(0).zip(rows(1)).toMap
      (m("RcvbufErrors").toLong, m("SndbufErrors").toLong)
    } catch { case _: Throwable => (0L, 0L) }
}
