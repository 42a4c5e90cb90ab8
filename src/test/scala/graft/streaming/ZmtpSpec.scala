package graft.streaming

import java.io.DataInputStream
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII
import org.scalatest.funsuite.AnyFunSuite

/** ZMTP 3.0 conformance (rfc.zeromq.org/spec/23) for the clean-room PUB
  * endpoint. Two layers:
  *
  *  1. GOLDEN OCTETS against the RFC's normative grammar — the greeting's
  *     exact 64-octet layout, the READY command encoding with the
  *     Socket-Type property, and both frame size forms. These pin the
  *     bytes a real libzmq peer would see, which is the only interop
  *     evidence available in an offline sandbox (no libzmq/jeromq/pyzmq
  *     exists here).
  *  2. A LOOPBACK SUB CLIENT implemented independently from the same
  *     grammar (raw socket, no shared encoder for its send path beyond the
  *     octet constants asserted in layer 1), driving the full lifecycle:
  *     handshake, subscribe, filtered delivery, cancel, incompatible-peer
  *     rejection, drop-when-unsubscribed, drop-at-high-water-mark.
  */
class ZmtpSpec extends AnyFunSuite {

  // ---- layer 1: golden octets -------------------------------------------

  test("greeting is the RFC 23 64-octet layout: signature, 3.0, NULL, as-server 0") {
    val g = Zmtp.greeting
    assert(g.length == 64)
    assert((g(0) & 0xFF) == 0xFF && g.slice(1, 9).forall(_ == 0) && g(9) == 0x7F)
    assert(g(10) == 3 && g(11) == 0)
    assert(new String(g.slice(12, 16), US_ASCII) == "NULL")
    assert(g.slice(16, 32).forall(_ == 0)) // mechanism zero padding
    assert(g(32) == 0)                     // as-server
    assert(g.slice(33, 64).forall(_ == 0)) // filler
  }

  test("READY(PUB) command frame matches the normative encoding octet-for-octet") {
    // flags 0x04 (command, short), size 0x19, \x05READY,
    // \x0bSocket-Type, int32 value-length 3, "PUB"
    val expected = Array[Int](
      0x04, 0x19,
      0x05, 'R', 'E', 'A', 'D', 'Y',
      0x0B, 'S', 'o', 'c', 'k', 'e', 't', '-', 'T', 'y', 'p', 'e',
      0x00, 0x00, 0x00, 0x03, 'P', 'U', 'B').map(_.toByte)
    assert(Zmtp.readyCommand("PUB").sameElements(expected))
  }

  test("short and long frame forms round-trip through the codec") {
    val small = Array.tabulate(255)(_.toByte)
    val enc = Zmtp.encodeFrame(small)
    assert(enc(0) == 0x00 && (enc(1) & 0xFF) == 255)
    val large = Array.tabulate(300)(_.toByte)
    val encL = Zmtp.encodeFrame(large)
    assert(encL(0) == 0x02) // LONG bit
    assert(java.nio.ByteBuffer.wrap(encL, 1, 8).getLong == 300L)
    for (bytes <- Seq(enc, encL)) {
      val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val f = Zmtp.readFrame(in)
      assert(!f.isCommand && !f.more)
      assert(f.body.sameElements(if (bytes eq enc) small else large))
    }
  }

  test("greeting validation rejects bad signature, old version, non-NULL mechanism") {
    def mut(i: Int, v: Byte) = { val g = Zmtp.greeting; g(i) = v; g }
    assert(Zmtp.validateGreeting(Zmtp.greeting).isRight)
    assert(Zmtp.validateGreeting(mut(0, 0x00)).isLeft)
    assert(Zmtp.validateGreeting(mut(10, 2)).isLeft)
    assert(Zmtp.validateGreeting(mut(12, 'P')).isLeft)
    // a 3.1 peer is accepted (it downgrades to our 3.0)
    assert(Zmtp.validateGreeting(mut(11, 1)).isRight)
  }

  // ---- layer 2: loopback subscriber -------------------------------------

  /** Minimal SUB peer: performs the ZMTP 3.0 lifecycle over a raw socket.
    * Subscription frames are hand-built (0x01/0x00 + prefix messages). */
  private final class SubClient(port: Int) extends AutoCloseable {
    private val socket = new Socket("127.0.0.1", port)
    private val out = socket.getOutputStream
    private val in = new DataInputStream(socket.getInputStream)

    def handshake(socketType: String = "SUB"): Unit = {
      out.write(Zmtp.greeting); out.flush()
      val peer = new Array[Byte](64); in.readFully(peer)
      assert(Zmtp.validateGreeting(peer).isRight)
      out.write(Zmtp.readyCommand(socketType)); out.flush()
      val ready = Zmtp.readFrame(in)
      assert(ready.isCommand)
      val (name, meta) = Zmtp.parseCommand(ready.body)
      assert(name == "READY" && meta("Socket-Type") == "PUB")
    }
    def subscribe(prefix: Array[Byte]): Unit = {
      out.write(Zmtp.encodeFrame(1.toByte +: prefix)); out.flush()
    }
    def cancel(prefix: Array[Byte]): Unit = {
      out.write(Zmtp.encodeFrame(0.toByte +: prefix)); out.flush()
    }
    def recv(timeoutMs: Int = 5000): Array[Byte] = {
      socket.setSoTimeout(timeoutMs)
      Zmtp.readFrame(in).body
    }
    def recvNone(timeoutMs: Int = 300): Boolean = {
      socket.setSoTimeout(timeoutMs)
      try { Zmtp.readFrame(in); false }
      catch { case _: java.net.SocketTimeoutException => true }
    }
    override def close(): Unit = socket.close()
  }

  private def awaitSubscribers(server: ZmtpPubServer, n: Int): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (server.subscriberCount < n && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(server.subscriberCount >= n)
  }

  test("full PUB lifecycle: handshake, empty-prefix subscribe, exact delivery") {
    val server = new ZmtpPubServer(0)
    try {
      val sub = new SubClient(server.boundPort)
      sub.handshake()
      awaitSubscribers(server, 1)
      sub.subscribe(Array.empty) // "" matches everything, the reference's mode
      Thread.sleep(100) // subscription propagation
      val payload = Array.tabulate(300)(i => (i * 7).toByte) // long-frame path
      server.publish(payload)
      assert(sub.recv().sameElements(payload))
      sub.close()
    } finally server.close()
  }

  test("prefix filtering and cancel follow PUB semantics") {
    val server = new ZmtpPubServer(0)
    try {
      val sub = new SubClient(server.boundPort)
      sub.handshake()
      awaitSubscribers(server, 1)
      // before any subscription: PUB drops everything
      server.publish("orphan".getBytes(US_ASCII))
      assert(sub.recvNone())
      sub.subscribe("tick:".getBytes(US_ASCII))
      Thread.sleep(100)
      server.publish("hb:1".getBytes(US_ASCII))      // filtered out
      server.publish("tick:EURUSD".getBytes(US_ASCII))
      assert(new String(sub.recv(), US_ASCII) == "tick:EURUSD")
      sub.cancel("tick:".getBytes(US_ASCII))
      Thread.sleep(100)
      server.publish("tick:GBPUSD".getBytes(US_ASCII))
      assert(sub.recvNone())
      sub.close()
    } finally server.close()
  }

  test("an incompatible peer (REQ) is rejected at the handshake") {
    val server = new ZmtpPubServer(0)
    try {
      val sub = new SubClient(server.boundPort)
      sub.handshake(socketType = "REQ")
      // the server drops the connection instead of registering it
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var closed = false
      while (!closed && System.nanoTime() < deadline) {
        try { if (sub.recvNone(100)) () } catch { case _: Exception => closed = true }
      }
      assert(closed, "server must close an incompatible peer")
      assert(server.subscriberCount == 0)
      sub.close()
    } finally server.close()
  }

  test("end-to-end P1→P14 over ZMTP: pipeline proto frames reach a ZMTP SUB unchanged") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val name = s"zmtp-e2e-${System.nanoTime()}"
    val server = ZmtpPubServer.shared(name)
    val sub = new SubClient(server.boundPort)
    try {
      sub.handshake()
      awaitSubscribers(server, 1)
      sub.subscribe(Array.empty)
      Thread.sleep(150)
      val tickLine =
        """{"asks":[{"price":"1.08425","liquidity":1000000}],""" +
          """"bids":[{"price":"1.08412","liquidity":1000000}],""" +
          """"closeoutAsk":"1.08430","closeoutBid":"1.08410",""" +
          """"instrument":"EUR_USD","status":"tradeable",""" +
          """"time":"2024-01-15T09:30:00.123456789Z"}"""
      val heartbeatLine =
        """{"type":"HEARTBEAT","time":"2024-01-15T09:30:05.000000000Z"}"""
      val ms = MemoryStream[String]
      val wire = OandaPipeline.pipeline(ms.toDF())
      val ckpt = java.nio.file.Files.createTempDirectory("zmtp-e2e-ck").toString
      val q = Sinks.publishStream(wire, () => new SharedZmtpPublisher(name), ckpt)
      try {
        ms.addData(tickLine, heartbeatLine)
        q.processAllAvailable()
      } finally q.stop()
      // the SUB receives both messages as single frames of raw protobuf —
      // exactly the reference wire (publisher.rs:19-24): oneof field 1
      // (tick) and 2 (heartbeat)
      val oneofs = Seq(sub.recv(), sub.recv())
        .map(f => graft.proto.ProtoWire.readFields(f).head.number).toSet
      assert(oneofs == Set(1, 2))
      assert(sub.recvNone()) // nothing else on the wire
    } finally {
      sub.close()
      ZmtpPubServer.closeShared(name)
    }
  }

  test("bindPort parses the config.rs ZMQ_PUBLISHER_ADDRESS forms") {
    assert(Zmtp.bindPort("tcp://" + "*:9500") == 9500)
    assert(Zmtp.bindPort("tcp://0.0.0.0:7001") == 7001)
    intercept[IllegalArgumentException](Zmtp.bindPort("ipc:///tmp/x"))
  }

  test("production SUB client: subscribe, filtered recv, PUB-peer requirement") {
    val server = new ZmtpPubServer(0)
    try {
      val sub = new ZmtpSubClient("127.0.0.1", server.boundPort,
        prefixes = Seq("tick:".getBytes(US_ASCII)))
      awaitSubscribers(server, 1)
      Thread.sleep(100)
      server.publish("hb:x".getBytes(US_ASCII)) // filtered by prefix
      server.publish("tick:EURUSD".getBytes(US_ASCII))
      assert(new String(sub.recv(), US_ASCII) == "tick:EURUSD")
      assert(sub.recvWithin(300).isEmpty)
      sub.close()
    } finally server.close()
  }

  test("a stalled subscriber never blocks publish; frames drop at the HWM") {
    val server = new ZmtpPubServer(0, highWaterMark = 4)
    try {
      val sub = new SubClient(server.boundPort)
      sub.handshake()
      awaitSubscribers(server, 1)
      sub.subscribe(Array.empty)
      Thread.sleep(100) // subscription propagation
      // the subscriber reads nothing: the socket buffers fill, the writer
      // parks on its write, and the bounded queue takes the overflow
      val payload = new Array[Byte](512 * 1024)
      val t0 = System.nanoTime()
      (1 to 64).foreach(_ => server.publish(payload))
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(elapsedSec < 10.0,
        f"64 x 512 KiB to a stalled subscriber took $elapsedSec%.1f s: publish blocked")
      var received = 0
      while (!sub.recvNone(1000)) received += 1
      assert(received < 64, "no frame was dropped at the high-water mark")
      sub.close()
    } finally server.close()
  }

  test("ZmtpPublisher publishes through the MessagePublisher seam") {
    val pub = new ZmtpPublisher(0)
    try {
      pub.publish("warmup-binds-lazily".getBytes(US_ASCII)) // forces the bind
      val sub = new SubClient(pub.boundPort)
      sub.handshake()
      sub.subscribe(Array.empty)
      Thread.sleep(150)
      pub.publish("proto-bytes".getBytes(US_ASCII))
      assert(new String(sub.recv(), US_ASCII) == "proto-bytes")
      sub.close()
    } finally pub.close()
  }
}
