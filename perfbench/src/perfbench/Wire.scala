package perfbench

import java.io.{BufferedInputStream, DataInputStream, EOFException}
import java.net.{Socket, SocketException}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** The benchmark's own ZMTP 3.0 SUB socket, written from RFC 23 (NULL
  * mechanism, message-style subscription). It shares no code with the
  * program's ZMTP classes, so a fault there cannot hide itself here. */
final class SubSocket(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = sock.getOutputStream

  locally {
    // greeting: signature %xFF 8*%x00 %x7F, version 3.0, mechanism "NULL"
    // padded to 20 octets, as-server 0, 31 octets of filler
    val g = new Array[Byte](64)
    g(0) = 0xFF.toByte; g(9) = 0x7F; g(10) = 3
    System.arraycopy("NULL".getBytes(US_ASCII), 0, g, 12, 4)
    out.write(g); out.flush()
    val peer = new Array[Byte](64)
    in.readFully(peer)
    if (peer(0) != 0xFF.toByte || peer(9) != 0x7F || peer(10) < 3)
      throw new SocketException("peer is not a ZMTP 3 endpoint")
    if (new String(peer, 12, 20, US_ASCII).takeWhile(_ != 0) != "NULL")
      throw new SocketException("peer does not use the NULL mechanism")
    // READY command: name, then property "Socket-Type" = "SUB"
    val body = new java.io.ByteArrayOutputStream()
    body.write(5); body.write("READY".getBytes(US_ASCII))
    body.write(11); body.write("Socket-Type".getBytes(US_ASCII))
    body.write(Array[Byte](0, 0, 0, 3)); body.write("SUB".getBytes(US_ASCII))
    out.write(0x04); out.write(body.size()); body.writeTo(out); out.flush()
    val (flags, ready) = frame()
    if ((flags & 0x04) == 0 || !readyFromPub(ready))
      throw new SocketException("peer did not answer READY as a PUB socket")
    // subscribe to every message: a one-frame message 0x01 + empty prefix
    out.write(Array[Byte](0x00, 0x01, 0x01)); out.flush()
  }

  private def readyFromPub(b: Array[Byte]): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(b)
    def short(): String = { val a = new Array[Byte](bb.get() & 0xFF); bb.get(a); new String(a, US_ASCII) }
    if (short() != "READY") return false
    var socketType = ""
    while (bb.hasRemaining) {
      val k = short()
      val v = new Array[Byte](bb.getInt()); bb.get(v)
      if (k.equalsIgnoreCase("Socket-Type")) socketType = new String(v, US_ASCII)
    }
    socketType == "PUB" || socketType == "XPUB"
  }

  /** (flags, body) of the next frame; flags bit 0 MORE, bit 1 LONG, bit 2 COMMAND. */
  private def frame(): (Int, Array[Byte]) = {
    val flags = in.readUnsignedByte()
    val size = if ((flags & 0x02) != 0) in.readLong() else in.readUnsignedByte().toLong
    if (size < 0 || size > (64L << 20)) throw new SocketException(s"frame size $size")
    val b = new Array[Byte](size.toInt)
    in.readFully(b)
    (flags, b)
  }

  /** The next message (frames joined), or null once the peer has gone. */
  def recv(): Array[Byte] =
    try {
      var (flags, body) = frame()
      while ((flags & 0x04) != 0) { val f = frame(); flags = f._1; body = f._2 }
      if ((flags & 0x01) == 0) body
      else {
        val acc = new java.io.ByteArrayOutputStream()
        acc.write(body)
        while ((flags & 0x01) != 0) {
          val f = frame(); flags = f._1
          if ((flags & 0x04) == 0) acc.write(f._2)
        }
        acc.toByteArray
      }
    } catch { case _: EOFException | _: SocketException => null }

  override def close(): Unit = try sock.close() catch { case _: Exception => () }
}

/** The benchmark's own protobuf decoder for the StreamMessageProto envelope.
  * Field numbers follow the declaration order of the schemas in SURVEY.md
  * §1.2: envelope price_tick=1 | heartbeat=2; PriceTick asks=1 bids=2
  * closeout_ask=3 closeout_bid=4 instrument=5 status=6 time=7; PriceLevel
  * price=1 liquidity=2; Heartbeat time=1 type=2; Timestamp seconds=1
  * nanos=2. Proto3 omits default values, so absent scalars read as 0/"". */
object Proto {
  sealed trait Msg
  final case class Tick(asks: Vector[Level], bids: Vector[Level], closeoutAsk: String,
      closeoutBid: String, instrument: String, status: String,
      seconds: Long, nanos: Int) extends Msg
  final case class Beat(seconds: Long, nanos: Int, tpe: String) extends Msg

  private final class Bad extends RuntimeException(null, null, false, false)

  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var r = 0L; var shift = 0
      while (true) {
        if (pos >= end || shift > 63) throw new Bad
        val x = b(pos); pos += 1
        r |= (x & 0x7FL) << shift
        if ((x & 0x80) == 0) return r
        shift += 7
      }
      r
    }
    /** (field, wire type) */
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    def sub(): Reader = {
      val n = varint()
      if (n < 0 || pos + n > end) throw new Bad
      val r = new Reader(b, pos, pos + n.toInt); pos += n.toInt; r
    }
    def str(): String = { val r = sub(); new String(b, r.pos, r.end - r.pos, UTF_8) }
  }

  private def expectWire(w: Int, want: Int): Unit = if (w != want) throw new Bad

  private def timestamp(r: Reader): (Long, Int) = {
    var s = 0L; var n = 0
    while (r.more) r.tag() match {
      case (1, w) => expectWire(w, 0); s = r.varint()
      case (2, w) => expectWire(w, 0); n = r.varint().toInt
      case _ => throw new Bad
    }
    (s, n)
  }

  private def level(r: Reader): Level = {
    var p = ""; var l = 0L
    while (r.more) r.tag() match {
      case (1, w) => expectWire(w, 2); p = r.str()
      case (2, w) => expectWire(w, 0); l = r.varint()
      case _ => throw new Bad
    }
    Level(p, l)
  }

  private def tick(r: Reader): Tick = {
    val asks = Vector.newBuilder[Level]; val bids = Vector.newBuilder[Level]
    var ca = ""; var cb = ""; var ins = ""; var st = ""; var time: (Long, Int) = null
    while (r.more) r.tag() match {
      case (1, w) => expectWire(w, 2); asks += level(r.sub())
      case (2, w) => expectWire(w, 2); bids += level(r.sub())
      case (3, w) => expectWire(w, 2); ca = r.str()
      case (4, w) => expectWire(w, 2); cb = r.str()
      case (5, w) => expectWire(w, 2); ins = r.str()
      case (6, w) => expectWire(w, 2); st = r.str()
      case (7, w) => expectWire(w, 2); time = timestamp(r.sub())
      case _ => throw new Bad
    }
    if (time == null) throw new Bad
    Tick(asks.result(), bids.result(), ca, cb, ins, st, time._1, time._2)
  }

  private def beat(r: Reader): Beat = {
    var time: (Long, Int) = null; var tpe = ""
    while (r.more) r.tag() match {
      case (1, w) => expectWire(w, 2); time = timestamp(r.sub())
      case (2, w) => expectWire(w, 2); tpe = r.str()
      case _ => throw new Bad
    }
    if (time == null) throw new Bad
    Beat(time._1, time._2, tpe)
  }

  /** The envelope's single message, or None if the bytes are not exactly one. */
  def decode(b: Array[Byte]): Option[Msg] =
    try {
      val r = new Reader(b, 0, b.length)
      val msg = r.tag() match {
        case (1, 2) => tick(r.sub())
        case (2, 2) => beat(r.sub())
        case _ => throw new Bad
      }
      if (r.more) None else Some(msg)
    } catch { case _: Bad => None }
}
