package perfbench

import java.math.BigDecimal

/** Checks one round of program output against the generator's own values.
  * Every generated line is one operation. It fails when its output is
  * missing or duplicated, routed to the wrong side, or differs in any field.
  * Output that matches no generated line counts as one more failure.
  *
  * `onWire = true` checks frames received on the SUB socket: ticks and
  * heartbeats must arrive exactly once, dead-letter lines never.
  * `onWire = false` checks rows of the pipeline output: every line must be
  * there exactly once, dead-letter lines with their raw text and no proto. */
final class Checker(expected: Array[Expect], onWire: Boolean) {
  private val n = expected.length
  private val seen = new Array[Int](n)
  private val bad = new java.util.BitSet(n)
  private var unmatched = 0L

  private lazy val byTime = {
    val m = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var i = 0
    while (i < n) { if (expected(i).epochNanos >= 0) m.put(expected(i).epochNanos, i); i += 1 }
    m
  }
  private lazy val byLine = {
    val m = new java.util.HashMap[String, Integer](n * 2)
    var i = 0
    while (i < n) { m.put(expected(i).line, i); i += 1 }
    m
  }

  private def sameTick(e: TickE, t: Proto.Tick): Boolean =
    t.asks == e.asks && t.bids == e.bids && t.closeoutAsk == e.closeoutAsk &&
      t.closeoutBid == e.closeoutBid && t.instrument == e.instrument &&
      t.status == e.status && t.seconds == e.seconds && t.nanos == e.nanos

  /** Does `proto` carry exactly what line `e` should publish? */
  private def sameMessage(e: Expect, proto: Array[Byte]): Boolean =
    (e, Proto.decode(proto)) match {
      case (t: TickE, Some(m: Proto.Tick)) => sameTick(t, m)
      case (h: HeartbeatE, Some(b: Proto.Beat)) =>
        b.seconds == h.seconds && b.nanos == h.nanos && b.tpe == "HEARTBEAT"
      case _ => false
    }

  /** One frame from the SUB socket. Returns the index of the generated line
    * it belongs to, or -1. */
  def frame(bytes: Array[Byte]): Int = {
    val key = Proto.decode(bytes) match {
      case Some(t: Proto.Tick) => t.seconds * 1000000000L + t.nanos
      case Some(b: Proto.Beat) => b.seconds * 1000000000L + b.nanos
      case None => -1L
    }
    val idx = if (key < 0) null else byTime.get(key)
    if (idx == null) { unmatched += 1; return -1 }
    val i = idx.intValue
    seen(i) += 1
    if (!sameMessage(expected(i), bytes)) bad.set(i)
    i
  }

  /** One row of the pipeline output. */
  def row(raw: String, messageType: String, proto: Array[Byte],
      spread: java.lang.Double, spreadDec: BigDecimal): Unit = {
    val idx = if (raw == null) null else byLine.get(raw)
    if (idx == null) { unmatched += 1; return }
    val i = idx.intValue
    seen(i) += 1
    val ok = expected(i) match {
      case t: TickE =>
        messageType == "price_tick" && proto != null && sameMessage(t, proto) &&
          spread != null && spread.doubleValue == t.spread &&
          spreadDec != null && spreadDec.compareTo(t.spreadDec) == 0
      case h: HeartbeatE =>
        messageType == "heartbeat" && proto != null && sameMessage(h, proto)
      case d: DeadE => messageType == d.kind && proto == null
    }
    if (!ok) bad.set(i)
  }

  def attempted: Long = n

  def failed: Long = {
    var f = unmatched
    var i = 0
    while (i < n) {
      val wanted = if (onWire && expected(i).isInstanceOf[DeadE]) 0 else 1
      if (seen(i) != wanted || bad.get(i)) f += 1
      i += 1
    }
    f
  }
}
