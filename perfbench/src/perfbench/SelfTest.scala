package perfbench

import java.io.ByteArrayOutputStream
import java.math.BigDecimal

/** Tests of the output checker: a correct output must pass, and each kind
  * of corruption (a dropped row, a flipped spread, a duplicated frame, a
  * published dead-letter line) must count as exactly one failed operation.
  * The correct output is built here from the generator's values, with a
  * protobuf writer of the test's own.
  *
  * Usage: python3 perfbench/run.py --self-test   (exit 0 when all pass) */
object SelfTest {
  private def varint(o: ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7FL) != 0) { o.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
    o.write(x.toInt)
  }
  private def bytes(o: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    varint(o, (field << 3 | 2).toLong); varint(o, b.length.toLong); o.write(b)
  }
  private def str(o: ByteArrayOutputStream, field: Int, s: String): Unit =
    if (s.nonEmpty) bytes(o, field, s.getBytes("UTF-8"))
  private def uint(o: ByteArrayOutputStream, field: Int, v: Long): Unit =
    if (v != 0) { varint(o, (field << 3).toLong); varint(o, v) }
  private def msg(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new ByteArrayOutputStream(); f(o); o.toByteArray
  }
  private def ts(s: Long, n: Int): Array[Byte] = msg { o => uint(o, 1, s); uint(o, 2, n.toLong) }

  def frame(e: Expect): Array[Byte] = e match {
    case t: TickE => msg(o => bytes(o, 1, msg { p =>
      t.asks.foreach(l => bytes(p, 1, msg { q => str(q, 1, l.price); uint(q, 2, l.liquidity) }))
      t.bids.foreach(l => bytes(p, 2, msg { q => str(q, 1, l.price); uint(q, 2, l.liquidity) }))
      str(p, 3, t.closeoutAsk); str(p, 4, t.closeoutBid); str(p, 5, t.instrument)
      str(p, 6, t.status); bytes(p, 7, ts(t.seconds, t.nanos))
    }))
    case h: HeartbeatE => beat(h.epochNanos)
    case d: DeadE => null
  }
  private def beat(epochNanos: Long): Array[Byte] = msg(o => bytes(o, 2, msg { p =>
    bytes(p, 1, ts(Math.floorDiv(epochNanos, 1000000000L), Math.floorMod(epochNanos, 1000000000L).toInt))
    str(p, 2, "HEARTBEAT")
  }))

  final case class Row(raw: String, kind: String, proto: Array[Byte],
      spread: java.lang.Double, spreadDec: BigDecimal)

  def row(e: Expect): Row = e match {
    case t: TickE => Row(t.line, "price_tick", frame(t), t.spread, t.spreadDec)
    case h: HeartbeatE => Row(h.line, "heartbeat", frame(h), null, null)
    case d: DeadE => Row(d.line, d.kind, null, null, null)
  }

  private def wireFailed(exp: Array[Expect], frames: Seq[Array[Byte]]): Long = {
    val c = new Checker(exp, onWire = true); frames.foreach(c.frame); c.failed
  }
  private def rowsFailed(exp: Array[Expect], rows: Seq[Row]): Long = {
    val c = new Checker(exp, onWire = false)
    rows.foreach(r => c.row(r.raw, r.kind, r.proto, r.spread, r.spreadDec)); c.failed
  }

  def main(args: Array[String]): Unit = {
    val exp = Gen.live(7L, 3000, 1700000000000000000L, 10000000L)
    val frames = exp.toSeq.flatMap(e => Option(frame(e)))
    val rows = exp.toSeq.map(row)
    val tick = exp.indexWhere(_.isInstanceOf[TickE])
    val ti = rows.indexWhere(_.kind == "price_tick")
    val unknownTimed = exp.collectFirst { case d: DeadE if d.epochNanos >= 0 => d }.get
    val malformed = exp.collectFirst { case d: DeadE if d.kind == "malformed" => d }.get
    val flip = rows(ti).copy(spread = java.lang.Double.valueOf(rows(ti).spread + 1e-5))
    val wrongLiquidity = {
      val t = exp(tick).asInstanceOf[TickE]
      frame(t.copy(asks = t.asks.updated(0, t.asks(0).copy(liquidity = t.asks(0).liquidity + 1))))
    }
    val cases: Seq[(String, Long, Long)] = Seq(
      ("wire: correct output", wireFailed(exp, frames), 0L),
      ("rows: correct output", rowsFailed(exp, rows), 0L),
      ("wire: one dropped frame", wireFailed(exp, frames.patch(5, Nil, 1)), 1L),
      ("rows: one dropped row", rowsFailed(exp, rows.patch(5, Nil, 1)), 1L),
      ("rows: one flipped spread", rowsFailed(exp, rows.updated(ti, flip)), 1L),
      ("wire: one duplicated frame", wireFailed(exp, frames :+ frames(9)), 1L),
      ("rows: one duplicated row", rowsFailed(exp, rows :+ rows(9)), 1L),
      ("wire: one wrong liquidity", wireFailed(exp,
        frames.map(f => if (f eq frames(frames.indexWhere(g => Proto.decode(g).exists(_.isInstanceOf[Proto.Tick])))) wrongLiquidity else f)), 1L),
      ("wire: one published dead-letter line", wireFailed(exp, frames :+ beat(unknownTimed.epochNanos)), 1L),
      ("wire: one published malformed line", wireFailed(exp, frames :+ malformed.line.getBytes("UTF-8")), 1L),
      ("rows: one dead-letter line published",
        rowsFailed(exp, rows.map(r => if (r.raw == unknownTimed.line) r.copy(proto = beat(unknownTimed.epochNanos)) else r)), 1L),
      ("rows: one dead-letter line misrouted",
        rowsFailed(exp, rows.map(r => if (r.raw == malformed.line) r.copy(kind = "unknown") else r)), 1L))
    var bad = 0
    cases.foreach { case (name, got, want) =>
      val ok = got == want
      if (!ok) bad += 1
      println(f"${if (ok) "ok  " else "FAIL"} $name%-45s failed=$got (want $want)")
    }
    val kinds = exp.groupBy(_.getClass.getSimpleName).map { case (k, v) => s"$k=${v.length}" }
    println(s"generator mix over ${exp.length} lines: ${kinds.mkString(" ")}")
    if (bad > 0) { println(s"$bad self-test case(s) failed"); sys.exit(1) }
    println("checker self-test passed")
  }
}
