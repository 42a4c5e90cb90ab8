package perfbench

import java.math.BigDecimal
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One ladder level as the generator wrote it. */
final case class Level(price: String, liquidity: Long)

/** One generated line and what the program must make of it. Every value here
  * is computed by the generator itself, apart from the program. */
sealed trait Expect {
  def line: String
  /** Epoch nanos of the line's wire `time`, or -1 when it carries none. */
  def epochNanos: Long
}

final case class TickE(line: String, asks: Vector[Level], bids: Vector[Level],
    closeoutAsk: String, closeoutBid: String, instrument: String, status: String,
    seconds: Long, nanos: Int, epochNanos: Long) extends Expect {
  /** f64 spread as `str::parse::<f64>` gives it: Double.parseDouble. */
  def spread: Double =
    java.lang.Double.parseDouble(closeoutAsk) - java.lang.Double.parseDouble(closeoutBid)
  /** Exact spread. */
  def spreadDec: BigDecimal = new BigDecimal(closeoutAsk).subtract(new BigDecimal(closeoutBid))
}

final case class HeartbeatE(line: String, seconds: Long, nanos: Int, epochNanos: Long)
    extends Expect

/** A line that belongs on the dead-letter side: `kind` is `unknown` (valid
  * JSON the dispatcher does not accept) or `malformed` (not JSON at all). */
final case class DeadE(line: String, kind: String, epochNanos: Long) extends Expect

/** Seeded generator of OANDA v20 pricing-stream lines: ticks over several
  * instruments with 1-4 level ladders, a heartbeat every 5 s of wire time,
  * about 1% unknown and 1.5% malformed lines. The same seed and the same
  * sequence of wire times give the same lines. */
final class Gen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)

  // (name, decimals, starting mid in price units)
  private val instruments = Array(
    ("EUR_USD", 5, 108425L), ("USD_JPY", 3, 148215L), ("GBP_USD", 5, 127112L),
    ("AUD_USD", 5, 65870L), ("USD_CHF", 5, 88104L), ("USD_CAD", 5, 135220L),
    ("EUR_JPY", 3, 160731L), ("XAU_USD", 3, 2031455L))
  private val mids = instruments.map(_._3)
  private val liquidities = Array(250000L, 500000L, 1000000L, 2000000L, 5000000L, 10000000L)
  private var nextHeartbeat = Long.MinValue
  private var serial = 0L

  // replay captures: wire time advances 1-41 ms per line from a seeded base
  private var replayNanos =
    Instant.parse("2024-01-15T07:00:00Z").getEpochSecond * 1000000000L +
      rnd.nextLong(0L, 6L * 3600L) * 1000000000L

  /** Next line of a replay capture (its wire time chosen here). */
  def nextReplay(): Expect = {
    replayNanos += 1000000L + rnd.nextLong(0L, 40000000L)
    next(replayNanos)
  }

  /** Next line, stamped with wire time `epochNanos`. */
  def next(epochNanos: Long): Expect = {
    serial += 1
    if (nextHeartbeat == Long.MinValue) nextHeartbeat = epochNanos + 5000000000L
    val time = Instant.ofEpochSecond(0L, epochNanos)
    val ts = Gen.wireTime(time)
    if (epochNanos >= nextHeartbeat) {
      nextHeartbeat = epochNanos + 5000000000L
      return HeartbeatE(s"""{"type":"HEARTBEAT","time":"$ts"}""",
        time.getEpochSecond, time.getNano, epochNanos)
    }
    val u = rnd.nextInt(1000)
    if (u < 15) {
      val s = serial
      return DeadE(s"<html><body>502 Bad Gateway #$s</body></html>", "malformed", -1L)
    }
    val i = rnd.nextInt(instruments.length)
    val (name, dec, _) = instruments(i)
    mids(i) = math.max(100L, mids(i) + rnd.nextInt(-3, 4))
    val half = 1 + rnd.nextInt(4)
    val bid = mids(i) - half
    val ask = mids(i) + half
    def px(units: Long): String = BigDecimal.valueOf(units, dec).toPlainString
    def ladder(top: Long, step: Long): Vector[Level] =
      Vector.tabulate(1 + rnd.nextInt(4))(k =>
        Level(px(top + k * step), liquidities(math.min(k + rnd.nextInt(3), liquidities.length - 1))))
    val bids = ladder(bid, -1L)
    val asks = ladder(ask, 1L)
    val coAsk = px(ask + rnd.nextInt(3))
    val coBid = px(bid - rnd.nextInt(3))
    def levels(ls: Vector[Level]): String =
      ls.map(l => s"""{"price":"${l.price}","liquidity":${l.liquidity}}""").mkString("[", ",", "]")
    if (u < 20) {
      // an ORDER_FILL-like transaction record: valid JSON, no instrument
      DeadE(s"""{"type":"ORDER_FILL","time":"$ts","id":"$serial","accountID":"101-004-1"}""",
        "unknown", epochNanos)
    } else if (u < 25) {
      // a tick that lost its closeoutBid: has an instrument, fails validation
      DeadE(s"""{"type":"PRICE","time":"$ts","bids":${levels(bids)},"asks":${levels(asks)},""" +
        s""""closeoutAsk":"$coAsk","status":"tradeable","tradeable":true,"instrument":"$name"}""",
        "unknown", epochNanos)
    } else {
      val line = s"""{"type":"PRICE","time":"$ts","bids":${levels(bids)},"asks":${levels(asks)},""" +
        s""""closeoutBid":"$coBid","closeoutAsk":"$coAsk","status":"tradeable","tradeable":true,""" +
        s""""instrument":"$name"}"""
      TickE(line, asks, bids, coAsk, coBid, name, "tradeable",
        time.getEpochSecond, time.getNano, epochNanos)
    }
  }
}

object Gen {
  private val secondsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** RFC 3339 with a 9-digit fraction, as the OANDA stream sends it. */
  def wireTime(t: Instant): String = f"${secondsFmt.format(t)}.${t.getNano}%09dZ"

  /** The first `n` lines of the replay capture for `seed`. */
  def replay(seed: Long, n: Int): Array[Expect] = {
    val g = new Gen(seed)
    Array.fill(n)(g.nextReplay())
  }

  /** Lines of the live capture for `seed`: line `i` is due at
    * `t0 + i * periodNanos` and carries that instant as its wire time. */
  def live(seed: Long, n: Int, t0: Long, periodNanos: Long): Array[Expect] = {
    val g = new Gen(seed)
    Array.tabulate(n)(i => g.next(t0 + i * periodNanos))
  }
}
