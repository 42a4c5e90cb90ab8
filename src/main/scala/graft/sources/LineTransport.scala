package graft.sources

import java.io.InputStream
import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.GZIPInputStream
import scala.util.Using
import graft.Config
import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.unsafe.types.UTF8String

/** Transport seam of the OANDA source (SURVEY.md §2A P1/P2/P7): the
  * offset/commit/planInputPartitions machinery of
  * [[OandaReplayMicroBatchStream]] is transport-independent; implementations
  * only answer "how many lines exist so far" and "give me lines [start,
  * end)". Two transports:
  *
  *   - [[FileLineTransport]] — replays a capture file; partitions are
  *     (path, range) so executors read the file themselves.
  *   - [[HttpLineTransport]] — the live-wire twin of the reference's
  *     `connect_to_stream` (`/root/reference/src/oanda_client.rs:10-39`):
  *     chunked GET with bearer auth, newline framing, bounded in-flight
  *     buffer as backpressure (≙ the mpsc channel cap at `main.rs:52`), plus
  *     the reconnect-on-disconnect the reference lacks (its producer task
  *     just exits at `oanda_client.rs:89-92` — SURVEY §3.2's liveness gap).
  */
trait LineTransport extends AutoCloseable {
  /** Absolute count of lines available so far (the stream head). Monotone;
    * may grow between calls for a live transport. A live transport never
    * throws here — its terminal failure is surfaced via [[failure]]; a
    * capture that cannot be read (a corrupt `.gz`) throws, which fails the
    * query on the driver. */
  def head(): Long

  /** Partitions covering lines [start, end). Must be replayable for any
    * range at or past the last committed offset (micro-batch retry). */
  def planPartitions(start: Long, end: Long): Array[InputPartition]

  def readerFactory: PartitionReaderFactory

  /** Lines below `upTo` are durably committed downstream; the transport may
    * discard them and release backpressure. */
  def commit(upTo: Long): Unit = ()

  /** Terminal failure, if the transport can produce no further lines
    * (non-2xx connect, reconnect budget exhausted). Already-buffered lines
    * stay readable; the stream fails once they are drained. */
  def failure: Option[Throwable] = None

  override def close(): Unit = ()
}

/** `\n` framing over raw bytes, with no charset decode: a line is the bytes
  * before its `\n`, less one trailing `\r` (so CRLF captures read like LF
  * ones; a lone `\r` does not end a line), and a last line without `\n`
  * still counts — the reference's `read_line` framing (`oanda_client.rs:
  * 34-48`). The one framing of every transport: the partition readers, the
  * HTTP transport's body reader and the continuous file reader, which calls
  * `next()` again after it returned null to pick up appended lines. */
private[sources] final class LineBytes(in: InputStream) extends AutoCloseable {
  // 16 KiB, not 64: allocating a 64 KiB array took ~50 µs (C1 JIT, 2 GB
  // heap, 4 vCPUs), longer than reading a 40-line partition
  private var buf = new Array[Byte](1 << 14)
  private var pos = 0 // next unread byte
  private var lim = 0 // end of the buffered bytes

  /** Moves the unread bytes to the front, grows the buffer if one line fills
    * it, and reads more behind them; false at the end of the input. */
  private def fill(): Boolean = {
    if (pos > 0) { System.arraycopy(buf, pos, buf, 0, lim - pos); lim -= pos; pos = 0 }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val r = in.read(buf, lim, buf.length - lim)
    if (r > 0) lim += r
    r > 0
  }

  /** The next line, or null at the end of the input. */
  def next(): UTF8String = {
    var i = pos
    var found = false
    var more = true
    while (!found && more) {
      while (i < lim && buf(i) != '\n') i += 1
      if (i < lim) found = true
      else { val seen = i - pos; more = fill(); i = pos + seen }
    }
    if (found || lim > pos) {
      val end = if (i > pos && buf(i - 1) == '\r') i - 1 else i
      val line = UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, pos, end))
      pos = math.min(lim, i + 1)
      line
    } else null
  }

  /** Passes the next `n` lines. Returns the lines passed: fewer than `n` at
    * the end of the input. */
  def advance(n: Long): Long = {
    var left = n
    var open = false // bytes passed since the last '\n'
    var more = true
    while (left > 0 && more) {
      var i = pos
      while (i < lim && left > 0) { if (buf(i) == '\n') left -= 1; i += 1 }
      if (i > pos) { open = buf(i - 1) != '\n'; pos = i }
      if (left > 0) more = fill()
    }
    if (left > 0 && open) left -= 1 // a last line without '\n'
    n - left
  }

  override def close(): Unit = in.close()
}

private[sources] object LineBytes {
  /** Lines of a capture from `byteOffset`, which must be a line start; a
    * `.gz` capture is inflated from its first byte. */
  def open(path: String, byteOffset: Long = 0L): LineBytes = {
    val gz = path.endsWith(".gz")
    require(byteOffset == 0L || !gz, s"cannot seek into gzip capture $path")
    val ch = FileChannel.open(Paths.get(path)).position(byteOffset)
    try new LineBytes(if (gz) new GZIPInputStream(Channels.newInputStream(ch), 1 << 16)
      else Channels.newInputStream(ch))
    catch { case e: Throwable => ch.close(); throw e }
  }
}

/** Sparse line → byte-offset index of a plain capture: ascending
  * (line, offset of that line's first byte) pairs. [[dropBelow]] forgets
  * the committed prefix, so a long tail keeps only its backlog's entries. */
private[sources] final class LineIndex {
  private var lines = new Array[Long](64)
  private var offs = new Array[Long](64)
  private var lo = 0 // first live entry
  private var n = 0  // entries in use
  add(0L, 0L)

  /** Records `line` starting at byte `off`; a line at or below the last
    * entry is ignored. */
  def add(line: Long, off: Long): Unit = if (n == 0 || line > lines(n - 1)) {
    if (n == lines.length) {
      val live = n - lo
      val cap = if (live * 2 > lines.length) lines.length * 2 else lines.length
      val l2 = new Array[Long](cap); val o2 = new Array[Long](cap)
      System.arraycopy(lines, lo, l2, 0, live); System.arraycopy(offs, lo, o2, 0, live)
      lines = l2; offs = o2; n = live; lo = 0
    }
    lines(n) = line; offs(n) = off; n += 1
  }

  private def floorAt(line: Long): Int = {
    val i = java.util.Arrays.binarySearch(lines, lo, n, line)
    val at = if (i >= 0) i else -i - 2
    require(at >= lo, s"line $line is below the committed index floor ${lines(lo)}")
    at
  }

  /** The entry at or nearest below `line`: (its line, its byte offset). */
  def floor(line: Long): (Long, Long) = { val i = floorAt(line); (lines(i), offs(i)) }

  /** Forgets the entries below the floor of `line`. */
  def dropBelow(line: Long): Unit = lo = floorAt(line)

  def size: Int = n - lo
}

/** Replay transport: a newline-delimited capture file, plain or gzip.
  *
  * A capture is scanned once, incrementally: `head()` keeps (bytes
  * scanned, lines counted) and a [[LineIndex]] entry every
  * [[FileLineTransport.IndexEvery]] lines, so each partition carries the
  * nearest indexed (line, byte) pair and its reader seeks there instead of
  * reading from line 0. Without `tail` the head is counted once (a capture
  * does not grow) and a last line without `\n` counts. With `tail=true`
  * every `head()` reads only the bytes appended since the last call, so a
  * live-appended capture keeps feeding micro-batches at a cost that does
  * not grow with its age; a torn last line (no `\n` yet) is not counted
  * until its `\n` arrives, and each head is indexed exactly, so the next
  * batch's reader starts on it with no skip.
  *
  * A gzip capture cannot be seeked, so its first scan inflates it once into
  * a plain spill file, and from then on the transport is a plain one over
  * that file. `tail` is ignored for it: a gzip stream cannot be appended
  * to, so its last unterminated line counts. The spill file sits on the
  * driver's local disk (the first of `SPARK_LOCAL_DIRS` /
  * `spark.local.dir`, else `java.io.tmpdir`), so executors must share that
  * disk — the same single-host limit that local mode, and a capture path,
  * already have. The whole inflated capture stays there until `close()`
  * (or JVM shutdown, for a transport never closed) deletes it: bounded,
  * since a `.gz` capture is finite, and no line passes through the driver
  * heap. A truncated or corrupt `.gz` throws from that first scan on the
  * driver, and leaves no spill file behind. */
final class FileLineTransport(path: String, tail: Boolean = false) extends LineTransport {
  import FileLineTransport._

  private val gzip = path.endsWith(".gz")
  private val follow = tail && !gzip
  private val index = new LineIndex
  private var scanned = 0L   // bytes scanned
  private var lines = 0L     // '\n'-terminated lines in them
  private var lineStart = 0L // byte where the line after the last '\n' starts
  private var counted = false
  /** Bytes the scan has read from the capture (observable for the tail
    * spec: a `head()` reads only what was appended). */
  @volatile private[sources] var bytesScanned = 0L
  /** Times a `.gz` capture was inflated (observable for the gzip spec: once
    * per transport, the head count included). */
  @volatile private[sources] var inflates = 0
  private var spill: Path = _
  private val cleanup = new Thread(() => deleteSpill(), "oanda-replay-spill-cleanup")

  /** The plain file the scan and the readers use: the capture itself, or
    * its spill file. A failed inflate leaves this unset. */
  private lazy val plain: String = if (gzip) inflate() else path

  private def inflate(): String = {
    spill = Files.createTempFile(Files.createDirectories(spillRoot), "oanda-replay-", ".jsonl")
    Runtime.getRuntime.addShutdownHook(cleanup)
    inflates += 1
    try Using.Manager { use =>
      val in = use(new GZIPInputStream(use(Files.newInputStream(Paths.get(path))), 1 << 16))
      Files.copy(in, spill, StandardCopyOption.REPLACE_EXISTING)
    }.get
    catch { case e: Throwable => close(); throw e }
    spill.toString
  }

  private def scan(): Unit = {
    val ch = FileChannel.open(Paths.get(plain))
    try {
      val bb = ByteBuffer.allocate(1 << 14)
      val a = bb.array()
      var r = ch.read(bb, scanned)
      while (r > 0) {
        var i = 0
        while (i < r) {
          if (a(i) == '\n') {
            lines += 1
            lineStart = scanned + i + 1
            if (lines % IndexEvery == 0) index.add(lines, lineStart)
          }
          i += 1
        }
        scanned += r
        bytesScanned += r
        bb.clear()
        r = ch.read(bb, scanned)
      }
    } finally ch.close()
    index.add(lines, lineStart)
    counted = true
  }

  private def refresh(): Unit = if (follow || !counted) scan()

  override def head(): Long = synchronized {
    refresh()
    if (follow) lines else lines + (if (scanned > lineStart) 1 else 0)
  }

  override def planPartitions(start: Long, end: Long): Array[InputPartition] = synchronized {
    if (lines < end) refresh()
    splits(start, end).map { case (lo, hi) =>
      val (at, off) = index.floor(lo)
      LineRangePartition(plain, lo, hi, off, at): InputPartition
    }
  }

  override def readerFactory: PartitionReaderFactory = LineReaderFactory

  override def commit(upTo: Long): Unit = synchronized(index.dropBelow(upTo))

  private def deleteSpill(): Unit = if (spill != null) Files.deleteIfExists(spill)

  override def close(): Unit = synchronized {
    if (spill != null) {
      deleteSpill()
      try Runtime.getRuntime.removeShutdownHook(cleanup)
      catch { case _: IllegalStateException => () } // already shutting down
      spill = null
    }
  }
}

object FileLineTransport {
  /** Most partitions one batch is split into. */
  private[sources] val Splits = 4
  /** Lines between [[LineIndex]] entries: a reader skips fewer than this
    * many lines past its seek point. */
  private[sources] val IndexEvery = 64L

  /** Where a `.gz` capture is inflated: the first local dir of the driver. */
  private[sources] def spillRoot: Path = Paths.get(sys.env.get("SPARK_LOCAL_DIRS")
    .orElse(Option(SparkEnv.get).flatMap(_.conf.getOption("spark.local.dir")))
    .getOrElse(System.getProperty("java.io.tmpdir")).split(",")(0))

  /** [start, end) cut into at most [[Splits]] even ranges. */
  private def splits(start: Long, end: Long): Array[(Long, Long)] = {
    val n = end - start
    val k = math.min(Splits.toLong, n)
    if (n <= 0) Array.empty
    else Array.tabulate(k.toInt)(i => (start + n * i / k, start + n * (i + 1) / k))
  }
}

/** Lines [start, end) of a capture. A plain capture's reader seeks to
  * `byteOffset`, the start of line `offsetLine` (at or below `start`), and
  * skips the lines between; a `.gz` capture is read from its first byte. */
case class LineRangePartition(path: String, start: Long, end: Long,
    byteOffset: Long = 0L, offsetLine: Long = 0L) extends InputPartition

object LineReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LineRangePartition]
    val lines = LineBytes.open(p.path, p.byteOffset)
    try lines.advance(p.start - p.offsetLine)
    catch { case e: Throwable => lines.close(); throw e }
    new PartitionReader[InternalRow] {
      private var left = math.max(0L, p.end - p.start)
      private var current: UTF8String = _
      override def next(): Boolean = left > 0 && {
        current = lines.next(); left -= 1; current != null
      }
      override def get(): InternalRow = InternalRow(current)
      override def close(): Unit = lines.close() // one FD per partition otherwise
    }
  }
}

/** Minimal HTTP seam so the live transport is unit-testable without a
  * network: one chunked GET. The production connector is [[HttpConnector.Jdk]]. */
trait HttpConnector {
  def get(url: String, headers: Map[String, String]): HttpConnector.Response
}

object HttpConnector {
  /** Status code + (chunked) body stream of a GET. */
  final case class Response(status: Int, body: InputStream)

  /** JDK-only production connector (`HttpURLConnection`); read timeout 0 =
    * block forever, matching a long-lived pricing stream. */
  object Jdk extends HttpConnector {
    override def get(url: String, headers: Map[String, String]): Response = {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      conn.setConnectTimeout(30000)
      conn.setReadTimeout(0)
      val status = conn.getResponseCode
      val body =
        if (status >= 400) Option(conn.getErrorStream).getOrElse(InputStream.nullInputStream())
        else conn.getInputStream
      Response(status, body)
    }
  }
}

/** A micro-batch of buffered lines shipped with the partition (driver-side
  * buffering, like Spark's own socket source): batches are bounded by
  * `linesPerTrigger`, so a partition carries at most that many lines. */
final case class BufferedLinesPartition(lines: Array[UTF8String]) extends InputPartition

object BufferedLinesReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val lines = partition.asInstanceOf[BufferedLinesPartition].lines
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < lines.length }
      override def get(): InternalRow = InternalRow(lines(i))
      override def close(): Unit = ()
    }
  }
}

/** Live-wire transport mirroring `oanda_client.rs:10-39`:
  *
  *   - GET `config.streamUrl` with `Authorization: Bearer <token>`
  *     (`oanda_client.rs:23-26`).
  *   - Non-2xx fails fast with no retry, like `error_for_status`
  *     (`oanda_client.rs:28-30`) — an auth/config error does not heal.
  *   - The body is framed into `\n`-delimited lines (`:34-48`) by
  *     [[LineBytes]], as a capture is; framing is chunk-boundary-safe (a
  *     line split across two chunks reassembles).
  *   - At most `maxBuffered` uncommitted lines are held; the reader blocks
  *     beyond that (backpressure ≙ `mpsc::channel(100)`, `main.rs:52`).
  *   - Mid-stream disconnect or EOF (a live pricing stream never ends
  *     cleanly) reconnects up to `maxReconnects` consecutive failures —
  *     the liveness fix over the reference, which lets the producer die
  *     (`oanda_client.rs:89-92`). Lines ticked during the gap are gone
  *     (the OANDA stream is live-only, no resume cursor) — same data
  *     contract as the reference, minus the permanent stall.
  */
final class HttpLineTransport(
    config: Config,
    http: HttpConnector,
    maxBuffered: Int = 100,
    maxReconnects: Int = 3)
  extends LineTransport {

  private val lock = new Object
  private var base = 0L // absolute index of buf(0) = last committed offset
  private val buf = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
  private var terminal: Option[Throwable] = None
  @volatile private var closed = false
  // the in-flight response body: close() must close it, because a reader
  // blocked in a read on a no-timeout socket ignores Thread.interrupt —
  // without this every stopped query leaks the thread AND holds the HTTP
  // stream open (duplicate consumption if a new query starts)
  @volatile private var inFlight: InputStream = _

  /** GETs issued so far (observable for reconnect tests). */
  @volatile private[sources] var connects = 0

  private final class FailFast(val e: Throwable) extends RuntimeException(e)

  private val reader = new Thread(() => runReader(), "oanda-http-reader")
  reader.setDaemon(true)
  reader.start()

  private def runReader(): Unit = {
    var consecutiveFailures = 0
    var done = false
    while (!done && !closed) {
      try {
        connects += 1
        val resp = http.get(config.streamUrl,
          Map("Authorization" -> s"Bearer ${config.authToken}"))
        if (resp.status < 200 || resp.status >= 300)
          throw new FailFast(new java.io.IOException(
            s"OANDA stream returned HTTP ${resp.status}"))
        inFlight = resp.body
        if (closed) { try resp.body.close() catch { case _: Exception => () }; return }
        val body = new LineBytes(resp.body)
        try {
          var line = body.next()
          while (line != null && !closed) {
            offer(line)
            consecutiveFailures = 0 // progress heals the reconnect budget
            line = body.next()
          }
          if (!closed) throw new java.io.IOException("stream ended (EOF)")
        } finally { body.close(); inFlight = null }
      } catch {
        case f: FailFast => done = true; fail(f.e)
        case _: InterruptedException => done = true
        case e: Exception =>
          consecutiveFailures += 1
          if (consecutiveFailures > maxReconnects) { done = true; fail(e) }
      }
    }
  }

  private def offer(line: UTF8String): Unit = lock.synchronized {
    while (!closed && buf.size >= maxBuffered) lock.wait()
    if (!closed) { buf += line; lock.notifyAll() }
  }

  private def fail(e: Throwable): Unit = lock.synchronized {
    if (terminal.isEmpty) terminal = Some(e)
    lock.notifyAll()
  }

  override def head(): Long = lock.synchronized(base + buf.size)

  override def failure: Option[Throwable] = lock.synchronized(terminal)

  override def planPartitions(start: Long, end: Long): Array[InputPartition] =
    lock.synchronized {
      require(start >= base, s"range [$start,$end) starts below committed offset $base")
      // a range past the buffered head means a checkpoint replay this fresh
      // transport never buffered (live stream, no resume cursor): surface it
      // loudly instead of returning a silently-empty batch
      require(end <= base + buf.size,
        s"range [$start,$end) extends past buffered head ${base + buf.size}: " +
          "uncommitted-batch replay against a fresh live transport is not replayable")
      val lines = buf.slice((start - base).toInt, (end - base).toInt).toArray
      Array(BufferedLinesPartition(lines))
    }

  override def readerFactory: PartitionReaderFactory = BufferedLinesReaderFactory

  override def commit(upTo: Long): Unit = lock.synchronized {
    if (upTo > base) {
      buf.remove(0, math.min(buf.size, (upTo - base).toInt))
      base = upTo
      lock.notifyAll() // release backpressure
    }
  }

  override def close(): Unit = {
    closed = true
    lock.synchronized(lock.notifyAll())
    // closing the body makes the blocked read throw, so the reader
    // thread actually exits and the server-side stream is released
    val s = inFlight
    if (s != null) { try s.close() catch { case _: Exception => () } }
    reader.interrupt()
  }
}
