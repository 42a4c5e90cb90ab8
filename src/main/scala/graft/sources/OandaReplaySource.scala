package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ContinuousPartitionReader, ContinuousPartitionReaderFactory, ContinuousStream, MicroBatchStream, Offset, PartitionOffset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom streaming source for the OANDA wire (SURVEY.md §2A P1/P2/P7,
  * §4.2#3): a DataSourceV2 `MicroBatchStream` that frames a captured stream
  * file into newline-delimited records and feeds them out in rate-limited
  * micro-batches.
  *
  * The reference's source is an HTTP chunked stream
  * (`/root/reference/src/oanda_client.rs:10-39`) framed into lines
  * (`:34-48`) with a bounded channel as backpressure (`main.rs:52`, cap
  * 100). The offset/commit/planInputPartitions machinery here is
  * transport-independent over the [[LineTransport]] seam: `transport=file`
  * (default) replays a capture file — the only transport exercisable in a
  * zero-egress environment — and `transport=http` runs [[HttpLineTransport]],
  * the live-wire twin (bearer auth, fail-fast non-2xx, chunk-safe framing,
  * bounded buffer, reconnect), unit-tested against a fake connector in
  * HttpLineTransportSpec. `linesPerTrigger` (default 100, the reference's
  * channel capacity) is the backpressure knob ≙ P7; the passed ReadLimit is
  * honored (maxOffsetsPerTrigger etc.), and Trigger.AvailableNow drains the
  * whole capture in rate-limited batches.
  *
  * A batch's read cost is O(batch), not O(capture): a capture is scanned
  * once, incrementally, and its range readers seek to an indexed line. A
  * `.gz` capture takes the same path over a plain spill file that its first
  * scan inflates once (see [[FileLineTransport]]). Every transport frames
  * lines on `\n` as raw UTF-8 bytes, with no charset decode.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("oanda-replay")
  *     .option("path", "/data/capture.jsonl")
  *     .option("linesPerTrigger", "100")
  *     .load()                       // schema: value STRING
  * }}}
  */
class OandaReplayProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "oanda-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OandaReplaySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OandaReplayTable(properties.get("path"),
      Option(properties.get("linesPerTrigger")).map(_.toInt).getOrElse(100),
      Option(properties.get("transport")).getOrElse("file"),
      Option(properties.get("pollMs")).map(_.toLong).getOrElse(10L),
      Option(properties.get("tail")).exists(_.toBoolean))
}

object OandaReplaySource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))
}

class OandaReplayTable(path: String, linesPerTrigger: Int, transport: String = "file",
    pollMs: Long = 10L, tail: Boolean = false)
    extends Table with SupportsRead {
  require(transport == "http" || path != null, "oanda-replay requires option 'path'")
  override def name(): String = s"oanda-replay(${if (transport == "http") "http" else path})"
  override def schema(): StructType = OandaReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.CONTINUOUS_READ,
      TableCapability.BATCH_READ).asJava

  private def newTransport(): LineTransport = transport match {
    case "file" => new FileLineTransport(path, tail)
    case "http" =>
      // live wire: config from env exactly like the reference's main
      // (config.rs:14-36); errors carry the reference's usage text
      val cfg = graft.Config.fromEnv().fold(
        err => throw new IllegalArgumentException(s"$err\n\n${graft.Config.usage}"),
        identity)
      new HttpLineTransport(cfg, HttpConnector.Jdk, maxBuffered = linesPerTrigger)
    case other => throw new IllegalArgumentException(
      s"unknown transport '$other' (expected file|http)")
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = OandaReplaySource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new OandaReplayMicroBatchStream(newTransport(), linesPerTrigger)
      override def toContinuousStream(checkpointLocation: String): ContinuousStream =
        new OandaReplayContinuousStream(path, transport, pollMs, linesPerTrigger)
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] = {
          // a live HTTP stream has no finite extent to batch-scan; fail with
          // intent instead of NPE-ing on the absent capture path
          if (transport == "http") throw new UnsupportedOperationException(
            "oanda-replay: batch read is only supported for transport=file " +
              "(a live HTTP pricing stream has no finite extent); use readStream")
          Array(LineRangePartition(path, 0L, Long.MaxValue))
        }
        override def createReaderFactory(): PartitionReaderFactory = LineReaderFactory
      }
    }
}

/** Offset = number of lines already emitted (monotone). */
case class LineOffset(line: Long) extends Offset {
  override def json(): String = s"""{"line":$line}"""
}

class OandaReplayMicroBatchStream(transport: LineTransport, linesPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Head frozen at prepare time so Trigger.AvailableNow drains exactly the
    * lines that existed when the run started, in rate-limited batches, then
    * stops — instead of truncating at one batch (round-1 bug: latestOffset
    * ignored run-to-completion triggers). */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(transport.head())

  override def initialOffset(): Offset = LineOffset(0L)

  /** Rate control (P7, ≙ the reference's bounded channel cap): each
    * micro-batch admits at most linesPerTrigger lines past `start`. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(linesPerTrigger.toLong)

  /** Upper bound implied by a ReadLimit for a batch starting at `start`
    * with stream head `head` (ReadMinRows and other non-capping limits put
    * no upper bound). */
  private def applyLimit(start: Long, head: Long, limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows => math.min(head, start + r.maxRows())
    case _: ReadAllAvailable => head
    case c: CompositeReadLimit => c.getReadLimits.map(applyLimit(start, head, _)).min
    case _ => head
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LineOffset].line
    val head = availableNowCap.getOrElse(transport.head())
    // a dead transport with nothing left to deliver must fail the query,
    // not hang it (the reference's silent-idle liveness gap, SURVEY §3.2)
    transport.failure.filter(_ => head <= s).foreach(e => throw e)
    LineOffset(math.max(s, applyLimit(s, head, limit)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is used")

  override def deserializeOffset(json: String): Offset =
    LineOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    transport.planPartitions(
      start.asInstanceOf[LineOffset].line, end.asInstanceOf[LineOffset].line)

  override def createReaderFactory(): PartitionReaderFactory = transport.readerFactory
  override def commit(end: Offset): Unit =
    transport.commit(end.asInstanceOf[LineOffset].line)
  override def stop(): Unit = transport.close()
}

// ---------------------------------------------------------------------------
// Continuous-processing arm (Trigger.Continuous): the per-record execution
// mode the reference itself embodies — one JSON line in, one proto out, no
// batch boundary anywhere (`/root/reference/src/main.rs:67-121` is a
// per-message loop). The P3→P13 forward pipeline is stateless and map-only,
// exactly the plan shape ContinuousExecution supports, so the whole
// parse→derive→encode→publish chain runs as ONE long-lived epoch-marked
// task per partition with ~millisecond record latency (measured vs
// micro-batch in graft.LatencyBench; see SCALE.md).
// ---------------------------------------------------------------------------

/** Per-partition continuous offset: absolute count of lines emitted so far
  * by this partition's reader (single-cursor source ⇒ one partition). */
case class LinePartitionOffset(line: Long) extends PartitionOffset

/** One continuous partition = the stream cursor. `startLine` restores the
  * epoch-coordinator's committed position on restart (file transport; a
  * live HTTP stream has no resume cursor — documented live-only, like the
  * reference). */
case class ContinuousLinePartition(path: String, transport: String,
    startLine: Long, pollMs: Long, maxBuffered: Int) extends InputPartition

/** A line stream is one ordered cursor (the reference's single HTTP
  * connection), so the continuous scan is a single partition whose
  * long-running reader tails the transport: blocking `next()` with a
  * `pollMs` back-off at EOF. Epoch advancement is the framework's job —
  * `getOffset` reports the absolute line index and `mergeOffsets` takes the
  * max (trivial over one partition). At-least-once per epoch, exactly the
  * continuous-mode contract. */
class OandaReplayContinuousStream(path: String, transport: String,
    pollMs: Long, maxBuffered: Int) extends ContinuousStream {

  override def initialOffset(): Offset = LineOffset(0L)

  override def deserializeOffset(json: String): Offset =
    LineOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))

  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    LineOffset(offsets.map(_.asInstanceOf[LinePartitionOffset].line).max)

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val startLine = start.asInstanceOf[LineOffset].line
    OandaReplayContinuousStream.recordPlannedStart(path, startLine)
    Array(ContinuousLinePartition(path, transport, startLine, pollMs, maxBuffered))
  }

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    ContinuousLineReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object OandaReplayContinuousStream {
  /** Every epoch plan's (capture path, start line), in plan order — the
    * epoch-checkpoint twin of HttpLineTransport's `connects` counter,
    * observable so the recovery spec can assert a restart resumed from the
    * COMMITTED epoch offset rather than from zero. A queue keyed by source
    * path, NOT a last-write global: task retries/reconfigurations replan
    * mid-run, and concurrent continuous streams in one JVM must not
    * clobber each other's record (advice r9). Bounded to the most recent
    * [[PlannedStartsCap]] plans (advice r10): a long-lived driver replans
    * on every reconfiguration/restart, and an unbounded diagnostic queue
    * in production source code is a slow leak — the recovery specs only
    * ever assert over the plans of one short run. */
  private[sources] val PlannedStartsCap = 1024
  private[sources] val plannedStarts =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()

  private[sources] def recordPlannedStart(path: String, startLine: Long): Unit = {
    plannedStarts.add((path, startLine))
    while (plannedStarts.size > PlannedStartsCap) plannedStarts.poll()
  }
}

object ContinuousLineReaderFactory extends ContinuousPartitionReaderFactory {
  override def createReader(partition: InputPartition): ContinuousPartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ContinuousLinePartition]
    p.transport match {
      case "file" => new ContinuousFileLineReader(p.path, p.startLine, p.pollMs)
      case "http" => new ContinuousHttpLineReader(p.pollMs, p.maxBuffered)
      case other => throw new IllegalArgumentException(
        s"unknown transport '$other' (expected file|http)")
    }
  }
}

/** Tails a capture file from `startLine`: reads lines as they exist, and at
  * EOF sleeps `pollMs` and retries — appended lines flow through with
  * ~pollMs latency, forever (a continuous stream is unbounded; the query
  * stops when the user stops it, and Spark interrupts the blocked task).
  * Lines are framed by [[LineBytes]], like the micro-batch readers'. Tail
  * caveat: a producer must append whole lines (write line+\n in one call)
  * — a torn write would frame a partial line, the standard tail contract. */
private final class ContinuousFileLineReader(path: String, startLine: Long, pollMs: Long)
    extends ContinuousPartitionReader[InternalRow] {
  private val lines = LineBytes.open(path)
  // skip to the restored offset (a capture replay restart)
  private var lineNo = lines.advance(startLine)
  private var current: UTF8String = _

  override def next(): Boolean = {
    var line = lines.next()
    while (line == null) { // EOF: tail for appends (plain files grow; gz idles)
      Thread.sleep(pollMs) // InterruptedException propagates on query stop
      line = lines.next()
    }
    current = line
    lineNo += 1
    true
  }

  override def get(): InternalRow = InternalRow(current)
  override def getOffset: PartitionOffset = LinePartitionOffset(lineNo)
  override def close(): Unit = lines.close()
}

/** Live-wire continuous reader: the HTTP transport runs INSIDE the
  * long-lived task (the executor holds the connection — the reference's
  * whole process collapsed into one Spark task), pulling one line at a time
  * off the bounded buffer and committing immediately to release
  * backpressure. Live-only semantics: no resume cursor across restarts
  * (`startLine` is nominal), matching the OANDA stream contract the
  * reference has (`oanda_client.rs:10-39`). */
private[sources] final class ContinuousHttpLineReader(pollMs: Long, maxBuffered: Int,
    mkTransport: Int => HttpLineTransport = ContinuousHttpLineReader.fromEnv)
    extends ContinuousPartitionReader[InternalRow] {
  private[sources] val transport = mkTransport(maxBuffered)
  private var cursor = 0L
  private var emitted = 0L
  private var current: UTF8String = _

  override def next(): Boolean = {
    while (transport.head() <= cursor) {
      transport.failure.foreach(e => throw e) // dead wire fails the query, not hangs it
      Thread.sleep(pollMs)
    }
    val part = transport.planPartitions(cursor, cursor + 1)
      .head.asInstanceOf[BufferedLinesPartition]
    cursor += 1
    transport.commit(cursor) // per-record drain — the continuous contract
    current = part.lines.head
    emitted += 1
    true
  }

  override def get(): InternalRow = InternalRow(current)
  override def getOffset: PartitionOffset = LinePartitionOffset(emitted)
  override def close(): Unit = transport.close()
}

private[sources] object ContinuousHttpLineReader {
  /** Production transport: config from env exactly like the reference's
    * main (`config.rs:14-36`), JDK connector. The constructor's
    * `mkTransport` seam exists so the reconnect spec can drive the reader
    * against a fake flaky connector — same seam HttpLineTransportSpec uses
    * for the micro-batch arm. */
  def fromEnv(maxBuffered: Int): HttpLineTransport = {
    val cfg = graft.Config.fromEnv().fold(
      err => throw new IllegalArgumentException(s"$err\n\n${graft.Config.usage}"),
      identity)
    new HttpLineTransport(cfg, HttpConnector.Jdk, maxBuffered)
  }
}
