package graft.sources

import java.io.{ByteArrayInputStream, IOException, InputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files
import graft.Config
import org.scalatest.funsuite.AnyFunSuite

/** The live-wire transport vs the reference's `connect_to_stream` semantics
  * (`oanda_client.rs:10-39`): bearer auth, fail-fast non-2xx, chunk-safe line
  * framing, bounded-buffer backpressure (≙ `mpsc::channel(100)`,
  * `main.rs:52`), and the reconnect-on-disconnect liveness fix (SURVEY §3.2). */
class HttpLineTransportSpec extends AnyFunSuite {

  private val cfg = Config(
    authToken = "tok-abc", accountId = "001-001-1234567-001",
    environment = "fxpractice", instruments = "EUR_USD",
    zmqAddress = "tcp://*:9500")

  /** InputStream serving fixed byte chunks one per read() call, then either
    * EOF or an IOException (mid-stream disconnect). */
  private class ChunkedBody(chunks: Seq[String], thenDisconnect: Boolean,
      charset: Charset = StandardCharsets.UTF_8) extends InputStream {
    private val it = chunks.iterator
    override def read(): Int = throw new UnsupportedOperationException
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (it.hasNext) {
        val bytes = it.next().getBytes(charset)
        require(bytes.length <= len, "test chunk larger than read buffer")
        System.arraycopy(bytes, 0, b, off, bytes.length)
        bytes.length
      } else if (thenDisconnect) throw new IOException("connection reset")
      else -1
  }

  /** Scripted connector: each get() returns the next response; records
    * every requested URL + headers. */
  private class FakeHttp(script: Seq[() => HttpConnector.Response])
      extends HttpConnector {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String])]
    private val it = script.iterator
    override def get(url: String, headers: Map[String, String]): HttpConnector.Response = {
      synchronized { calls += ((url, headers)) }
      if (it.hasNext) it.next()()
      else HttpConnector.Response(200, new ChunkedBody(Nil, thenDisconnect = false))
    }
  }

  private def ok(body: InputStream) = HttpConnector.Response(200, body)

  private def awaitHead(t: LineTransport, n: Long, ms: Long = 5000): Unit = {
    val deadline = System.nanoTime() + ms * 1000000
    while (t.head() < n && System.nanoTime() < deadline) Thread.sleep(5)
    assert(t.head() >= n, s"head ${t.head()} never reached $n")
  }

  private def awaitFailure(t: LineTransport, ms: Long = 5000): Throwable = {
    val deadline = System.nanoTime() + ms * 1000000
    while (t.failure.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    assert(t.failure.isDefined, "transport never recorded a failure")
    t.failure.get
  }

  private def lines(t: LineTransport, start: Long, end: Long): Seq[String] =
    t.planPartitions(start, end).flatMap {
      case BufferedLinesPartition(ls) => ls.map(_.toString)
    }.toSeq

  test("GET carries the stream URL and bearer auth header (oanda_client.rs:23-26)") {
    val http = new FakeHttp(Seq(() =>
      ok(new ByteArrayInputStream("l1\n".getBytes(StandardCharsets.UTF_8)))))
    val t = new HttpLineTransport(cfg, http, maxReconnects = 0)
    try {
      awaitHead(t, 1)
      val (url, headers) = http.calls.head
      assert(url == cfg.streamUrl)
      assert(url.contains("/v3/accounts/001-001-1234567-001/pricing/stream"))
      assert(headers("Authorization") == "Bearer tok-abc")
    } finally t.close()
  }

  test("non-2xx fails fast with no retry (error_for_status, oanda_client.rs:28-30)") {
    val http = new FakeHttp(Seq(() =>
      HttpConnector.Response(401, InputStream.nullInputStream())))
    val t = new HttpLineTransport(cfg, http, maxReconnects = 5)
    try {
      val e = awaitFailure(t)
      assert(e.getMessage.contains("401"))
      assert(t.connects == 1, "auth errors must not be retried")
      assert(t.head() == 0)
    } finally t.close()
  }

  test("line framing reassembles across chunk boundaries (oanda_client.rs:34-48)") {
    val body = new ChunkedBody(
      Seq("{\"a\":1}\n{\"b\"", ":2}\n{\"c\":3}", "\n"), thenDisconnect = false)
    val t = new HttpLineTransport(cfg, new FakeHttp(Seq(() => ok(body))), maxReconnects = 0)
    try {
      awaitHead(t, 3)
      assert(lines(t, 0, 3) == Seq("{\"a\":1}", "{\"b\":2}", "{\"c\":3}"))
    } finally t.close()
  }

  test("the body is framed like a capture file: CRLF, a lone \\r, a line split across chunks") {
    val chunks = Seq("a\r\nb\rc\n{\"d\"", ":1}\r", "\n\ne\u00ff\nlast")
    val f = Files.createTempFile("oanda-http", ".jsonl")
    Files.write(f, chunks.mkString.getBytes(StandardCharsets.ISO_8859_1))
    val r = LineReaderFactory.createReader(LineRangePartition(f.toString, 0L, Long.MaxValue))
    val fromFile =
      try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getUTF8String(0)).toList
      finally r.close()
    assert(fromFile.map(_.toString) == Seq("a", "b\rc", "{\"d\":1}", "", "e\ufffd", "last"))
    val body = new ChunkedBody(chunks, thenDisconnect = false, StandardCharsets.ISO_8859_1)
    val t = new HttpLineTransport(cfg, new FakeHttp(Seq(() => ok(body))), maxReconnects = 0)
    try {
      awaitHead(t, fromFile.size)
      val fromHttp = t.planPartitions(0, fromFile.size).toSeq.flatMap {
        case BufferedLinesPartition(ls) => ls
      }
      assert(fromHttp == fromFile, "the HTTP body and the capture file frame lines differently")
    } finally t.close()
  }

  test("mid-stream disconnect reconnects and continues (liveness fix, SURVEY §3.2)") {
    val http = new FakeHttp(Seq(
      () => ok(new ChunkedBody(Seq("l1\nl2\nl3\n"), thenDisconnect = true)),
      () => ok(new ChunkedBody(Seq("l4\nl5\n"), thenDisconnect = true))))
    val t = new HttpLineTransport(cfg, http, maxReconnects = 2)
    try {
      awaitHead(t, 5)
      assert(t.connects >= 2, "must have reconnected after the disconnect")
      assert(lines(t, 0, 5) == Seq("l1", "l2", "l3", "l4", "l5"))
      // subsequent connections EOF immediately → budget (2) exhausted
      awaitFailure(t)
      assert(t.head() == 5, "buffered lines survive the terminal failure")
    } finally t.close()
  }

  test("bounded buffer blocks the producer until commit (≙ channel cap 100)") {
    val http = new FakeHttp(Seq(() =>
      ok(new ChunkedBody(Seq("l1\nl2\nl3\nl4\nl5\n"), thenDisconnect = false))))
    val t = new HttpLineTransport(cfg, http, maxBuffered = 2, maxReconnects = 0)
    try {
      awaitHead(t, 2)
      Thread.sleep(50) // producer must now be parked on the full buffer
      assert(t.head() == 2, "producer overran the buffer bound")
      assert(lines(t, 0, 2) == Seq("l1", "l2"))
      t.commit(2) // downstream durably consumed [0,2) → release backpressure
      awaitHead(t, 4)
      assert(lines(t, 2, 4) == Seq("l3", "l4"))
      t.commit(4)
      awaitHead(t, 5)
      assert(lines(t, 4, 5) == Seq("l5"))
    } finally t.close()
  }

  test("drives the MicroBatchStream protocol end-to-end (offsets→partitions→read→commit)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val http = new FakeHttp(Seq(() =>
      ok(new ChunkedBody(Seq("a\nb\nc\nd\ne\nf\ng\n"), thenDisconnect = false))))
    val t = new HttpLineTransport(cfg, http, maxBuffered = 4, maxReconnects = 0)
    val stream = new OandaReplayMicroBatchStream(t, linesPerTrigger = 3)
    try {
      awaitHead(t, 4) // producer fills to the buffer cap and parks
      var start = stream.initialOffset().asInstanceOf[LineOffset]
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var idle = 0
      while (got.size < 7 && idle < 100) {
        val end = stream.latestOffset(start, stream.getDefaultReadLimit)
          .asInstanceOf[LineOffset]
        if (end.line == start.line) { idle += 1; Thread.sleep(10) }
        else {
          assert(end.line - start.line <= 3, "ReadLimit(maxRows=3) not honored")
          val parts = stream.planInputPartitions(start, end)
          parts.foreach { p =>
            val r = stream.createReaderFactory().createReader(p)
            while (r.next()) got += r.get().getString(0)
          }
          stream.commit(end) // releases transport backpressure
          start = end
        }
      }
      assert(got.toSeq == Seq("a", "b", "c", "d", "e", "f", "g"),
        s"micro-batch protocol lost/duplicated lines: $got")
    } finally stream.stop()
  }

  /** Body that delivers one line and then blocks forever (a quiet pricing
    * stream with readTimeout 0) until close(), when the blocked read throws
    * — the shape where Thread.interrupt alone cannot free the reader. */
  private class BlockingBody(first: String) extends InputStream {
    private var sent = false
    private val lock = new Object
    @volatile var closedCalled = false
    override def read(): Int = throw new UnsupportedOperationException
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (!sent) {
        sent = true
        val bytes = first.getBytes(StandardCharsets.UTF_8)
        System.arraycopy(bytes, 0, b, off, bytes.length)
        bytes.length
      } else lock.synchronized {
        while (!closedCalled) lock.wait()
        throw new IOException("stream closed")
      }
    override def close(): Unit = lock.synchronized {
      closedCalled = true; lock.notifyAll()
    }
  }

  test("close() closes the in-flight body and the blocked reader thread exits") {
    def readerThreads: Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.toSet
        .filter(th => th.getName == "oanda-http-reader" && th.isAlive)
    }
    val before = readerThreads
    val body = new BlockingBody("l1\n")
    val t = new HttpLineTransport(cfg, new FakeHttp(Seq(() => ok(body))), maxReconnects = 0)
    try {
      awaitHead(t, 1) // the reader is now parked inside a body read forever
      val spawned = (readerThreads -- before).toSeq
      assert(spawned.size == 1, s"expected exactly one new reader thread, got $spawned")
      t.close()
      assert(body.closedCalled, "close() must close the in-flight response body")
      spawned.head.join(5000)
      assert(!spawned.head.isAlive,
        "reader thread must exit after close() (leaked thread + held HTTP stream otherwise)")
    } finally t.close()
  }

  test("a range past the buffered head fails loudly (no silent empty replay)") {
    val http = new FakeHttp(Seq(() =>
      ok(new ChunkedBody(Seq("a\nb\n"), thenDisconnect = false))))
    val t = new HttpLineTransport(cfg, http, maxReconnects = 0)
    try {
      awaitHead(t, 2)
      // a fresh transport asked to replay a checkpointed range it never
      // buffered (restart with uncommitted batches) must not return empty
      assertThrows[IllegalArgumentException](t.planPartitions(0, 5))
      assert(lines(t, 0, 2) == Seq("a", "b"), "in-range reads still work")
    } finally t.close()
  }

  test("uncommitted ranges stay replayable (micro-batch retry contract)") {
    val http = new FakeHttp(Seq(() =>
      ok(new ChunkedBody(Seq("a\nb\nc\n"), thenDisconnect = false))))
    val t = new HttpLineTransport(cfg, http, maxReconnects = 0)
    try {
      awaitHead(t, 3)
      assert(lines(t, 0, 3) == Seq("a", "b", "c"))
      assert(lines(t, 1, 3) == Seq("b", "c"), "re-read before commit must work")
      t.commit(2)
      assert(lines(t, 2, 3) == Seq("c"))
      assertThrows[IllegalArgumentException](t.planPartitions(1, 3))
    } finally t.close()
  }
}
