package graft.sources

import graft.SparkTestSession
import graft.streaming.OandaPipeline
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The custom MicroBatchStream connector (P1/P2/P7): line framing, schema,
  * rate-limited micro-batches, exactly-once line accounting, and composition
  * with the full pipeline. */
class OandaReplaySourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def captureFile(lines: Seq[String]): String = {
    val f = Files.createTempFile("oanda-capture", ".jsonl")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  private def gzCapture(lines: Seq[String]): String = {
    val gz = Files.createTempFile("oanda-capture", ".jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write(lines.mkString("\n").getBytes(UTF_8)) finally out.close()
    gz.toString
  }

  private def readAll(p: InputPartition): Seq[String] = {
    val r = LineReaderFactory.createReader(p)
    try Iterator.continually(r.next()).takeWhile(identity)
      .map(_ => r.get().getUTF8String(0).toString).toList
    finally r.close()
  }

  /** Drives a micro-batch stream by hand the way MicroBatchExecution does
    * (latestOffset → planInputPartitions → read → commit) until it is
    * drained; `onBatch` sees each batch's partitions before they are read. */
  private def drive(s: OandaReplayMicroBatchStream)(
      onBatch: (Offset, Offset, Array[InputPartition]) => Unit = (_, _, _) => ()): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start: Offset = s.initialOffset()
    var end = s.latestOffset(start, s.getDefaultReadLimit)
    while (end != start) {
      val parts = s.planInputPartitions(start, end)
      onBatch(start, end, parts)
      parts.foreach(out ++= readAll(_))
      s.commit(end)
      start = end
      end = s.latestOffset(start, s.getDefaultReadLimit)
    }
    out.toSeq
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private val ticks = (1 to 10).map { i =>
    s"""{"asks":[{"price":"1.0$i","liquidity":100}],"bids":[{"price":"1.00","liquidity":100}],""" +
      s""""closeoutAsk":"1.0$i","closeoutBid":"1.00","instrument":"EUR_USD",""" +
      s""""status":"tradeable","time":"2024-01-15T09:30:0${i % 10}Z"}"""
  }

  test("streaming read: all lines delivered once, rate-limited micro-batches") {
    val path = captureFile(ticks)
    val name = s"replay_${System.nanoTime()}"
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("oanda-replay")
      .option("path", path).option("linesPerTrigger", "3").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("replay-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += df.count(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.sum == 10)
    assert(batchSizes.forall(_ <= 3)) // linesPerTrigger honored (P7 backpressure)
    assert(batchSizes.size >= 4)      // 10 lines at ≤3/batch
  }

  test("composes with the full pipeline: source → parse → derive → proto → publish") {
    val path = captureFile(ticks ++ Seq("{bad", """{"type":"HEARTBEAT","time":"2024-01-15T09:31:00Z"}"""))
    val lines = spark.readStream.format("oanda-replay")
      .option("path", path).option("linesPerTrigger", "5").load()
    val name = s"replaypipe_${System.nanoTime()}"
    val q = OandaPipeline.pipeline(lines)
      .writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("replay-ckpt2").toString)
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val byType = spark.table(name).groupBy("message_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("price_tick" -> 10L, "heartbeat" -> 1L, "malformed" -> 1L))
  }

  test("checkpoint restart resumes at the committed offset without duplicates") {
    val path = captureFile(ticks)
    val ckpt = Files.createTempDirectory("replay-restart").toString
    val pub = s"replay_restart_${System.nanoTime()}"
    // memory sink can't recover from a checkpoint; foreachBatch can
    def run(): Unit = {
      val q = spark.readStream.format("oanda-replay")
        .option("path", path).option("linesPerTrigger", "4").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            graft.streaming.InMemoryPublisher.queue(pub).add(r.getString(0).getBytes))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(graft.streaming.InMemoryPublisher.drain(pub).size == 10)
    // restart against the same checkpoint: offsets resume at the end, the
    // (already fully consumed) capture must not be re-emitted
    run()
    assert(graft.streaming.InMemoryPublisher.drain(pub).isEmpty)
  }

  test("Trigger.AvailableNow drains the whole capture in rate-limited batches") {
    // round-1 bug: latestOffset ignored the passed ReadLimit and only ever
    // advanced one linesPerTrigger chunk, so run-to-completion triggers
    // silently truncated a capture longer than one batch
    val path = captureFile(ticks)
    val name = s"replay_an_${System.nanoTime()}"
    val q = spark.readStream.format("oanda-replay")
      .option("path", path).option("linesPerTrigger", "3").load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("replay-an").toString)
      .format("memory").queryName(name).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table(name).count() == 10, "AvailableNow must drain all 10 lines")
  }

  test("batch read of the same capture works through the same table") {
    val path = captureFile(ticks)
    val n = spark.read.format("oanda-replay").option("path", path).load().count()
    assert(n == 10)
  }

  test("batch read with transport=http fails with intent, not an NPE") {
    val e = intercept[Exception] {
      spark.read.format("oanda-replay").option("transport", "http").load().count()
    }
    // Spark may wrap the planner exception; the root message must survive
    assert(messages(e).exists(_.contains("batch read is only supported for transport=file")),
      s"got: ${messages(e)}")
  }

  test("gzip capture replays identically to the plain file (streaming + batch)") {
    val plain = captureFile(ticks)
    val gz = gzCapture(ticks)
    def drain(path: String): Seq[String] = {
      val name = s"gzrep_${System.nanoTime()}"
      val q = spark.readStream.format("oanda-replay")
        .option("path", path).option("linesPerTrigger", "4").load()
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("gz-ckpt").toString)
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      spark.table(name).collect().map(_.getString(0)).toSeq.sorted
    }
    assert(drain(gz.toString) == drain(plain), "gzip stream diverges from plain")
    val batchGz = spark.read.format("oanda-replay").option("path", gz.toString)
      .load().collect().map(_.getString(0)).toSeq.sorted
    assert(batchGz == drain(plain), "gzip batch read diverges")
  }

  test("gzip replay inflates once into a spill file, splits each batch like a plain capture, and cleans up") {
    val lines = (0 until 7500).map(i => s"""{"n":$i,"pad":"${"x" * (i % 50)}"}""")
    val gz = gzCapture(lines)
    val t = new FileLineTransport(gz)
    val s = new OandaReplayMicroBatchStream(t, 2500)
    val read = scala.collection.mutable.Set[String]()
    var batches = 0
    val out = drive(s) { (_, _, parts) =>
      batches += 1
      assert(parts.length == FileLineTransport.Splits)
      read ++= parts.map(_.asInstanceOf[LineRangePartition].path)
    }
    assert(batches == 3)
    assert(out == lines, "gzip replay diverges from the capture")
    assert(drive(new OandaReplayMicroBatchStream(
      new FileLineTransport(captureFile(lines)), 2500))() == out, "gzip diverges from plain")
    assert(t.inflates == 1, "the head count and every batch must share one inflate")
    assert(read.size == 1 && !read.head.endsWith(".gz"), s"batches read $read")
    val spill = Paths.get(read.head)
    assert(Files.exists(spill))
    s.stop()
    assert(!Files.exists(spill), "spill file left after stop()")
  }

  test("a .gz capture opened with tail=true still counts its unterminated last line") {
    val t = new FileLineTransport(gzCapture(Seq("a", "", "b")), tail = true) // no trailing newline
    try {
      assert(t.head() == 3)
      assert(t.planPartitions(0, 3).toSeq.flatMap(readAll) == Seq("a", "", "b"))
      assert(t.head() == 3 && t.inflates == 1, "a gzip capture does not grow")
    } finally t.close()
  }

  test("a gzip query stopped mid-capture and restarted on its checkpoint delivers every line once") {
    val gz = gzCapture(ticks)
    val ckpt = Files.createTempDirectory("gz-restart").toString
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    def run(failAt: Long): Unit = {
      val q = spark.readStream.format("oanda-replay")
        .option("path", gz).option("linesPerTrigger", "4").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          if (id == failAt) throw new IllegalStateException("stopped mid-capture")
          seen.put(id, df.collect().map(_.getString(0)).toSeq) // idempotent by batch id
          ()
        }.start()
      try q.processAllAvailable()
      catch { case _: StreamingQueryException if failAt >= 0 => () }
      finally q.stop()
    }
    run(failAt = 1) // batch 1 is planned and logged, never committed
    assert(seen.keySet.asScala == Set(0L))
    run(failAt = -1) // replays batch 1 on a fresh transport, then drains
    val all = seen.asScala.toSeq.sortBy(_._1).flatMap(_._2)
    assert(all == ticks, "restart lost or repeated lines")
  }

  test("a truncated or corrupt .gz capture fails the query instead of hanging it") {
    val whole = Files.readAllBytes(java.nio.file.Paths.get(gzCapture(ticks)))
    val truncated = Files.createTempFile("oanda-truncated", ".jsonl.gz")
    Files.write(truncated, whole.take(whole.length / 2))
    val corrupt = Files.createTempFile("oanda-corrupt", ".jsonl.gz")
    Files.write(corrupt, "not gzip at all".getBytes(UTF_8))
    def spills(): Set[Path] = {
      val ls = Files.list(Files.createDirectories(FileLineTransport.spillRoot))
      try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("oanda-replay-")).toSet
      finally ls.close()
    }
    val before = spills()
    for (bad <- Seq(truncated, corrupt)) {
      // planned with no head() first (the planner raises it on the driver)
      val t = new FileLineTransport(bad.toString)
      intercept[java.io.IOException](t.planPartitions(0, 10))
      assert(t.inflates == 1)
    }
    assert(spills() == before, "a failed inflate left a partial spill file")
    for (bad <- Seq(truncated, corrupt)) {
      val q = spark.readStream.format("oanda-replay").option("path", bad.toString).load()
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("gz-bad").toString)
        .format("noop").start()
      val failure =
        try { q.awaitTermination(60000); None }
        catch { case e: StreamingQueryException => Some(e) }
        finally q.stop()
      assert(failure.isDefined, s"query over $bad neither failed nor stopped within 60 s")
      assert(messages(failure.get).exists(m => m.contains("ZLIB") || m.contains("GZIP")),
        s"got: ${messages(failure.get)}")
    }
  }

  test("tail head() reads only appended bytes; a torn last line counts once its newline arrives") {
    val f = Files.createTempFile("oanda-tail", ".jsonl")
    def append(s: String): Unit = Files.write(f, s.getBytes(UTF_8), StandardOpenOption.APPEND)
    append("a\nb\n")
    val t = new FileLineTransport(f.toString, tail = true)
    assert(t.head() == 2 && t.bytesScanned == 4)
    append("c") // torn: no newline yet
    assert(t.head() == 2 && t.bytesScanned == 5)
    append("d\r\n")
    assert(t.head() == 3 && t.bytesScanned == 8)
    assert(t.head() == 3 && t.bytesScanned == 8, "nothing appended, nothing to read")
    assert(t.planPartitions(0, 3).toSeq.flatMap(readAll) == Seq("a", "b", "cd"))
    // each head is indexed exactly: the next batch's reader seeks with no skip
    val next = t.planPartitions(2, 3).head.asInstanceOf[LineRangePartition]
    assert(next.offsetLine == 2 && next.byteOffset == 4)
  }

  test("a finite capture counts its last unterminated line; CRLF reads like LF") {
    val lf = captureFile(Seq("a", "", "b")) // no trailing newline
    assert(new FileLineTransport(lf).head() == 3)
    assert(new FileLineTransport(lf, tail = true).head() == 2, "a tail waits for the newline")
    val crlf = Files.createTempFile("oanda-crlf", ".jsonl")
    Files.write(crlf, "a\r\n\r\nb".getBytes(UTF_8))
    def lines(path: String): Seq[String] = {
      val t = new FileLineTransport(path)
      t.planPartitions(0, t.head()).toSeq.flatMap(readAll)
    }
    assert(lines(crlf.toString) == lines(lf))
    assert(lines(lf) == Seq("a", "", "b"))
  }

  test("range readers seek to an indexed line and skip fewer than IndexEvery lines") {
    val lines = (0 until 3000).map(i => s"line-$i-${"y" * (i % 37)}")
    val path = captureFile(lines)
    for (start <- Seq(0, 1, 63, 64, 65, 1000, 2048, 2999)) {
      val t = new FileLineTransport(path) // planned with no head() first
      val parts = t.planPartitions(start, 3000).map(_.asInstanceOf[LineRangePartition])
      parts.foreach { p =>
        assert(p.offsetLine <= p.start && p.start - p.offsetLine < FileLineTransport.IndexEvery,
          s"partition $p skips from too far back")
      }
      assert(parts.toSeq.flatMap(readAll) == lines.drop(start), s"range from $start")
    }
    assert(new FileLineTransport(path).planPartitions(0, 3000).length == FileLineTransport.Splits)
    assert(new FileLineTransport(path).planPartitions(0, 3).length == 3)
    // a commit forgets the entries below the committed floor, so a long tail
    // keeps only its backlog's
    val ix = new LineIndex
    (1 to 1000).foreach(i => ix.add(i * 64L, i * 1000L))
    ix.dropBelow(64000L - 1)
    assert(ix.size == 2 && ix.floor(63999L) == ((63936L, 999000L)))
    (1001 to 5000).foreach(i => ix.add(i * 64L, i * 1000L))
    assert(ix.floor(64000L * 5 + 10) == ((320000L, 5000000L)))
    intercept[IllegalArgumentException](ix.floor(100L))
  }

  test("the continuous file reader frames lines like the micro-batch readers") {
    val f = Files.createTempFile("oanda-cont", ".jsonl")
    Files.write(f, "a\r\nb\rc\n\nd\u00ff\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val t = new FileLineTransport(f.toString)
    val batch = t.planPartitions(0, t.head()).toSeq.flatMap(readAll)
    assert(batch.length == 4, s"got $batch")
    val r = new ContinuousFileLineReader(f.toString, startLine = 1, pollMs = 10)
    try {
      val cont = batch.indices.drop(1).map { _ => assert(r.next()); r.get().getUTF8String(0).toString }
      assert(cont == batch.drop(1))
      assert(r.getOffset == LinePartitionOffset(4L))
    } finally r.close()
  }
}
