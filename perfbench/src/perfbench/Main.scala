package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.functions.FastWireParser
import graft.proto.ProtoFunctions
import graft.sources.{FileLineTransport, LineRangePartition, LineReaderFactory}
import graft.streaming.{MessagePublisher, OandaPipeline, SharedZmtpPublisher, Sinks, ZmtpPubServer}

/** One micro-batch as its progress event reports it (wall-clock ms). */
final case class Batch(startMs: Long, endMs: Long, from: Long, to: Long,
    durations: Map[String, Long])

/** Collects every query's progress events. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def json: Seq[String] = events.asScala.map(_.json).toSeq

  /** Batches of query `q` that read input, in order. */
  def batches(q: StreamingQuery): Seq[Batch] =
    events.asScala.filter(_.id == q.id).toSeq.sortBy(_.batchId).flatMap { p =>
      val s = p.sources.head
      val from = ProgressLog.line(s.startOffset)
      val to = ProgressLog.line(s.endOffset)
      if (to <= from) None
      else {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Some(Batch(start, start + d.getOrElse("triggerExecution", 0L), from, to, d))
      }
    }

  /** Highest line offset committed by query `q` so far. */
  def committed(q: StreamingQuery): Long =
    events.asScala.filter(_.id == q.id).map(p => ProgressLog.line(p.sources.head.endOffset))
      .foldLeft(0L)(math.max)
}

object ProgressLog {
  private val digits = """\d+""".r
  def line(offsetJson: String): Long =
    if (offsetJson == null) 0L else digits.findFirstIn(offsetJson).map(_.toLong).getOrElse(0L)
}

/** One clock for the whole run: epoch nanos read from the monotonic timer. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis() * 1000000L
  def toEpoch(nano: Long): Long = baseEpoch + (nano - baseNano)
  def nowEpoch: Long = toEpoch(System.nanoTime())
}

/** SUB-socket reader thread: keeps (receipt nanoTime, payload) of every
  * message except the sync marker. */
final class Receiver(sub: SubSocket) extends Thread("perfbench-sub") {
  val frames = new ConcurrentLinkedQueue[(Long, Array[Byte])]()
  @volatile var count = 0
  @volatile var synced = false
  setDaemon(true)
  override def run(): Unit = {
    var b = sub.recv()
    while (b != null) {
      val t = System.nanoTime()
      if (java.util.Arrays.equals(b, Receiver.marker)) synced = true
      else { frames.add((t, b)); count += 1 }
      b = sub.recv()
    }
  }
}

object Receiver {
  val marker: Array[Byte] = "perfbench-sync".getBytes(UTF_8)

  /** Attaches a SUB socket to the shared endpoint `name` and waits until its
    * subscription is in place: PUB drops whatever is sent before that. */
  def attach(name: String): (SubSocket, Receiver) = {
    val server = ZmtpPubServer.shared(name)
    val sub = new SubSocket("127.0.0.1", server.boundPort)
    val rx = new Receiver(sub)
    rx.start()
    val deadline = System.nanoTime() + 20000000000L
    while (!rx.synced && System.nanoTime() < deadline) { server.publish(marker); Thread.sleep(5) }
    require(rx.synced, "SUB socket never received the sync marker")
    (sub, rx)
  }
}

/** Appends live lines to the capture: line i is due at t0 + i * period and
  * is written in one write call when due. */
final class LiveWriter(cap: Path, seed: Long, t0: Long, period: Long, total: Int)
    extends Thread("perfbench-generator") {
  val lateness = new Array[Long](total)
  var wireLines = 0
  override def run(): Unit = {
    val g = new Gen(seed)
    val out = new java.io.FileOutputStream(cap.toFile, true)
    try {
      var i = 0
      while (i < total) {
        val due = t0 + i * period
        var now = Clock.nowEpoch
        while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = Clock.nowEpoch }
        val e = g.next(due)
        if (!e.isInstanceOf[DeadE]) wireLines += 1
        out.write((e.line + "\n").getBytes(UTF_8))
        lateness(i) = Clock.nowEpoch - due
        i += 1
      }
    } finally out.close()
  }
}

/** What a run hands back: counts, metrics and the per-run report. */
final class Outcome {
  var correct = true
  var attempted = 0L
  var failed = 0L
  var setupEndMs = 0L
  val e2e = scala.collection.mutable.LinkedHashMap[String, Double]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  val report = scala.collection.mutable.LinkedHashMap[String, Any]()
  def fail(why: String): Unit = { correct = false; report("error") = why }
}

object Main {
  // live_ticks: open loop at a fixed rate. Before the generator starts,
  // LiveWarmQueries throwaway queries of the same shape run side by side for
  // LiveWarmS seconds, so the JIT sees the per-batch path several times
  // faster than one query can drive it; the first LiveSettleS seconds of
  // generated lines are dropped as well.
  val LiveRate = 100
  val LiveWarmQueries = 3
  val LiveWarmS = 8
  val LiveSettleS = 3
  // replay workloads: capture size and the backfill batch size (4 batches a
  // drain), and the nominal length of one drain, which sets how many whole
  // drains fill --seconds; gzip drains take longer because one core decodes
  val ReplayLines = 60000
  val LinesPerTrigger = ReplayLines / 4
  def drainS(workload: String): Double = if (workload == "replay_gzip") 7.5 else 3.0
  val WarmupDrains = 1

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: Path, out: Path)

  def main(args: Array[String]): Unit = {
    val m = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(args.head, m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      Paths.get(m.getOrElse("work", ".bench_build/perfbench/work")).toAbsolutePath,
      Paths.get(m.getOrElse("out", "result.json")).toAbsolutePath)
    o.mode match {
      case "gen" =>
        if (m.contains("force") || !Files.exists(capturePath(o.workload, o.seed, o.work)))
          makeCapture(capturePath(o.workload, o.seed, o.work), Gen.replay(o.seed, ReplayLines))
      case "run" => run(o)
      case other => sys.error(s"unknown mode $other")
    }
  }

  // ---------------------------------------------------------------- inputs

  def capturePath(workload: String, seed: Long, work: Path): Path =
    work.getParent.resolve("inputs").resolve(s"replay-$seed-$ReplayLines.jsonl" +
      (if (workload == "replay_gzip") ".gz" else ""))

  /** Writes a capture (gzipped for a `.gz` path) atomically. */
  def makeCapture(p: Path, lines: Array[Expect]): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    val raw = Files.newOutputStream(tmp)
    val os = if (p.toString.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw, 1 << 16) else raw
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(os, UTF_8), 1 << 16)
    try lines.foreach { e => w.write(e.line); w.write('\n') }
    finally w.close()
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  // ------------------------------------------------------------------ runs

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def reset(dir: Path): Path = {
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    Files.createDirectories(dir)
  }

  def run(o: Opts): Unit = {
    Files.createDirectories(o.work)
    Trace.on = o.trace
    val out = new Outcome
    val mainEnteredMs = System.currentTimeMillis()
    val spark = session(o.work, o.cores)
    val sessionMs = System.currentTimeMillis()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    try o.workload match {
      case "live_ticks" => live(spark, o, progress, out)
      case "replay_backfill" | "replay_gzip" => replay(spark, o, progress, out)
      case w => out.fail(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.fail(e.toString)
    }
    out.report("jvm_start_to_main_ms") = mainEnteredMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    out.report("session_ready_ms") = sessionMs - mainEnteredMs
    out.report("query_started_ms") = out.setupEndMs - sessionMs
    out.report("run_end_ms") = System.currentTimeMillis() - out.setupEndMs
    out.report("nproc") = Runtime.getRuntime.availableProcessors
    out.report("jvm") = System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")
    out.report("spark") = spark.version
    if (o.trace) Trace.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.json"), progress.json)
    Files.write(o.out, resultJson(out).getBytes(UTF_8))
    // every query is stopped and the result is written: end the JVM without
    // waiting for Spark's shutdown
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def resultJson(o: Outcome): String = {
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def any(v: Any): String = v match {
      case d: Double => num(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => any(k.toString) + ":" + any(x) }.mkString("{", ",", "}")
      case other => any(other.toString)
    }
    any(scala.collection.immutable.ListMap[String, Any](
      "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "setup_end_ms" -> o.setupEndMs, "e2e" -> o.e2e, "layers" -> o.layers,
      "report" -> o.report))
  }

  // --------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** The JVM's resident high-water mark, MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def await(what: String, timeoutS: Int)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (!done) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out: $what")
      Thread.sleep(5)
    }
  }

  private def load(spark: SparkSession, cap: Path, opts: (String, String)*): DataFrame =
    Trace.span("sources.oanda-replay.load") {
      opts.foldLeft(spark.readStream.format("oanda-replay").option("path", cap.toString)) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
    }

  private def pipeline(df: DataFrame): DataFrame =
    Trace.span("streaming.OandaPipeline.pipeline")(OandaPipeline.pipeline(df))

  // ------------------------------------------------------------ live_ticks

  def live(spark: SparkSession, o: Opts, progress: ProgressLog, out: Outcome): Unit = {
    val dir = reset(o.work.resolve("live"))
    val cap = Files.createFile(dir.resolve("capture.jsonl"))
    val name = "perfbench-live"
    val (sub, rx) = Receiver.attach(name)
    TimedPublisher.reset()
    val factory: () => MessagePublisher =
      if (o.trace) () => new TimedPublisher(new SharedZmtpPublisher(name))
      else () => new SharedZmtpPublisher(name)
    val q = Trace.span("streaming.Sinks.publishStream") {
      Sinks.publishStream(pipeline(load(spark, cap, "tail" -> "true")), factory,
        dir.resolve("ckpt").toString)
    }
    out.setupEndMs = System.currentTimeMillis()

    Trace.span("bench.warm_up") {
      val warmCap = dir.resolve("warm.jsonl")
      makeCapture(warmCap, Gen.replay(o.seed + 1, 20000))
      val warm = (1 to LiveWarmQueries).map { k =>
        Sinks.publishStream(OandaPipeline.pipeline(load(spark, warmCap)),
          () => new SharedZmtpPublisher("perfbench-warm"), dir.resolve(s"warm-ckpt-$k").toString)
      }
      Thread.sleep(LiveWarmS * 1000L)
      warm.foreach(_.stop())
      ZmtpPubServer.closeShared("perfbench-warm")
    }

    val period = 1000000000L / LiveRate
    val settleLines = LiveSettleS * LiveRate
    val total = (LiveSettleS + o.seconds) * LiveRate
    val t0 = Clock.nowEpoch + 100000000L
    val writer = new LiveWriter(cap, o.seed, t0, period, total)
    Trace.span("bench.generate")(writer.start())
    writer.join()
    val windowStartMs = (t0 + settleLines * period) / 1000000L
    val windowEndMs = (t0 + total * period) / 1000000L
    val backlog = total - progress.committed(q)
    // drain: every line committed and every wire-bound line received
    await("live drain", 60)(progress.committed(q) >= total && rx.count >= writer.wireLines)
    q.stop()
    out.e2e("rss_peak_mb") = vmHwmMb()
    sub.close()
    ZmtpPubServer.closeShared(name)
    rx.join(5000)

    val expected = Gen.live(o.seed, total, t0, period)
    val checker = new Checker(expected, onWire = true)
    val lat = ArrayBuffer[Double]()
    val toRecv = ArrayBuffer[Double]()
    val curve = Array.fill(total / (2 * LiveRate) + 1)(ArrayBuffer[Double]())
    Trace.span("bench.check") {
      rx.frames.asScala.foreach { case (nano, bytes) =>
        val i = checker.frame(bytes)
        if (i >= 0) curve(i / (2 * LiveRate)) += (Clock.toEpoch(nano) - expected(i).epochNanos) / 1e6
        if (i >= settleLines) {
          lat += (Clock.toEpoch(nano) - expected(i).epochNanos) / 1e6
          val sent = TimedPublisher.sentAt.get(java.nio.ByteBuffer.wrap(bytes))
          if (o.trace && sent != null) toRecv += (nano - sent) / 1e6
        }
      }
    }
    out.attempted = checker.attempted
    out.failed = checker.failed
    if (lat.size < 100) out.fail(s"only ${lat.size} latency samples")

    val batches = progress.batches(q)
    val inWindow = batches.filter(b => b.startMs >= windowStartMs && b.startMs < windowEndMs)
    def committedBy(ms: Long): Long =
      batches.filter(_.endMs <= ms).map(_.to).foldLeft(0L)(math.max)
    out.e2e("latency_p50_ms") = median(lat.toSeq)
    out.e2e("latency_p99_ms") = quantile(lat.toSeq, 0.99)
    out.e2e("throughput_lps") =
      (committedBy(windowEndMs) - committedBy(windowStartMs)) / o.seconds.toDouble
    val late = writer.lateness.map(_ / 1e6).toSeq
    out.report ++= Seq("rate_lps" -> LiveRate, "warm_queries" -> LiveWarmQueries,
      "warm_s" -> LiveWarmS, "settle_s" -> LiveSettleS,
      "window_s" -> o.seconds, "lines" -> total, "latency_samples" -> lat.size,
      "generator_lateness_max_ms" -> late.max,
      "generator_lateness_p99_ms" -> quantile(late, 0.99),
      "backlog_at_window_end" -> backlog, "window_batches" -> inWindow.size,
      "p50_ms_per_2s" -> curve.filter(_.nonEmpty).map(c => math.round(median(c.toSeq))).mkString(" "))

    if (o.trace) {
      val waits = for (b <- inWindow; i <- b.from until b.to)
        yield (b.startMs * 1000000L - (t0 + i * period)) / 1e6
      streamingLayers(out, inWindow, waits)
      out.layers("streaming.publish_ns_per_frame") = median(TimedPublisher.callNanos.asScala.map(_.toDouble).toSeq)
      out.layers("streaming.publish_to_recv_ms") = median(toRecv.toSeq)
      sourceLayers(out, cap, batches.map(b => (b.from, b.to)))
      kernelLayers(spark, out, cap, o.work.resolve("probe-sink"), publishProbe = false)
    }
  }

  // ---------------------------------------------------- replay workloads

  final case class Drain(t0Ms: Long, batches: Seq[Batch], outDir: Path) {
    def endMs: Long = batches.map(_.endMs).max
    def seconds: Double = (endMs - t0Ms) / 1000.0
  }

  def replay(spark: SparkSession, o: Opts, progress: ProgressLog, out: Outcome): Unit = {
    val n = ReplayLines
    val cap = capturePath(o.workload, o.seed, o.work)
    require(Files.exists(cap), s"missing capture $cap (make it with: gen)")
    val root = reset(o.work.resolve("replay"))
    val drains = ArrayBuffer[Drain]()
    // the count of whole drains is fixed by --seconds, so that a faster run
    // does not also measure a later, warmer drain
    val timedDrains = math.max(1, math.round(o.seconds / drainS(o.workload)).toInt)
    while (drains.size < WarmupDrains + timedDrains) {
      val k = drains.size
      val dir = root.resolve(s"drain-$k")
      val t0 = System.currentTimeMillis()
      val q = Trace.span("streaming.Sinks.idempotentParquet") {
        Sinks.idempotentParquet(
          pipeline(load(spark, cap, "linesPerTrigger" -> LinesPerTrigger.toString)),
          dir.resolve("out").toString, dir.resolve("ckpt").toString)
      }
      if (k == 0) out.setupEndMs = System.currentTimeMillis()
      Trace.span("bench.drain")(await(s"drain $k", 120)(progress.committed(q) >= n))
      q.stop()
      drains += Drain(t0, progress.batches(q), dir.resolve("out"))
    }
    out.e2e("rss_peak_mb") = vmHwmMb()

    val checkStart = System.nanoTime()
    val expected = Gen.replay(o.seed, n)
    Trace.span("bench.check") {
      drains.foreach { d =>
        val c = new Checker(expected, onWire = false)
        spark.read.parquet(d.outDir.toString)
          .select("raw", "message_type", "proto", "spread", "spread_dec")
          .collect().foreach { r =>
            c.row(r.getString(0), r.getString(1),
              if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2),
              if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)),
              if (r.isNullAt(4)) null else r.getDecimal(4))
          }
        out.attempted += c.attempted
        out.failed += c.failed
      }
    }
    val timed = drains.drop(WarmupDrains).toSeq
    // a line's latency: from the drain's start, when every line is there to
    // read, to the end of the batch that committed it; each percentile is the
    // median of its per-drain values
    def pct(d: Drain, q: Double): Double = {
      val target = q * n
      d.batches.sortBy(_.endMs).scanLeft((0L, 0L)) { case ((_, acc), b) => (b.endMs, acc + b.to - b.from) }
        .find(_._2 >= target).map(_._1 - d.t0Ms).getOrElse(0L).toDouble
    }
    out.e2e("latency_p50_ms") = median(timed.map(pct(_, 0.5)))
    out.e2e("latency_p99_ms") = median(timed.map(pct(_, 0.99)))
    out.e2e("throughput_lps") = median(timed.map(d => n / d.seconds))
    out.report ++= Seq("lines" -> n, "lines_per_trigger" -> LinesPerTrigger,
      "warmup_drains" -> WarmupDrains, "timed_drains" -> timed.size,
      "latency_samples" -> timed.size * n,
      "drain_s" -> timed.map(_.seconds).mkString(" "),
      "warmup_drain_s" -> drains.head.seconds,
      "check_s" -> (System.nanoTime() - checkStart) / 1e9)

    if (o.trace) {
      val waits = for (d <- timed; b <- d.batches; _ <- b.from until b.to)
        yield (b.startMs - d.t0Ms).toDouble
      streamingLayers(out, timed.flatMap(_.batches), waits)
      out.layers("streaming.batches") = median(timed.map(_.batches.size.toDouble))
      sourceLayers(out, cap, timed.head.batches.map(b => (b.from, b.to)))
      kernelLayers(spark, out, cap, o.work.resolve("probe-sink"), publishProbe = true)
    }
  }

  // ------------------------------------------------------ per-layer probes

  private def streamingLayers(out: Outcome, batches: Seq[Batch], waits: Seq[Double]): Unit = {
    def med(k: String): Double = median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    out.layers("sources.latest_offset_ms") = med("latestOffset")
    out.layers("streaming.batches") = batches.size.toDouble
    out.layers("streaming.trigger_ms") = med("triggerExecution")
    out.layers("streaming.add_batch_ms") = med("addBatch")
    out.layers("streaming.wal_commit_ms") = med("walCommit")
    out.layers("streaming.commit_offsets_ms") = med("commitOffsets")
    out.layers("streaming.query_planning_ms") = med("queryPlanning")
    out.layers("streaming.batch_wait_ms") = median(waits)
  }

  private def timeS(f: => Unit): Double = {
    val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
  }

  /** Head recount on the capture at its final size, and the partition
    * readers over the ranges the query's batches read. */
  private def sourceLayers(out: Outcome, cap: Path, ranges: Seq[(Long, Long)]): Unit = {
    val heads = Seq.fill(5)(timeS(Trace.span("sources.FileLineTransport.head") {
      new FileLineTransport(cap.toString, tail = true).head()
    }) * 1000)
    out.layers("sources.tail_head_ms") = median(heads)
    var lines = 0L
    def drainParts(parts: Seq[org.apache.spark.sql.connector.read.InputPartition]): Unit =
      parts.foreach { p =>
        val r = LineReaderFactory.createReader(p)
        try while (r.next()) { r.get(); lines += 1 } finally r.close()
      }
    val transport = new FileLineTransport(cap.toString)
    val parts = ranges.flatMap { case (a, b) => transport.planPartitions(a, b).toSeq }
    val partS = Seq.fill(3)(timeS(Trace.span("sources.LineReaderFactory.ranges")(drainParts(parts))))
    val delivered = lines / 3
    lines = 0
    val seqS = Seq.fill(3)(timeS(Trace.span("sources.LineReaderFactory.sequential") {
      drainParts(Seq(LineRangePartition(cap.toString, 0L, Long.MaxValue)))
    }))
    out.layers("sources.range_read_lps") = delivered / median(partS)
    out.layers("sources.read_amplification") = median(partS) / median(seqS)
  }

  /** Parse, derive, encode and sink-write over a cached copy of the capture. */
  private def kernelLayers(spark: SparkSession, out: Outcome, cap: Path, sinkDir: Path,
      publishProbe: Boolean): Unit = {
    val lines = spark.read.text(cap.toString).cache()
    val n = lines.count().toDouble
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def rate(name: String)(df: => DataFrame): Double =
      n / median(Seq.fill(3)(timeS(Trace.span(name)(noop(df)))))
    val h0 = FastWireParser.fastHits.sum(); val f0 = FastWireParser.fallbacks.sum()
    out.layers("functions.parse_lps") = rate("functions.OandaPipeline.parse")(OandaPipeline.parse(lines))
    val hits = (FastWireParser.fastHits.sum() - h0).toDouble
    val falls = (FastWireParser.fallbacks.sum() - f0).toDouble
    out.layers("functions.fast_parse_ratio") = hits / (hits + falls)
    out.layers("functions.derive_lps") =
      rate("functions.OandaPipeline.derive")(OandaPipeline.derive(OandaPipeline.parse(lines)))
    out.layers("proto.encode_lps") = rate("proto.OandaPipeline.pipeline")(OandaPipeline.pipeline(lines))

    // single-thread envelope encode over the capture's ticks
    val ticks = OandaPipeline.derive(OandaPipeline.parse(lines))
      .where(col("message_type") === "price_tick")
      .select("tick", "event_ts", "time_nanos")
      .queryExecution.toRdd.map(_.copy()).collect()
      .map(r => (r.getStruct(0, 7), r.getLong(1), Integer.valueOf(r.getInt(2))))
    var sink = 0L
    def encodeAll(): Unit = ticks.foreach { case (t, us, ns) =>
      sink += ProtoFunctions.tickEnvelope(t, us, ns).length }
    encodeAll()
    var calls = 0L
    val encS = timeS(Trace.span("proto.ProtoFunctions.tickEnvelope") {
      val stop = System.nanoTime() + 1000000000L
      while (System.nanoTime() < stop) { encodeAll(); calls += ticks.length }
    })
    out.layers("proto.encode_ns_per_msg") = encS * 1e9 / calls
    require(sink > 0, "no envelope was encoded") // keeps the encode loop's result live

    val wire = OandaPipeline.pipeline(lines).cache()
    wire.count()
    var k = 0
    out.layers("streaming.sink_write_lps") = n / median(Seq.fill(3)(timeS {
      Trace.span("streaming.Sinks.writeBatch")(Sinks.writeBatch(wire, sinkDir.toString, k))
      k += 1
    }))
    if (publishProbe) {
      val frames = wire.where(col("proto").isNotNull).select("proto").limit(2000)
        .collect().map(_.getAs[Array[Byte]](0))
      val name = "perfbench-probe"
      val (sub, rx) = Receiver.attach(name)
      TimedPublisher.reset()
      val pub = new TimedPublisher(new SharedZmtpPublisher(name))
      frames.grouped(100).foreach { chunk =>
        chunk.foreach(pub.publish)
        await("probe frames", 10)(rx.count >= TimedPublisher.sentAt.size)
      }
      sub.close()
      ZmtpPubServer.closeShared(name)
      val toRecv = rx.frames.asScala.flatMap { case (nano, b) =>
        Option(TimedPublisher.sentAt.get(java.nio.ByteBuffer.wrap(b))).map(s => (nano - s) / 1e6)
      }.toSeq
      out.layers("streaming.publish_ns_per_frame") =
        median(TimedPublisher.callNanos.asScala.map(_.toDouble).toSeq)
      out.layers("streaming.publish_to_recv_ms") = median(toRecv)
    }
    wire.unpersist()
    lines.unpersist()
  }
}
