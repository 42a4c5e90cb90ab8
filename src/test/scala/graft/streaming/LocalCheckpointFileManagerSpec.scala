package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The local checkpoint manager keeps Spark's publish contract (atomic
  * publish, no-replace, cancel) and starts no process. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fixture(): (NioPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft-lcfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def hpath(p: NioPath) = new Path(p.toUri)

  private def write(m: LocalCheckpointFileManager, p: NioPath, body: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(hpath(p), overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(p: NioPath) = new String(Files.readAllBytes(p), UTF_8)

  private def names(dir: NioPath) =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("a log file is published on close, and only then") {
    val (dir, m) = fixture()
    val dst = dir.resolve("offsets").resolve("0")
    val out = m.createAtomic(hpath(dst), false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!Files.exists(dst))
    out.close()
    assert(read(dst) == "v1\n{}")
    assert(names(dst.getParent) == Set("0"), "no temp file is left behind")
  }

  test("no-replace publish raises Hadoop's FileAlreadyExistsException and keeps the first content") {
    val (dir, m) = fixture()
    val dst = dir.resolve("0")
    write(m, dst, "first", overwrite = false)
    val second = m.createAtomic(hpath(dst), false)
    second.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](second.close())
    assert(read(dst) == "first")
  }

  test("cancel() leaves neither the target nor a temp file") {
    val (dir, m) = fixture()
    val out = m.createAtomic(hpath(dir.resolve("0")), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty, names(dir))
  }

  test("overwrite replaces the target and drops a stale .crc; checksummed reads still pass") {
    val (dir, m) = fixture()
    val dst = dir.resolve("1")
    val crc = dir.resolve(".1.crc")
    // Hadoop's checksummed local filesystem writes a .crc sibling, as Spark's
    // default manager does
    val local = FileSystem.getLocal(conf)
    val legacy = local.create(hpath(dst), true)
    legacy.write("old".getBytes(UTF_8))
    legacy.close()
    assert(Files.exists(crc))
    write(m, dst, "new", overwrite = true)
    assert(read(dst) == "new" && !Files.exists(crc))
    assert(new String(m.open(hpath(dst)).readAllBytes(), UTF_8) == "new")

    // a file deleted without its .crc: a no-replace publish drops the stale one
    val again = local.create(hpath(dir.resolve("2")), true)
    again.write("old".getBytes(UTF_8))
    again.close()
    Files.delete(dir.resolve("2"))
    write(m, dir.resolve("2"), "fresh", overwrite = false)
    assert(!Files.exists(dir.resolve(".2.crc")))
    assert(new String(local.open(hpath(dir.resolve("2"))).readAllBytes(), UTF_8) == "fresh")
  }

  test("a path on another filesystem is rejected") {
    intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(new Path("http://localhost:1/ckpt"), conf))
  }

  test("100 log writes, reads, listings and deletes start no process") {
    val (dir, m) = fixture()
    val logDir = hpath(dir.resolve("commits"))
    def cycle(i: Int): Unit = {
      val p = new Path(logDir, i.toString)
      val out = m.createAtomic(p, i % 2 == 0)
      out.write(s"v1\n{\"batch\":$i}".getBytes(UTF_8))
      out.close()
      assert(m.exists(p))
      m.open(p).close()
      m.list(logDir)
      if (i % 10 == 9) m.delete(p)
    }
    cycle(-1) // class loading and Hadoop's one-time static set-up
    val me = Thread.currentThread().getId
    val marker = s"graft-lcfm-${System.nanoTime()}"
    val started = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) =>
        if (e.getThread("eventThread").getJavaThreadId == me) started.add(e.getString("command")))
      rs.startAsync()
      (0 until 100).foreach(cycle)
      // positive control: a fork on this thread must be seen, and every event
      // recorded before it has been delivered by then
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!started.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally rs.close()
    val forks = started.asScala.filterNot(_.contains(marker)).toSeq
    assert(started.asScala.exists(_.contains(marker)), "the recording saw no process start at all")
    assert(forks.isEmpty, forks)
  }
}
