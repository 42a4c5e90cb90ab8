package perfbench

import java.nio.ByteBuffer
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import graft.streaming.MessagePublisher

/** In-memory spans around the benchmark's calls into each layer's public
  * functions (name, start, end, parent), written out once the run ends.
  * Off unless the run is traced. */
object Trace {
  @volatile var on = false

  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val s = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, s, System.nanoTime()))
        current.set(parent)
      }
    }

  /** Records a span measured elsewhere (no parent). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, startNs, endNs))

  /** Writes spans and the queries' progress events as one JSON document. */
  def write(path: java.nio.file.Path, progressJson: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    ).mkString(",\n"))
    sb.append("],\n\"progress\":[")
    sb.append(progressJson.mkString(",\n"))
    sb.append("]}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Timing wrapper around a publisher: time per `publish` call, and the
  * instant each payload was handed over (for publish-to-receipt time). */
final class TimedPublisher(inner: MessagePublisher) extends MessagePublisher {
  override def publish(message: Array[Byte]): Unit = {
    val s = System.nanoTime()
    inner.publish(message)
    val e = System.nanoTime()
    TimedPublisher.callNanos.add(e - s)
    TimedPublisher.sentAt.put(ByteBuffer.wrap(message), s)
    Trace.record("streaming.MessagePublisher.publish", s, e)
  }
  override def close(): Unit = inner.close()
}

object TimedPublisher {
  val callNanos = new ConcurrentLinkedQueue[Long]()
  val sentAt = new ConcurrentHashMap[ByteBuffer, Long]()
  def reset(): Unit = { callNanos.clear(); sentAt.clear() }
}
