package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.streaming.StreamingQuery

/** Sink-side publishing (SURVEY.md §2A P14-P16).
  *
  * The reference publishes each encoded message on a ZeroMQ PUB socket with
  * fire-and-forget semantics — a send error is logged and the stream
  * continues (`/root/reference/src/main.rs:89-93`, `publisher.rs:19-24`).
  * The engine defines the publisher as an interface with an in-memory
  * implementation for tests and the ZMTP 3.0 PUB endpoint of `Zmtp.scala`,
  * which a stock ZMQ SUB socket attaches to unchanged.
  *
  * Delivery semantics note (SURVEY.md §7.3#4): ZMQ PUB is at-most-once;
  * Spark foreachBatch replays batches on recovery (at-least-once), so a
  * replayed batch re-sends its messages and a subscriber may see a message
  * twice.
  */
trait MessagePublisher extends Serializable with AutoCloseable {
  /** Fire-and-forget publish of one encoded message; must not throw. */
  def publish(message: Array[Byte]): Unit
  override def close(): Unit = ()
}

/** Test/debug publisher collecting frames into a process-wide queue keyed by
  * name (local-mode executors share the JVM). */
final class InMemoryPublisher(name: String) extends MessagePublisher {
  override def publish(message: Array[Byte]): Unit =
    InMemoryPublisher.queue(name).add(message)
}
object InMemoryPublisher {
  private val queues = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Array[Byte]]]()
  def queue(name: String): ConcurrentLinkedQueue[Array[Byte]] =
    queues.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Array[Byte]]())
  def drain(name: String): Seq[Array[Byte]] = {
    val q = queue(name)
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
  }
}

/** The pipeline's sinks.
  *
  * Both streaming sinks start their query with [[LocalCheckpointFileManager]]
  * when the checkpoint is on the local filesystem: Spark's default manager
  * forks a `readlink`/`chmod` child process per checkpoint-log path when
  * Hadoop has no NativeIO library, about 37 ms for each of the two log files
  * a micro-batch writes. The manager is installed through Spark's extension
  * point `spark.sql.streaming.checkpointFileManagerClass`, set on the
  * session only around `start()`: the query clones the session when it is
  * constructed and builds its checkpoint logs from that clone, so the
  * session itself is left as it was. A caller that sets the key itself,
  * on the session or in the Spark conf, keeps its own manager; a checkpoint
  * on any other filesystem keeps Spark's default.
  */
object Sinks {

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start a foreachBatch query over `df` with [[LocalCheckpointFileManager]]
    * installed on its session for the duration of `start()` (see [[Sinks]]).
    * Starts are serialized, so concurrent starts cannot unset each other's
    * install. */
  private def startForeachBatch(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery = synchronized {
    val spark = df.sparkSession
    val install = spark.conf.getOption(CheckpointManagerKey).isEmpty &&
      new Path(checkpoint).getFileSystem(DatasetBridge.hadoopConf(spark))
        .isInstanceOf[LocalFileSystem]
    if (install) spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
    try df.writeStream.option("checkpointLocation", checkpoint).foreachBatch(body).start()
    finally if (install) spark.conf.unset(CheckpointManagerKey)
  }

  /** P14: publish the non-null `proto` column of a wire frame via
    * foreachBatch; each partition opens its own publisher (executor-side —
    * the node boundary of SURVEY.md §3.4#3). */
  def publishStream(wire: DataFrame, factory: () => MessagePublisher,
      checkpoint: String): StreamingQuery =
    startForeachBatch(wire, checkpoint) { (batch, _) =>
      batch.select("proto").where("proto IS NOT NULL")
        .foreachPartition { (it: Iterator[Row]) =>
          val p = factory()
          try it.foreach(r => p.publish(r.getAs[Array[Byte]](0)))
          finally p.close()
        }
    }

  /** Exactly-once parquet sink: foreachBatch writes each micro-batch to its
    * own `batch_id=N` partition with OVERWRITE, so a batch replayed after a
    * crash-before-commit (foreachBatch is at-least-once) replaces its own
    * partition instead of appending duplicates — at-least-once delivery ×
    * idempotent write = exactly-once file output. Readers see the table as
    * ordinary partitioned parquet; at 100 TB this is the standard
    * batch-id-keyed idempotence pattern (no sink-side transaction log
    * needed). IdempotentSinkSpec proves the replay case. */
  def idempotentParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    startForeachBatch(df, checkpoint)((batch, batchId) => writeBatch(batch, path, batchId))

  /** The per-batch idempotent write (factored out so the replay contract is
    * directly testable: calling it twice for one batchId must be a no-op). */
  def writeBatch(batch: DataFrame, path: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** P15: the dead-letter side — unknown/malformed rows retained with their
    * raw payload (strict superset of the reference's log-and-drop). */
  def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(parsed("message_type").isin("unknown", "malformed"))
      .select("message_type", "raw")

  /** P16: graceful shutdown — stop the query on JVM shutdown (SIGTERM /
    * Ctrl-C ≙ main.rs:122-134), then let awaitTermination return. */
  def stopOnShutdown(q: StreamingQuery): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try q.stop() catch { case _: Exception => () }))
}
