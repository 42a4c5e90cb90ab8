package graft.streaming

import graft.SparkTestSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Exactly-once file output from an at-least-once foreachBatch sink: the
  * batch-id-partitioned overwrite write must make batch replay a no-op
  * (Sinks.idempotentParquet / Sinks.writeBatch). */
class IdempotentSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def logFiles(ckpt: String, log: String): Seq[String] =
    Files.list(Paths.get(ckpt, log)).iterator.asScala.map(_.getFileName.toString).toSeq

  private def readRows(out: String): Seq[(Long, String)] = spark.read
    .option("basePath", out).parquet(out).select("id", "v").collect()
    .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("streamed batches land in batch_id partitions; replaying one is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-idem-out").toString
    val ckpt = Files.createTempDirectory("graft-idem-ckpt").toString

    val ms = MemoryStream[(Long, String)]
    val query = Sinks.idempotentParquet(ms.toDF().toDF("id", "v"), out, ckpt)
    try {
      ms.addData((1L, "a"), (2L, "b"))
      query.processAllAvailable()
      ms.addData((3L, "c"))
      query.processAllAvailable()
    } finally query.stop()

    def readAll() = readRows(out)
    val afterStream = readAll()
    assert(afterStream == Seq((1L, "a"), (2L, "b"), (3L, "c")), afterStream)

    // crash-replay contract: re-delivering batch 1 (the (3,"c") batch) must
    // overwrite its own partition, not append — same rows after as before
    Sinks.writeBatch(Seq((3L, "c")).toDF("id", "v"), out, 1L)
    val afterReplay = readAll()
    assert(afterReplay == afterStream, afterReplay)

    // and a replay with corrected content replaces the partition wholesale
    Sinks.writeBatch(Seq((4L, "d")).toDF("id", "v"), out, 1L)
    val afterRewrite = readAll()
    assert(afterRewrite == Seq((1L, "a"), (2L, "b"), (4L, "d")), afterRewrite)
  }

  test("the sink query checkpoints through LocalCheckpointFileManager; the session is left as it was") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-idem-out").toString
    val ckpt = Files.createTempDirectory("graft-idem-ckpt").toString
    val ms = MemoryStream[(Long, String)]
    val query = Sinks.idempotentParquet(ms.toDF().toDF("id", "v"), out, ckpt)
    try {
      ms.addData((1L, "a"))
      query.processAllAvailable()
      ms.addData((2L, "b"))
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.conf.getOption(managerKey).isEmpty)
    Seq("offsets", "commits").foreach { log =>
      val files = logFiles(ckpt, log)
      assert(Set("0", "1").subsetOf(files.toSet), s"$log: $files")
      // Spark's default manager writes a .crc beside every log file
      assert(!files.exists(_.endsWith(".crc")), s"$log: $files")
    }
    assert(readRows(out) == Seq((1L, "a"), (2L, "b")))
  }

  test("a caller's own checkpoint manager class wins over the sink's") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-idem-out").toString
    val ckpt = Files.createTempDirectory("graft-idem-ckpt").toString
    val own = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(managerKey, own)
    try {
      val ms = MemoryStream[(Long, String)]
      val query = Sinks.idempotentParquet(ms.toDF().toDF("id", "v"), out, ckpt)
      try { ms.addData((1L, "a")); query.processAllAvailable() } finally query.stop()
      assert(spark.conf.get(managerKey) == own)
      assert(logFiles(ckpt, "commits").contains(".0.crc"))
    } finally spark.conf.unset(managerKey)
  }

  test("a checkpoint moves between Spark's default manager and the sink's, both ways, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft-idem-out").toString
    val ckpt = Files.createTempDirectory("graft-idem-ckpt").toString
    val ms = MemoryStream[(Long, String)]
    def viaDefault(): StreamingQuery = ms.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => Sinks.writeBatch(b, out, id))
      .start()
    def viaSinks(): StreamingQuery = Sinks.idempotentParquet(ms.toDF().toDF("id", "v"), out, ckpt)
    val commits: Path = Paths.get(ckpt, "commits")
    // each leg ends in a crash before its last commit: the commit file goes
    // (a default-manager .crc beside it stays), so the next leg, under the
    // other manager, replays that batch and writes its commit again
    def leg(start: () => StreamingQuery, rows: (Long, String)*): Unit = {
      val q = start()
      try { ms.addData(rows); q.processAllAvailable() } finally q.stop()
      val last = logFiles(ckpt, "commits").filter(_.forall(_.isDigit)).maxBy(_.toLong)
      Files.delete(commits.resolve(last))
    }
    leg(() => viaDefault(), (1L, "a"), (2L, "b"))
    assert(logFiles(ckpt, "offsets").contains(".0.crc"), "the default manager checksums its files")
    leg(() => viaSinks(), (3L, "c"))
    assert(!logFiles(ckpt, "offsets").contains(".1.crc"))
    assert(!logFiles(ckpt, "commits").contains(".0.crc"), "the replayed commit drops the stale .crc")
    leg(() => viaDefault(), (4L, "d"))
    leg(() => viaSinks(), (5L, "e"))
    assert(readRows(out) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
  }
}
