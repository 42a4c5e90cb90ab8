package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Replays the reference's ingest semantics (SURVEY.md §2A, FIXTURES.md §A)
  * through the full pipeline — every edge line maps to a documented
  * reference behavior (file:line cited at each assertion).
  */
class OandaPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val tickLine =
    """{"asks":[{"price":"1.08425","liquidity":1000000},{"price":"1.08427","liquidity":2000000}],""" +
      """"bids":[{"price":"1.08412","liquidity":1000000}],""" +
      """"closeoutAsk":"1.08430","closeoutBid":"1.08410",""" +
      """"instrument":"EUR_USD","status":"tradeable",""" +
      """"time":"2024-01-15T09:30:00.123456789Z"}"""
  private val heartbeatLine =
    """{"type":"HEARTBEAT","time":"2024-01-15T09:30:05.000000000Z"}"""

  private val edgeLines = Seq(
    tickLine,
    heartbeatLine,
    "   ",                                   // blank → dropped (oanda_client.rs:50-53)
    "",                                      // empty → dropped
    "{not json",                             // malformed (oanda_client.rs:55-61)
    """{"foo": 1}""",                        // no discriminator → unknown (oanda_client.rs:79-82)
    "\"hello\"",                             // valid scalar JSON → unknown (serde Value parses it)
    "42",                                    // valid scalar JSON → unknown
    "[1, 2]",                                // valid array JSON → unknown
    """{"instrument":"EUR_USD","asks":[{"price":"1.1","liquidity":"notanumber"}],"bids":[],"closeoutAsk":"1.1","closeoutBid":"1.0","status":"tradeable","time":"2024-01-15T09:30:00Z"}""", // type mismatch → unknown (oanda_client.rs:72-78)
    """{"asks":[{"price":"1.2","liquidity":5}],"bids":[{"price":"1.1","liquidity":6}],"closeoutAsk":"garbage","closeoutBid":"1.08","instrument":"USD_JPY","status":"tradeable","time":"2024-01-15T09:30:01+00:00"}""" // bad ask → spread term 0.0 (main.rs:70-71)
  )

  private def run(lines: Seq[String]) =
    OandaPipeline.derive(OandaPipeline.parse(lines.toDF("value"))).cache()

  test("dispatch: P3 blank drop, P4 malformed, P5/P6 discriminators and fallbacks") {
    val out = run(edgeLines)
    assert(out.count() == 9) // blank and empty lines dropped
    val byType = out.groupBy("message_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("price_tick" -> 2L, "heartbeat" -> 1L,
      "unknown" -> 5L, "malformed" -> 1L))
  }

  test("P8 spread: 0.0-coercion, not null-propagation (main.rs:70-72)") {
    val out = run(edgeLines).filter($"message_type" === "price_tick")
      .select($"tick.instrument", $"spread").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("EUR_USD") - 0.0002) < 1e-12)
    // 'garbage' ask coerces to 0.0 → spread = 0.0 - 1.08 = -1.08
    assert(math.abs(out("USD_JPY") - (-1.08)) < 1e-12)
  }

  test("P9 timestamps: literal-Z nanos form and RFC3339 offset form both parse; nanos sidecar kept") {
    val out = run(edgeLines)
      .filter($"message_type".isin("price_tick", "heartbeat"))
      .select($"event_ts".cast("string"), $"time_nanos").collect()
    assert(out.forall(_.get(0) != null))
    val nanos = out.map(_.getInt(1)).toSet
    assert(nanos.contains(123456789)) // preserved beyond µs truncation
  }

  test("P10/P11 display + console projection format") {
    val lines = OandaPipeline.consoleProjection(run(Seq(tickLine, heartbeatLine)))
      .as[String].collect().sorted
    assert(lines(0) == "2024-01-15 09:30:00 EUR_USD 1.08430 1.08410 0.00020")
    assert(lines(1) == "2024-01-15 09:30:05 HEARTBEAT")
  }

  test("P15 dead letters retain raw payload") {
    val dl = Sinks.deadLetters(OandaPipeline.parse(edgeLines.toDF("value")))
      .as[(String, String)].collect().toMap
    assert(dl.keySet == Set("unknown", "malformed") || dl.size == 3)
    assert(dl.values.forall(_.nonEmpty))
  }

  test("streaming: same plan over MemoryStream, foreachBatch publish to in-memory PUB (P14)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val wire = OandaPipeline.pipeline(ms.toDF())
    val ckpt = java.nio.file.Files.createTempDirectory("graft-oanda-ckpt").toString
    val qname = s"pub-${System.nanoTime()}"
    val query = Sinks.publishStream(wire, () => new InMemoryPublisher(qname), ckpt)
    try {
      ms.addData(edgeLines: _*)
      query.processAllAvailable()
      ms.addData(tickLine)
      query.processAllAvailable()
    } finally query.stop()
    val frames = InMemoryPublisher.drain(qname)
    assert(frames.size == 4) // 3 publishable msgs batch 1 + 1 batch 2
    // every frame is a StreamMessageProto with oneof field 1 (tick) or 2 (hb)
    val oneofs = frames.map(f => graft.proto.ProtoWire.readFields(f).head.number).toSet
    assert(oneofs == Set(1, 2))
  }

  test("the whole pipeline above the scan runs in one whole-stage codegen stage") {
    import org.apache.spark.sql.execution.{InputAdapter, LeafExecNode, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val tmp = java.nio.file.Files.createTempDirectory("graft-oanda-codegen")
    java.nio.file.Files.write(tmp.resolve("cap.jsonl"), edgeLines.asJava)
    val wire = OandaPipeline.pipeline(spark.read.text(tmp.resolve("cap.jsonl").toString))
    wire.collect()
    val plan = wire.queryExecution.executedPlan
    val nodes = SparkTestSession.flattenExecuted(plan)
    val stages = nodes.collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1, s"expected one codegen stage:\n$plan")
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    val fused = inStage(stages.head.child)
    val operators = nodes.filterNot(n => n.isInstanceOf[WholeStageCodegenExec] ||
      n.isInstanceOf[InputAdapter] || n.isInstanceOf[LeafExecNode] ||
      n.isInstanceOf[AdaptiveSparkPlanExec])
    assert(operators.nonEmpty && operators.forall(o => fused.exists(_ eq o)),
      s"an operator runs outside the codegen stage:\n$plan")
  }
}
