package graft.streaming

import graft.functions.OandaColumns
import graft.model.OandaSchemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference pipeline (SURVEY.md §3.1) as one declarative plan:
  * ingest → frame → filter → parse → dispatch → derive → encode → publish,
  * i.e. `/root/reference/src/main.rs:65-135` + `oanda_client.rs:42-94`
  * re-expressed as column transforms Catalyst fuses into one codegen stage.
  *
  * Works identically over a batch DataFrame of lines and a streaming one
  * (MemoryStream / socket / file / custom source) — the plan is the same;
  * only the source/sink bindings differ.
  */
object OandaPipeline {

  /** P3-P6: blank-line filter, tolerant JSON parse, discriminator dispatch,
    * schema validation with Unknown fallback.
    *
    * Input: one string column `value` (one wire line per row, ≙ P2 framing).
    * Output columns:
    *   - message_type: price_tick | heartbeat | unknown | malformed
    *   - tick:      struct, non-null iff message_type = price_tick
    *   - heartbeat: struct, non-null iff message_type = heartbeat
    *   - raw:       the original line (dead-letter payload, P15)
    *
    * Dispatch mirrors `oanda_client.rs:63-82`: probe `type == "HEARTBEAT"`
    * first, else presence of an `instrument` key, else Unknown; a record that
    * matches a discriminator but fails full typed validation falls back to
    * Unknown (serde's `from_value` requires every field present and
    * well-typed — no Options in `models.rs:10-27`).
    */
  def parse(lines: DataFrame): DataFrame = {
    val parsed = lines
      // P3: oanda_client.rs:50-53; compares bytes instead of counting the
      // characters of every line, and is null for a null line either way
      .filter(trim(col("value")) =!= "")
      // round-8: parse_oanda_wire = the codegen'd two-shape parser with a
      // Jackson (from_json PERMISSIVE) delegate for anything surprising —
      // value-identical to from_json(wireSchema) by construction
      // (FastWireParseSpec), but the projection stays inside whole-stage
      // codegen and the happy path skips generic-token parsing entirely
      .withColumn("j", graft.functions.ParseOandaWire.parseWire(col("value")))
      // discriminator probes (≙ raw_json.get pre-deserialize) — evaluated on
      // the single from_json pass; a present-but-mistyped discriminator nulls
      // under partial results, landing in the same Unknown branch the
      // reference's failed from_value takes (oanda_client.rs:68,76)
      .withColumn("is_hb", col("j.type") === "HEARTBEAT")
      .withColumn("has_instr", col("j.instrument").isNotNull)
      // JSON-level validity (serde's parse-to-Value, oanda_client.rs:55-61):
      // an unparseable line yields _corrupt_record set with EVERY schema
      // field null; a well-formed line with type mismatches keeps its good
      // fields (partial results) and goes to Unknown instead. Valid scalar/
      // array JSON ("hello", 42, []) also parses under serde's Value and
      // routes to Unknown (oanda_client.rs:79-82), so a corrupt struct parse
      // falls through to a variant probe — only a line no JSON parser
      // accepts is 'malformed'.
      .withColumn("is_json",
        col("j._corrupt_record").isNull ||
          Seq("asks", "bids", "closeoutAsk", "closeoutBid", "instrument",
            "status", "time", "type").map(f => col(s"j.$f").isNotNull).reduce(_ || _) ||
          try_parse_json(col("value")).isNotNull)

    // levels_complete, not an exists() lambda: higher-order functions are
    // CodegenFallback and would split the plan into two codegen stages
    val levelOk = graft.functions.LevelsComplete.levelsComplete _
    val tickValid =
      levelOk(col("j.asks")) && levelOk(col("j.bids")) &&
        col("j.closeoutAsk").isNotNull && col("j.closeoutBid").isNotNull &&
        col("j.instrument").isNotNull && col("j.status").isNotNull && col("j.time").isNotNull
    val hbValid = col("j.time").isNotNull && col("j.type").isNotNull
    val malformed = !col("is_json")

    parsed
      .withColumn("message_type",
        when(malformed, "malformed") // P4: unparseable line (logged+dropped in ref)
          .when(col("is_hb") && hbValid, "heartbeat")
          .when(col("is_hb"), "unknown") // oanda_client.rs:68 fallback
          .when(col("has_instr") && tickValid, "price_tick")
          .when(col("has_instr"), "unknown") // oanda_client.rs:76 fallback
          .otherwise("unknown")) // oanda_client.rs:79-82
      .withColumn("tick",
        when(col("message_type") === "price_tick",
          struct(
            col("j.asks").as("asks"), col("j.bids").as("bids"),
            col("j.closeoutAsk").as("closeout_ask"), col("j.closeoutBid").as("closeout_bid"),
            col("j.instrument").as("instrument"), col("j.status").as("status"),
            col("j.time").as("time"))))
      .withColumn("heartbeat",
        when(col("message_type") === "heartbeat",
          struct(col("j.time").as("time"), col("j.type").as("message_type"))))
      // keep any caller-supplied passthrough columns (ids, source offsets)
      .withColumn("raw", col("value"))
      .drop("value", "j", "is_hb", "has_instr", "is_json")
  }

  /** P8-P10: derived columns — spread (0.0-coercion), event timestamp
    * (two-format parse + nanos sidecar), display projection. */
  def derive(parsed: DataFrame, displayZone: String = "UTC"): DataFrame = {
    val t = coalesce(col("tick.time"), col("heartbeat.time"))
    // price fidelity DEFAULT-ON (round-9, SURVEY §1.3 closed): the
    // DecimalType(18,6)-exact spread_dec ships ALONGSIDE the
    // reference-faithful f64 spread unless opted out with
    // spark.graft.spread.decimal=false — decimal is the 100 TB posture
    // (exact under aggregation), f64 stays for reference parity and is
    // untouched either way (property-pinned)
    val decimalKnob = parsed.sparkSession.conf
      .getOption("spark.graft.spread.decimal").forall(_.toBoolean)
    val withSpread = parsed
      .withColumn("spread",
        when(col("message_type") === "price_tick",
          OandaColumns.spread(col("tick.closeout_ask"), col("tick.closeout_bid"))))
    (if (decimalKnob)
      withSpread.withColumn("spread_dec",
        when(col("message_type") === "price_tick",
          OandaColumns.spreadDecimal(col("tick.closeout_ask"), col("tick.closeout_bid"))))
    else withSpread)
      .withColumn("event_ts", OandaColumns.parseEventTime(t))
      .withColumn("time_nanos", when(t.isNotNull, OandaColumns.timeNanos(t)))
      .withColumn("display_time", OandaColumns.displayTime(col("event_ts"), displayZone))
  }

  /** P11: the reference's verbose console projection (`main.rs:83-85,105-107`). */
  def consoleProjection(derived: DataFrame): DataFrame =
    derived.select(
      when(col("message_type") === "price_tick",
        OandaColumns.consoleLine(col("display_time"), col("tick.instrument"),
          col("tick.closeout_ask"), col("tick.closeout_bid"), col("spread")))
        .when(col("message_type") === "heartbeat",
          concat_ws(" ", col("display_time"), lit("HEARTBEAT")))
        .as("line"))
      .filter(col("line").isNotNull)

  /** P12-P13: wire projection + protobuf encode (envelope with oneof set per
    * message_type, `main.rs:87-91,109-113`). Unknown/malformed rows get null
    * bytes — callers split them to the dead-letter side (P15). */
  def toWire(derived: DataFrame): DataFrame =
    derived.withColumn("proto",
      when(col("message_type") === "price_tick",
        graft.proto.ProtoFunctions.encodePriceTickEnvelope(
          col("tick"), col("event_ts"), col("time_nanos")))
        .when(col("message_type") === "heartbeat",
          graft.proto.ProtoFunctions.encodeHeartbeatEnvelope(
            col("heartbeat"), col("event_ts"), col("time_nanos"))))

  /** Full batch/streaming plan: parse → derive → wire. */
  def pipeline(lines: DataFrame, displayZone: String = "UTC"): DataFrame =
    toWire(derive(parse(lines), displayZone))
}
