package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library freezing the reference's semantics-critical
  * derivations (SURVEY.md §2A P8-P10). These are the behaviors that are easy
  * to silently get wrong with a plain cast, so they live in one place and
  * are property-tested against a model of the reference behavior.
  */
object OandaColumns {

  /** Rust `str::parse::<f64>()` grammar: optional sign, then inf/infinity/
    * nan (any case) or a decimal/exponent number — NO surrounding
    * whitespace (Spark's cast would trim, silently widening the accepted
    * set). */
  private val rustF64 =
    "^[+-]?((?i)inf(inity)?|(?i)nan|(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?)$"

  /** One side of P8: parse exactly like rust `parse::<f64>().unwrap_or(0.0)`
    * (`/root/reference/src/main.rs:70-72`) — padded strings and garbage
    * coerce to 0.0 (not null), `inf`/`nan` spellings parse like rust.
    * The inf/nan probes are plain substring containment ("inf"/"nan" carry
    * no regex metacharacters), kept as `contains` so the common decimal
    * path pays ONE regex match, not three — this expression runs twice per
    * tick in the ingest hot path (round-7 throughput profile). */
  def parseF64Or0(c: Column): Column =
    when(!c.rlike(rustF64), lit(0.0))
      .when(contains(lower(c), lit("inf")), // ±inf/infinity
        when(c.startsWith("-"), lit(Double.NegativeInfinity))
          .otherwise(lit(Double.PositiveInfinity)))
      .when(contains(lower(c), lit("nan")), lit(Double.NaN))
      .otherwise(coalesce(c.try_cast("double"), lit(0.0)))

  /** P8 — bid/ask spread with the reference's 0.0-coercion: each side that
    * fails to parse as f64 coerces to 0.0, NOT null
    * (`/root/reference/src/main.rs:70-72`, `unwrap_or(0.0)`). A plain
    * `cast - cast` would null-propagate instead. */
  def spread(closeoutAsk: Column, closeoutBid: Column): Column =
    parseF64Or0(closeoutAsk) - parseF64Or0(closeoutBid)

  /** Decimal twin of [[parseF64Or0]] — the 100 TB price-fidelity upgrade
    * (SURVEY.md §1.3: FX prices are decimal strings on the wire; f64
    * accumulates representation error under aggregation at scale, while
    * `DecimalType(18,6)` is exact and still codegen'd). Coercion discipline
    * is the same unwrap_or(0)-shape: anything outside the rust-f64 grammar
    * coerces to 0, never null. Values INSIDE the f64 grammar that decimal
    * cannot represent (±inf/nan spellings, magnitude/precision beyond
    * (18,6)) also coerce to 0 — the documented representation trade of the
    * decimal arm (a pricing wire never carries them; the f64 arm remains
    * the reference-exact default). */
  def parseDecimalOr0(c: Column): Column = {
    val zero = lit(0).cast("decimal(18,6)")
    when(!c.rlike(rustF64), zero)
      .otherwise(coalesce(c.try_cast("decimal(18,6)"), zero))
  }

  /** P8, decimal arm — the DEFAULT sibling of the f64 [[spread]] since
    * round 9 (opt out with `spark.graft.spread.decimal=false`, read by
    * OandaPipeline.derive). */
  def spreadDecimal(closeoutAsk: Column, closeoutBid: Column): Column =
    parseDecimalOr0(closeoutAsk) - parseDecimalOr0(closeoutBid)

  /** Union grammar of the reference's two accepted shapes
    * (`/root/reference/src/main.rs:140-151`): RFC3339
    * (`chrono::DateTime::parse_from_rfc3339` — `T` separator, optional
    * 1-9-digit fraction, offset `Z`/`z`/`±HH:MM`) and the literal-Z
    * fractional pattern `%Y-%m-%dT%H:%M:%S%.fZ` (a subset of the former).
    * Date-only, space-separated, and zone-less strings — which a bare
    * timestamp cast would accept — are NOT in either grammar. */
  private val wireTimeGrammar =
    "^\\d{4}-\\d{2}-\\d{2}[Tt]\\d{2}:\\d{2}:\\d{2}(\\.\\d{1,9})?([Zz]|[+-]\\d{2}:\\d{2})$"

  /** P9 — two-format timestamp parse anchored to exactly the reference's
    * grammars (`main.rs:140-151`): shape-gated by [[wireTimeGrammar]], then
    * parsed by Spark's ISO-8601 cast (which covers the union, truncating the
    * fraction to µs). Anything outside the two grammars → null — the
    * reference errors those records out; callers route them to the
    * dead-letter side. */
  def parseEventTime(time: Column): Column =
    // RFC3339 allows lowercase t/z (chrono accepts them); Spark's cast wants
    // uppercase — translate the two marker letters, digits are unaffected.
    // Past the grammar gate only those markers can be lowercase letters, so
    // a time string without either skips the per-character translate.
    when(time.rlike(wireTimeGrammar),
      when(time.contains("t") || time.contains("z"), translate(time, "tz", "TZ"))
        .otherwise(time).try_cast("timestamp"))

  /** P9 fidelity sidecar — nanosecond component of the wire timestamp.
    * Spark TimestampType is µs; the proto carries nanos
    * (`main.rs:147-150`), so full fidelity keeps nanos alongside
    * (SURVEY.md §7.3#1). Extracted textually from the fractional part. */
  def timeNanos(time: Column): Column =
    coalesce(
      rpad(regexp_extract(time, "\\.(\\d{1,9})", 1), 9, "0").try_cast("int"),
      lit(0))

  /** P10 — display projection `YYYY-MM-dd HH:mm:ss` in a configured zone.
    * The reference formats in machine-local time (`main.rs:74-81`); the
    * engine makes the zone explicit (UTC default) for determinism —
    * documented deviation, SURVEY.md §7.3#3. */
  def displayTime(ts: Column, zone: String = "UTC"): Column =
    date_format(from_utc_timestamp(ts, zone), "yyyy-MM-dd HH:mm:ss")

  /** P11 — the reference's verbose console line for a tick:
    * `{time} {instrument} {ask} {bid} {spread:.5}` (`main.rs:84`). */
  def consoleLine(display: Column, instrument: Column, ask: Column,
      bid: Column, spreadCol: Column): Column =
    format_string("%s %s %s %s %.5f", display, instrument, ask, bid, spreadCol)
}
