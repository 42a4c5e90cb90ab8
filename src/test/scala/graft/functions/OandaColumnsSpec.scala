package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests (seeded generators) freezing the reference's
  * semantics-critical derivations against a behavioral model
  * (SURVEY.md §5.2#3).
  */
class OandaColumnsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Model of main.rs:70-72: rust `str::parse::<f64>().unwrap_or(0.0)`.
    * Rust's grammar: optional sign + (inf|infinity|nan any-case | decimal/
    * exponent form); surrounding whitespace is REJECTED (unlike a SQL cast,
    * which trims — so '  1.5  ' coerces to 0.0 here). */
  private def rustParseOr0(s: String): Double = {
    val ok = s.matches("^[+-]?((?i)inf(inity)?|(?i)nan|(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?)$")
    if (!ok) 0.0
    else java.lang.Double.parseDouble(
      s.replaceAll("(?i)^([+-]?)inf(inity)?$", "$1Infinity")
        .replaceAll("(?i)^([+-]?)nan$", "NaN"))
  }

  test("P8 spread ≡ reference unwrap_or(0.0) model over numeric and garbage strings") {
    val rnd = new scala.util.Random(42)
    val garbage = Seq("", "garbage", "1.2.3", "  1.5  ", "1e3", "-0.0", "007",
      " 2.5", "3.5 ", "inf", "-inf", "Infinity", "+infinity", "NaN", "nan", "0x12", ".5", "3.")
    val cases = (1 to 40).map(_ => (rnd.nextDouble() * 2e6 - 1e6).toString) ++ garbage
    val pairs = for (a <- cases; b <- garbage) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), OandaColumns.spread(col("a"), col("b")).as("s"))
      .collect()
    got.foreach { r =>
      val want = rustParseOr0(r.getString(0)) - rustParseOr0(r.getString(1))
      val g = r.getDouble(2)
      assert(g == want || (g.isNaN && want.isNaN),
        s"ask=${r.getString(0)} bid=${r.getString(1)} got=$g want=$want")
    }
  }

  test("P8 decimal arm: same coercion grammar, exact BigDecimal(18,6) values; f64 arm unaffected by the knob") {
    // model: in-grammar decimal forms → BigDecimal rounded half-up to 6 dp;
    // out-of-grammar, and in-grammar-but-unrepresentable (inf/nan/overflow)
    // → 0 (the documented decimal-arm trade)
    def model(s: String): BigDecimal = {
      val inGrammar = s.matches("^[+-]?((?i)inf(inity)?|(?i)nan|(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?)$")
      if (!inGrammar || s.toLowerCase.contains("inf") || s.toLowerCase.contains("nan")) BigDecimal(0)
      else {
        val bd = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        if (bd.precision - bd.scale > 12) BigDecimal(0) else bd // > (18,6) range
      }
    }
    val cases = Seq("1.08425", "-3.5", "0.0000005", "0.0000004", "1e3", "1.5E-8",
      "9999999999999.99", "99999999999999", "garbage", "  1.5  ", "inf", "-infinity",
      "nan", ".5", "3.", "007", "-0.0", "1.2345678")
    val pairs = for (a <- cases; b <- cases) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        OandaColumns.spreadDecimal(col("a"), col("b")).as("sd"),
        OandaColumns.spread(col("a"), col("b")).as("sf"))
      .collect()
    got.foreach { r =>
      val want = model(r.getString(0)) - model(r.getString(1))
      assert(BigDecimal(r.getDecimal(2)).compare(want) == 0,
        s"ask=${r.getString(0)} bid=${r.getString(1)} got=${r.getDecimal(2)} want=$want")
      // the f64 column computed in the SAME frame still matches the rust model
      val wantF = rustParseOr0(r.getString(0)) - rustParseOr0(r.getString(1))
      assert(r.getDouble(3) == wantF || (r.getDouble(3).isNaN && wantF.isNaN))
    }
  }

  test("P9 parse is total over both reference formats (rfc3339 offset + literal-Z fractional)") {
    val rnd = new scala.util.Random(7)
    val cases = for {
      _ <- 1 to 30
      n = rnd.nextInt(1000000000)
      off <- Seq("Z", "+00:00", "+02:00")
    } yield (f"2024-01-15T09:30:00.$n%09d$off", n)
    val rows = cases.map(_._1).toDF("t")
      .select(col("t"), OandaColumns.parseEventTime(col("t")).as("ts"),
        OandaColumns.timeNanos(col("t")).as("n"))
      .collect()
    val expect = cases.toMap
    rows.foreach { r =>
      assert(r.get(1) != null, s"failed to parse ${r.getString(0)}")
      assert(r.getInt(2) == expect(r.getString(0)))
    }
    // non-fractional forms parse too, nanos default 0
    val bare = Seq("2024-01-15T09:30:00Z").toDF("t")
      .select(OandaColumns.parseEventTime(col("t")), OandaColumns.timeNanos(col("t")))
      .collect().head
    assert(bare.get(0) != null && bare.getInt(1) == 0)
  }

  test("P9 unparseable time → null (routed to dead letter, not crash)") {
    val r = Seq("not-a-time").toDF("t")
      .select(OandaColumns.parseEventTime(col("t"))).collect().head
    assert(r.get(0) == null)
  }

  test("P9 accepts ONLY the reference's two grammars (main.rs:140-151)") {
    // the reference would error these out; a bare Spark timestamp cast
    // would accept them all — they must NOT acquire an event_ts
    val outside = Seq(
      "2024-01-15",                     // date-only
      "2024-01-15 09:30:00",            // space separator
      "2024-01-15T09:30:00",            // zone-less
      "2024-01-15T09:30:00+0200",       // offset without colon (not RFC3339)
      "2024-01-15T09:30:00.1234567890Z" // 10-digit fraction (chrono caps at 9)
    )
    outside.toDF("t").select(OandaColumns.parseEventTime(col("t")).as("ts"))
      .collect().foreach(r => assert(r.get(0) == null, r))
    // both reference grammars still parse
    val inside = Seq("2024-01-15T09:30:00Z", "2024-01-15t09:30:00z",
      "2024-01-15T09:30:00z", "2024-01-15t09:30:00Z",
      "2024-01-15T09:30:00.5Z", "2024-01-15T09:30:00-05:00")
    inside.toDF("t").select(col("t"), OandaColumns.parseEventTime(col("t")).as("ts"))
      .collect().foreach(r => assert(r.get(1) != null, r.getString(0)))
  }

  test("P10 display honors configured zone, not machine-local") {
    val r = Seq("2024-01-15T09:30:00Z").toDF("t")
      .select(
        OandaColumns.displayTime(OandaColumns.parseEventTime(col("t"))),
        OandaColumns.displayTime(OandaColumns.parseEventTime(col("t")), "America/New_York"))
      .collect().head
    assert(r.getString(0) == "2024-01-15 09:30:00")
    assert(r.getString(1) == "2024-01-15 04:30:00")
  }
}
