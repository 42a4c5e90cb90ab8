package graft.functions

import java.util.concurrent.atomic.LongAdder
import graft.model.OandaSchemas
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd fixed-schema parser for the two known OANDA wire shapes
  * (BASELINE.md §b2: `from_json` is CodegenFallback by Spark design, which
  * both evicts the parse projection from whole-stage codegen and pays
  * Jackson's generic-token machinery per line — the reference's entire WHAT
  * is this path, `oanda_client.rs:55-82`).
  *
  * Strategy: a hand-rolled recursive-descent parser over the line's UTF-8
  * BYTES, specialized to `OandaSchemas.wireSchema` — structural chars and
  * digits compare as bytes, unescaped string values slice the byte array
  * with zero transcoding. It accepts a line ONLY when its result is
  * provably identical to `from_json`'s; anything surprising (escape-in-key,
  * duplicate known key, type mismatch, number overflow, trailing garbage,
  * non-object root) BAILS to a thread-local [[JsonToStructs]] delegate with
  * the exact pipeline options — so the corrupt-record/partial-result
  * semantics stay Jackson's own, by construction. The bail is a shared
  * no-stack-trace exception: the fast path stays allocation-lean and the
  * slow path is the rare one.
  *
  * FastWireParseSpec proves value-equivalence against `from_json` over the
  * FIXTURES §A corpus plus generated mutations, and asserts the projection
  * plans INSIDE WholeStageCodegen (the fallback form cannot).
  */
object FastWireParser {

  /** Observability for specs/bench: fast-path hits vs Jackson fallbacks. */
  val fastHits = new LongAdder
  val fallbacks = new LongAdder

  private object Bail extends RuntimeException with scala.util.control.NoStackTrace

  private val fallbackParser: ThreadLocal[JsonToStructs] =
    ThreadLocal.withInitial(() => JsonToStructs(
      OandaSchemas.wireSchema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"),
      BoundReference(0, StringType, nullable = true),
      Some("UTC")))

  /** Entry point called from both eval and janino-generated code. */
  def parseOrFallback(line: UTF8String): InternalRow = {
    val fast =
      try new Parser(line.getBytes).parse()
      catch { case e if e.asInstanceOf[AnyRef] eq Bail => null }
    if (fast != null) { fastHits.increment(); fast }
    else {
      fallbacks.increment()
      fallbackParser.get().eval(new GenericInternalRow(Array[Any](line)))
        .asInstanceOf[InternalRow]
    }
  }

  // wireSchema slots: asks bids closeoutAsk closeoutBid instrument status
  //                   time type _corrupt_record
  private final class Parser(b: Array[Byte]) {
    private var p = 0
    private val n = b.length

    def parse(): InternalRow = {
      val out = new Array[Any](9)
      ws()
      expect('{')
      ws()
      if (peek() == '}') { p += 1 }
      else {
        var more = true
        while (more) {
          ws()
          val slot = key()
          ws(); expect(':'); ws()
          slot match {
            case -1 => skipValue() // unknown key: from_json ignores it too
            case 0 | 1 =>
              if (out(slot) != null) bail() // duplicate known key: Jackson decides
              out(slot) = levels()
            case s =>
              if (out(s) != null) bail()
              out(s) = stringOrNull()
          }
          ws()
          peek() match {
            case ',' => p += 1
            case '}' => p += 1; more = false
            case _ => bail()
          }
        }
      }
      ws()
      if (p != n) bail() // trailing content: let Jackson rule on it
      new GenericInternalRow(out)
    }

    /** Key of the current member: slot index for the 8 known wire names,
      * -1 for an unknown key (skipped). Escaped keys bail. */
    private def key(): Int = {
      expect('"')
      val start = p
      while (p < n && b(p) != '"') {
        if (b(p) == '\\' || (b(p) & 0xFF) < 0x20) bail()
        p += 1
      }
      if (p >= n) bail()
      val len = p - start
      p += 1 // closing quote
      def is(s: String): Boolean = {
        if (len != s.length) return false
        var i = 0
        while (i < len) { if (b(start + i) != s.charAt(i).toByte) return false; i += 1 }
        true
      }
      len match {
        case 4 => if (is("asks")) 0 else if (is("bids")) 1
          else if (is("time")) 6 else if (is("type")) 7 else -1
        case 11 => if (is("closeoutAsk")) 2 else if (is("closeoutBid")) 3 else -1
        case 10 => if (is("instrument")) 4 else -1
        case 6 => if (is("status")) 5 else -1
        case _ => -1
      }
    }

    /** JSON string value, or null literal. A non-string, non-null token for
      * a string-typed field bails (JacksonParser captures e.g. a number
      * token as its raw text for StringType — delegate for exactness). */
    private def stringOrNull(): UTF8String =
      if (peek() == 'n') { literal("null"); null }
      else if (peek() == '"') str()
      else bail()

    private def str(): UTF8String = {
      expect('"')
      val start = p
      var hasEscape = false
      while (p < n && b(p) != '"') {
        val c = b(p) & 0xFF
        if (c < 0x20) bail() // raw control char: strict JSON rejects
        if (b(p) == '\\') {
          hasEscape = true
          p += 2 // skip escaped char (incl. the '"' of \")
        } else p += 1
      }
      if (p >= n) bail()
      val end = p
      p += 1
      if (!hasEscape) UTF8String.fromBytes(b, start, end - start)
      else UTF8String.fromString(
        unescape(new String(b, start, end - start, java.nio.charset.StandardCharsets.UTF_8)))
    }

    private def unescape(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) bail()
          s.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' =>
              if (i + 6 > s.length) bail()
              val h = s.substring(i + 2, i + 6)
              val cp = try Integer.parseInt(h, 16) catch { case _: NumberFormatException => bail() }
              sb.append(cp.toChar); i += 6
            case _ => bail()
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    /** asks/bids: array of {price: string, liquidity: int} level objects
      * (unknown keys inside a level are skipped, like Jackson). */
    private def levels(): GenericArrayData = {
      if (peek() == 'n') { literal("null"); return null }
      expect('[')
      ws()
      val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      if (peek() == ']') { p += 1; return new GenericArrayData(rows.toArray[Any]) }
      var more = true
      while (more) {
        ws()
        rows += level()
        ws()
        peek() match {
          case ',' => p += 1
          case ']' => p += 1; more = false
          case _ => bail()
        }
      }
      new GenericArrayData(rows.toArray[Any])
    }

    private def level(): InternalRow = {
      expect('{')
      var price: UTF8String = null
      var liq: Any = null
      var sawPrice = false
      var sawLiq = false
      ws()
      if (peek() == '}') { p += 1; return new GenericInternalRow(Array[Any](null, null)) }
      var more = true
      while (more) {
        ws()
        expect('"')
        val start = p
        while (p < n && b(p) != '"') {
          if (b(p) == '\\' || (b(p) & 0xFF) < 0x20) bail()
          p += 1
        }
        if (p >= n) bail()
        val len = p - start
        p += 1
        ws(); expect(':'); ws()
        if (len == 5 && b(start) == 'p' && b(start + 1) == 'r' && b(start + 2) == 'i'
          && b(start + 3) == 'c' && b(start + 4) == 'e') {
          if (sawPrice) bail()
          sawPrice = true
          price = stringOrNull()
        } else if (len == 9 && b(start) == 'l' && b(start + 1) == 'i' && b(start + 2) == 'q'
          && b(start + 3) == 'u' && b(start + 4) == 'i' && b(start + 5) == 'd'
          && b(start + 6) == 'i' && b(start + 7) == 't' && b(start + 8) == 'y') {
          if (sawLiq) bail()
          sawLiq = true
          liq = longOrNull()
        } else skipValue()
        ws()
        peek() match {
          case ',' => p += 1
          case '}' => p += 1; more = false
          case _ => bail()
        }
      }
      new GenericInternalRow(Array[Any](price, liq))
    }

    /** Plain integer (optional minus, ≤18 digits — always Long-safe; longer
      * or fractional/exponent forms bail: Jackson's INT-token-only rule for
      * LongType must decide those). Returns boxed Long or null. */
    private def longOrNull(): Any = {
      if (peek() == 'n') { literal("null"); return null }
      var neg = false
      if (peek() == '-') { neg = true; p += 1 }
      var v = 0L
      var digits = 0
      while (p < n && b(p) >= '0' && b(p) <= '9') {
        v = v * 10 + (b(p) - '0')
        digits += 1
        p += 1
      }
      if (digits == 0 || digits > 18) bail()
      // leading zero ("007") is invalid JSON — Jackson must rule on it
      if (digits > 1 && b(p - digits) == '0') bail()
      if (p < n && (b(p) == '.' || b(p) == 'e' || b(p) == 'E')) bail()
      java.lang.Long.valueOf(if (neg) -v else v)
    }

    /** Skips any valid JSON value (unknown-key payloads); invalid JSON bails. */
    private def skipValue(): Unit = {
      ws()
      peek() match {
        case '"' => str(); ()
        case '{' =>
          p += 1; ws()
          if (peek() == '}') { p += 1; return }
          var more = true
          while (more) {
            ws(); str(); ws(); expect(':'); skipValue(); ws()
            peek() match {
              case ',' => p += 1
              case '}' => p += 1; more = false
              case _ => bail()
            }
          }
        case '[' =>
          p += 1; ws()
          if (peek() == ']') { p += 1; return }
          var more = true
          while (more) {
            skipValue(); ws()
            peek() match {
              case ',' => p += 1
              case ']' => p += 1; more = false
              case _ => bail()
            }
          }
        case 't' => literal("true")
        case 'f' => literal("false")
        case 'n' => literal("null")
        case c if c == '-' || (c >= '0' && c <= '9') =>
          // strict JSON number grammar — accepting anything looser would let
          // the fast path keep a line Jackson would mark corrupt
          if (peek() == '-') p += 1
          if (peek() == '0') p += 1
          else {
            if (peek() < '1' || peek() > '9') bail()
            while (p < n && b(p) >= '0' && b(p) <= '9') p += 1
          }
          if (p < n && b(p) == '.') {
            p += 1
            if (p >= n || b(p) < '0' || b(p) > '9') bail()
            while (p < n && b(p) >= '0' && b(p) <= '9') p += 1
          }
          if (p < n && (b(p) == 'e' || b(p) == 'E')) {
            p += 1
            if (p < n && (b(p) == '+' || b(p) == '-')) p += 1
            if (p >= n || b(p) < '0' || b(p) > '9') bail()
            while (p < n && b(p) >= '0' && b(p) <= '9') p += 1
          }
        case _ => bail()
      }
    }

    private def literal(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        if (p >= n || b(p) != s.charAt(i).toByte) bail()
        p += 1; i += 1
      }
    }

    private def ws(): Unit =
      while (p < n && (b(p) == ' ' || b(p) == '\t' || b(p) == '\n' || b(p) == '\r')) p += 1

    private def peek(): Byte = { if (p >= n) bail(); b(p) }

    private def expect(c: Char): Unit = {
      if (p >= n || b(p) != c.toByte) bail()
      p += 1
    }

    private def bail(): Nothing = throw Bail
  }
}

/** `parse_oanda_wire(value)` — drop-in replacement for the pipeline's
  * `from_json(value, wireSchema, PERMISSIVE)` with real `doGenCode` (one
  * static-helper call over the codegen'd child), so the parse projection
  * stays inside whole-stage codegen instead of being evicted by the
  * CodegenFallback `from_json` carries. */
case class ParseOandaWire(child: Expression) extends UnaryExpression {
  override def dataType: DataType = OandaSchemas.wireSchema
  override def nullable: Boolean = true
  override def prettyName: String = "parse_oanda_wire"

  override protected def nullSafeEval(input: Any): Any =
    FastWireParser.parseOrFallback(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FastWireParser.parseOrFallback($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

object ParseOandaWire {
  def parseWire(c: Column): Column = column(ParseOandaWire(expression(c)))
}

/** `levels_complete(levels)` — true iff a parsed `asks`/`bids` array is
  * non-null and every level has both a `price` and a `liquidity` (serde's
  * typed `PriceLevel`, `models.rs:10-13`, requires both). Same value as
  * `levels IS NOT NULL AND NOT exists(levels, x -> x.price IS NULL OR
  * x.liquidity IS NULL)`, but with real `doGenCode`: the higher-order
  * `exists` is CodegenFallback and would evict the pipeline's dispatch
  * projection from whole-stage codegen. */
case class LevelsComplete(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "levels_complete"

  override def eval(input: InternalRow): Any = {
    val levels = child.eval(input)
    levels != null && LevelsComplete.complete(levels.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} &&
        graft.functions.LevelsComplete.complete(${c.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

object LevelsComplete {
  private val price = OandaSchemas.priceLevelSchema.fieldIndex("price")
  private val liquidity = OandaSchemas.priceLevelSchema.fieldIndex("liquidity")
  private val width = OandaSchemas.priceLevelSchema.length

  def complete(levels: ArrayData): Boolean = {
    var i = 0
    while (i < levels.numElements()) {
      if (levels.isNullAt(i)) return false
      val level = levels.getStruct(i, width)
      if (level.isNullAt(price) || level.isNullAt(liquidity)) return false
      i += 1
    }
    true
  }

  def levelsComplete(levels: Column): Column = column(LevelsComplete(expression(levels)))
}
