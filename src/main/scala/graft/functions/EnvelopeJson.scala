package graft.functions

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.Arrays

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EnvelopeSchema
import graft.model.EnvelopeSchema.{BinaryK, DoubleK, IntK, LongK, StringK, StringsK, StructK, TagsK, ULongK}

/** `envelope_json(envelope_struct)` — the canonical byte-exact JSON
  * serialization of an Envelope (operator O8).
  *
  * Reproduces the reference's easyjson output contract
  * (encoder.go:15-18; events_easyjson.go:1061-1245) byte for byte:
  *
  *  - fields emitted only if non-null (maps/arrays/bytes: non-empty),
  *    in fixed proto field order;
  *  - enums as integers; `LogMessage.message` as std base64 w/ padding;
  *  - mixed naming: camelCase except LogMessage's snake_case;
  *  - uint64 fields (delta/total, UUID.low/high, *Bytes*) printed
  *    unsigned;
  *  - floats in Go `strconv.FormatFloat(f,'g',-1,64)` form (shortest
  *    round-trip digits, e-notation iff exp < -4 or >= 6, see [[EnvelopeJsonWriter.goFloat]]);
  *  - easyjson string escaping: `"` `\` ctrl chars, HTML `<` `>` `&`
  *    as `\u00XX`, U+2028/U+2029 escaped, broken UTF-8 → `�`.
  *
  * Codegen-able: the generated code makes one static call per row into
  * [[EnvelopeJsonWriter.encode]], which walks [[EnvelopeSchema.layout]]
  * (the field kinds shared with the decoder and the protobuf codec) by
  * field index and dispatches on int kinds built at init — no per-row
  * schema interpretation, no reflection, stays inside whole-stage codegen.
  */
case class EnvelopeJson(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if EnvelopeSchema.compatible(s, EnvelopeSchema.schema) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"envelope_json requires the canonical Envelope struct, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "envelope_json"

  override protected def nullSafeEval(input: Any): Any =
    EnvelopeJsonWriter.encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EnvelopeJsonWriter.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): EnvelopeJson =
    copy(child = newChild)
}

object EnvelopeJsonWriter {

  /** Growable byte buffer with no locking. The JDK's byte-array output
    * stream takes its monitor on every `write`; a buffer owned by one
    * task thread needs none, so bytes go straight into the array and
    * runs are copied with one `arraycopy`. */
  final class Buffer {
    private var buf = new Array[Byte](512)
    private var n = 0

    def reset(): Unit = n = 0
    def toByteArray: Array[Byte] = Arrays.copyOf(buf, n)

    private def ensure(more: Int): Unit =
      if (more > buf.length - n) buf = Arrays.copyOf(buf, math.max(2 * buf.length, n + more))

    def write(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }

    def write(src: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len)
      System.arraycopy(src, off, buf, n, len)
      n += len
    }

    def write(src: Array[Byte]): Unit = write(src, 0, src.length)

    /** Decimal digits of `v`, as `String.valueOf(v)` prints them. */
    def writeLong(v: Long): Unit = {
      if (v < 0) write('-')
      // digits are taken off -|v| <= 0, which also covers Long.MinValue
      val neg = if (v < 0) v else -v
      var len = 1
      var q = neg
      while (q <= -10) { q /= 10; len += 1 }
      ensure(len)
      var p = n + len
      q = neg
      while (p > n) { p -= 1; buf(p) = ('0' - q % 10).toByte; q /= 10 }
      n += len
    }

    /** `v` read as uint64, as `java.lang.Long.toUnsignedString` prints it. */
    def writeUnsignedLong(v: Long): Unit =
      if (v >= 0) writeLong(v)
      else {
        val q = java.lang.Long.divideUnsigned(v, 10)
        writeLong(q)
        write('0' + (v - 10 * q).toInt)
      }
  }

  // One buffer per task thread: reset() keeps its capacity, so the
  // steady state allocates only the row's result array (the encoder
  // runs 1.5M times per 500k events in q14).
  private val buffer = ThreadLocal.withInitial[Buffer](() => new Buffer)

  def encode(row: InternalRow): UTF8String = {
    val out = buffer.get()
    out.reset()
    writeStruct(out, EnvelopeSchema.layout, row)
    UTF8String.fromBytes(out.toByteArray)
  }

  // --- the one structural writer, walking EnvelopeSchema.layout -------

  // Each struct's JSON keys by field index, in an array indexed by layout
  // id: the schema's field names are the wire names. A key is stored as
  // `,"name":`; the first field written into an object skips the comma.
  private val structKeys: Array[Array[Array[Byte]]] = EnvelopeSchema.layouts
    .map(_.struct.fieldNames.map(name => s""","$name":""".getBytes(US_ASCII))).toArray

  /** Every kind rule in one place: NULL fields are omitted, and so are
    * empty binary, `array<string>` and map values; a present struct is
    * written even when all its fields are NULL; uint64 prints unsigned.
    * Fields go out in schema order, which is proto field order. */
  private def writeStruct(out: Buffer, l: EnvelopeSchema.Layout, r: InternalRow): Unit = {
    val k = structKeys(l.id)
    out.write('{')
    var first = true
    var i = 0
    while (i < l.size) {
      if (!r.isNullAt(i)) (l.kind(i): @switch) match {
        case IntK => first = key(out, k(i), first); out.writeLong(r.getInt(i))
        case LongK => first = key(out, k(i), first); out.writeLong(r.getLong(i))
        case ULongK => first = key(out, k(i), first); out.writeUnsignedLong(r.getLong(i))
        case DoubleK =>
          first = key(out, k(i), first)
          out.write(goFloat(r.getDouble(i)).getBytes(US_ASCII))
        case StringK => first = key(out, k(i), first); writeString(out, r.getUTF8String(i))
        case StructK =>
          // UUID stays {"low":…,"high":…}, never the dashed string
          // (kafka_test.go:572)
          val c = l.child(i)
          first = key(out, k(i), first)
          writeStruct(out, c, r.getStruct(i, c.size))
        case BinaryK =>
          val b = r.getBinary(i)
          if (b.length > 0) {
            first = key(out, k(i), first)
            out.write('"')
            out.write(java.util.Base64.getEncoder.encode(b))
            out.write('"')
          }
        case StringsK =>
          val a = r.getArray(i)
          if (a.numElements() > 0) { first = key(out, k(i), first); writeStringArray(out, a) }
        case TagsK =>
          val m = r.getMap(i)
          if (m.numElements() > 0) { first = key(out, k(i), first); writeTags(out, m) }
      }
      i += 1
    }
    out.write('}')
  }

  private def writeTags(out: Buffer, m: MapData): Unit = {
    // Go map iteration is randomized; we emit in the map column's
    // storage order (deterministic in Spark) — documented divergence.
    out.write('{')
    val keys = m.keyArray()
    val vals = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      if (i > 0) out.write(',')
      writeString(out, keys.getUTF8String(i))
      out.write(':')
      writeString(out, vals.getUTF8String(i))
      i += 1
    }
    out.write('}')
  }

  private def writeStringArray(out: Buffer, a: ArrayData): Unit = {
    out.write('[')
    var i = 0
    while (i < a.numElements()) {
      if (i > 0) out.write(',')
      writeString(out, a.getUTF8String(i))
      i += 1
    }
    out.write(']')
  }

  private def key(out: Buffer, k: Array[Byte], first: Boolean): Boolean = {
    if (first) out.write(k, 1, k.length - 1) else out.write(k)
    false
  }

  // --- Go-compatible float formatting --------------------------------

  /** strconv.FormatFloat(f, 'g', -1, 64): shortest digit string that
    * round-trips. For shortest-'g' Go pins eprec to 6
    * (strconv/ftoa.go `if shortest { eprec = 6 }`): e-notation iff
    * decimal exponent < -4 or >= 6, so 1e6 renders "1e+06" — NOT the
    * ES6/encoding-json -4..21 window. */
  def goFloat(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "+Inf"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-Inf"
    if (d == 0.0d) return if (1 / d < 0) "-0" else "0"
    val neg = d < 0
    val abs = math.abs(d)
    // A normal power of two sits at a binade edge: its lower neighbour
    // is half as far away as its upper one, so the correctly rounded
    // p-digit value can fall just below the round-trip interval while
    // the p-digit value above it is inside (2^-24 is 5.960464477539063e-08,
    // not 5.9604644775390625e-08).
    val bits = java.lang.Double.doubleToRawLongBits(abs)
    val binadeEdge = (bits & 0xfffffffffffffL) == 0 && (bits >>> 52) > 1
    val exact = new JBigDecimal(abs)
    // The p-digit form that parses back to abs, or null: the correctly
    // rounded one (half-even, like Ryu), or at a binade edge the one
    // rounded up.
    def fit(p: Int): JBigDecimal = {
      val near = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
      if (near.doubleValue() == abs) near
      else if (!binadeEdge) null
      else {
        val up = exact.round(new MathContext(p, RoundingMode.CEILING))
        if (up.doubleValue() == abs) up else null
      }
    }
    // Shortest round-trip digits: the least p with a fit. 17 digits
    // always fit.
    var p = 1
    var best = fit(p)
    while (best == null) { p += 1; best = fit(p) }
    val shortest = best.stripTrailingZeros()
    val digits = shortest.unscaledValue().toString
    val dp = digits.length - shortest.scale()
    val sb = new java.lang.StringBuilder(24)
    if (neg) sb.append('-')
    val exp = dp - 1
    if (exp < -4 || exp >= 6) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      sb.append('e')
      if (exp >= 0) sb.append('+') else sb.append('-')
      val ae = math.abs(exp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    } else if (dp <= 0) {
      sb.append("0.")
      var i = dp
      while (i < 0) { sb.append('0'); i += 1 }
      sb.append(digits)
    } else if (dp < digits.length) {
      sb.append(digits, 0, dp).append('.').append(digits, dp, digits.length)
    } else {
      sb.append(digits)
      var i = digits.length
      while (i < dp) { sb.append('0'); i += 1 }
    }
    sb.toString
  }

  // --- easyjson-compatible string escaping ---------------------------

  private val HEX = "0123456789abcdef".getBytes(US_ASCII)
  private val U00 = "\\u00".getBytes(US_ASCII)
  private val U202 = "\\u202".getBytes(US_ASCII)
  private val Replacement = "\\ufffd".getBytes(US_ASCII)

  // Per ASCII byte: 0 if it is copied as is, else the character that
  // follows the backslash ('u' for the \u00XX form).
  private val AsciiEscape: Array[Byte] = {
    val t = new Array[Byte](0x80)
    for (c <- 0 until 0x20) t(c) = 'u'.toByte
    for (c <- "<>&") t(c) = 'u'.toByte
    for ((c, e) <- Seq('\t' -> 't', '\r' -> 'r', '\n' -> 'n', '\\' -> '\\', '"' -> '"')) t(c) = e.toByte
    t
  }

  /** Byte-level escape matching jwriter.Writer.String with HTML
    * escaping on (the encoder uses default flags): `"` `\` ctrl chars,
    * `<` `>` `&` → \u00XX, U+2028/29 →  / , invalid UTF-8
    * byte → literal `�` escape. Every run of bytes that needs no
    * escape, valid multi-byte sequences included, is copied in one go. */
  def writeString(out: Buffer, s: UTF8String): Unit = {
    val bytes = s.getBytes
    val n = bytes.length
    out.write('"')
    var run = 0 // start of the pending run of bytes copied as they are
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 0x80) {
        val e = AsciiEscape(b)
        if (e != 0) {
          out.write(bytes, run, i - run)
          if (e == 'u') { out.write(U00); out.write(HEX(b >> 4)); out.write(HEX(b & 0xf)) }
          else { out.write('\\'); out.write(e) }
          run = i + 1
        }
        i += 1
      } else {
        val width = utf8Width(bytes, i)
        if (width < 0) {
          // broken UTF-8: one replacement escape per bad byte
          out.write(bytes, run, i - run)
          out.write(Replacement)
          i += 1
          run = i
        } else if (width == 3 && b == 0xe2 && (bytes(i + 1) & 0xff) == 0x80 &&
            ((bytes(i + 2) & 0xff) == 0xa8 || (bytes(i + 2) & 0xff) == 0xa9)) {
          // U+2028 / U+2029 (JSONP hazard)
          out.write(bytes, run, i - run)
          out.write(U202)
          out.write(HEX((bytes(i + 2) & 0xff) & 0xf))
          i += 3
          run = i
        } else i += width
      }
    }
    out.write(bytes, run, n - run)
    out.write('"')
  }

  /** Width of a valid UTF-8 sequence at offset, or -1 if invalid
    * (truncated, overlong, surrogate, or > U+10FFFF) — the cases Go's
    * utf8.DecodeRune reports as (RuneError, 1). */
  private def utf8Width(bytes: Array[Byte], off: Int): Int = {
    val n = bytes.length
    val b0 = bytes(off) & 0xff
    def cont(k: Int): Boolean =
      off + k < n && (bytes(off + k) & 0xc0) == 0x80
    if (b0 < 0xc2) -1 // 0x80..0xc1: stray continuation or overlong lead
    else if (b0 < 0xe0) {
      if (cont(1)) 2 else -1
    } else if (b0 < 0xf0) {
      if (!cont(1) || !cont(2)) -1
      else {
        val b1 = bytes(off + 1) & 0xff
        // overlong (e0 80..9f) and surrogates (ed a0..bf) invalid
        if (b0 == 0xe0 && b1 < 0xa0) -1
        else if (b0 == 0xed && b1 > 0x9f) -1
        else 3
      }
    } else if (b0 < 0xf5) {
      if (!cont(1) || !cont(2) || !cont(3)) -1
      else {
        val b1 = bytes(off + 1) & 0xff
        if (b0 == 0xf0 && b1 < 0x90) -1 // overlong
        else if (b0 == 0xf4 && b1 > 0x8f) -1 // > U+10FFFF
        else 4
      }
    } else -1
  }
}
