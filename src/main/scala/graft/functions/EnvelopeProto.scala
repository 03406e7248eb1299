package graft.functions

import scala.annotation.switch
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EnvelopeSchema

/** The dropsonde protobuf WIRE codec — the reference's true O2 input
  * format (`proto.Unmarshal`, noaa async.go:274-280), implemented
  * directly against the public protobuf wire spec (varint / fixed64 /
  * length-delimited) since no protobuf runtime ships with the Spark
  * distribution.
  *
  * The wire layout is one table, [[EnvelopeProto.fieldNumbers]]: the
  * sonde-go field number of every [[EnvelopeSchema]] field. Each
  * field's wire type and conversion follow from its Catalyst type
  * (Int/Long varint, Double fixed64, String/Binary/struct
  * length-delimited, `array<string>` a repeated string field,
  * `map<string,string>` repeated `{key=1, value=2}` entries), so one
  * generic encoder and one generic decoder serve all eight messages.
  *
  * Decode skips unknown fields by wire type (forward compatible) and
  * returns NULL on any malformed frame — the reference's
  * silently-skip policy. uint64 fields ride Scala Long two's
  * complement, same convention as the JSON codec.
  *
  * Round-trip law (tested): `proto_decode(envelope_proto(e)) == e`.
  */
case class EnvelopeProtoEncode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if EnvelopeSchema.compatible(s, EnvelopeSchema.schema) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"envelope_proto requires the canonical Envelope struct, got ${other.simpleString}")
  }

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "envelope_proto"

  override protected def nullSafeEval(input: Any): Any =
    EnvelopeProto.encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EnvelopeProto.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): EnvelopeProtoEncode =
    copy(child = newChild)
}

case class EnvelopeProtoDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"envelope_proto_decode requires BINARY input, got ${other.simpleString}")
  }

  override def dataType: DataType = EnvelopeSchema.schema
  override def nullable: Boolean = true
  override def prettyName: String = "envelope_proto_decode"

  override protected def nullSafeEval(input: Any): Any =
    EnvelopeProto.decodeOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.EnvelopeProto.decodeOrNull(${c.value});
          ${ev.isNull} = (${ev.value} == null);
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): EnvelopeProtoDecode =
    copy(child = newChild)
}

object EnvelopeProto {

  /** The sonde-go field number of every field, one row per
    * [[EnvelopeSchema]] struct, in that struct's field order. */
  private val fieldNumbers: Map[StructType, Array[Int]] = Map(
    // origin eventType timestamp deployment job index ip tags |
    // httpStartStop logMessage valueMetric counterEvent error
    // containerMetric (envelope.pb.go:98-117)
    EnvelopeSchema.schema -> Array(1, 2, 6, 13, 14, 15, 16, 17, 7, 8, 9, 10, 11, 12),
    // startTimestamp stopTimestamp requestId peerType method uri
    // remoteAddress userAgent statusCode contentLength applicationId
    // instanceIndex instanceId forwarded (http.pb.go:217-233; 11 unused)
    EnvelopeSchema.httpStartStop -> Array(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 13, 14, 15),
    // low high (uuid.pb.go:23-27)
    EnvelopeSchema.uuid -> Array(1, 2),
    // message message_type timestamp app_id source_type source_instance
    // (log.pb.go:56-64)
    EnvelopeSchema.logMessage -> Array(1, 2, 3, 4, 5, 6),
    // name value unit (metric.pb.go)
    EnvelopeSchema.valueMetric -> Array(1, 2, 3),
    // name delta total (metric.pb.go)
    EnvelopeSchema.counterEvent -> Array(1, 2, 3),
    // source code message (error.pb.go)
    EnvelopeSchema.error -> Array(1, 2, 3),
    // applicationId instanceIndex cpuPercentage memoryBytes diskBytes
    // memoryBytesQuota diskBytesQuota (metric.pb.go)
    EnvelopeSchema.containerMetric -> Array(1, 2, 3, 4, 5, 6, 7))

  // Field kinds, one per Catalyst type: Strings = array<string>,
  // Tags = map<string,string>.
  private final val IntK = 0; private final val LongK = 1
  private final val DoubleK = 2; private final val StringK = 3
  private final val BinaryK = 4; private final val StructK = 5
  private final val StringsK = 6; private final val TagsK = 7
  /** Wire type by kind: varint 0, fixed64 1, length-delimited 2. */
  private val wireTypeOf = Array(0, 0, 1, 2, 2, 2, 2, 2)
  /** proto map entry fields. */
  private final val EntryKey = 1; private final val EntryValue = 2

  private def kindOf(dt: DataType): Int = dt match {
    case IntegerType => IntK
    case LongType => LongK
    case DoubleType => DoubleK
    case StringType => StringK
    case BinaryType => BinaryK
    case _: StructType => StructK
    case ArrayType(StringType, _) => StringsK
    case MapType(StringType, StringType, _) => TagsK
    case other => throw new IllegalArgumentException(s"no wire kind for $other")
  }

  /** One message's dispatch, precomputed from its schema and its
    * [[fieldNumbers]] row: per row index the field number, kind and
    * nested layout; the row indices in ascending field-number order
    * (the encode order); and field number → row index (-1 unknown). */
  private final class Layout(schema: StructType) {
    val number: Array[Int] = fieldNumbers(schema)
    val size: Int = schema.length
    require(number.length == size,
      s"${number.length} field numbers for the ${size}-field ${schema.simpleString}")
    require(number.distinct.length == size, s"duplicate field number in ${schema.simpleString}")
    val kind: Array[Int] = schema.fields.map(f => kindOf(f.dataType))
    val child: Array[Layout] = schema.fields.map(_.dataType match {
      case s: StructType => new Layout(s)
      case _ => null
    })
    val order: Array[Int] = number.indices.sortBy(number(_)).toArray
    val slot: Array[Int] = Array.tabulate(number.max + 1)(number.indexOf(_))
    /** Nesting levels, counting a tag entry as one. */
    val depth: Int = 1 + (child.filter(_ != null).map(_.depth) ++
      kind.filter(_ == TagsK).map(_ => 1)).maxOption.getOrElse(0)
  }

  private val envelope = new Layout(EnvelopeSchema.schema)

  // ---------------------------------------------------------------- encode

  // Per task thread, one unlocked buffer per nesting depth (envelope,
  // payload or tag entry, UUID): a nested message is built one level
  // down, then copied in behind its length. reset() keeps capacity.
  private val buffers = ThreadLocal.withInitial[Array[EnvelopeJsonWriter.Buffer]](
    () => Array.fill(envelope.depth)(new EnvelopeJsonWriter.Buffer))

  def encode(env: InternalRow): Array[Byte] = encodeMessage(envelope, env, buffers.get(), 0)

  /** Non-NULL fields in ascending field-number order; NULL ones are
    * omitted, present empty strings are written. */
  private def encodeMessage(m: Layout, r: InternalRow,
      bufs: Array[EnvelopeJsonWriter.Buffer], depth: Int): Array[Byte] = {
    val out = bufs(depth)
    out.reset()
    var j = 0
    while (j < m.order.length) {
      val i = m.order(j)
      val f = m.number(i)
      if (!r.isNullAt(i)) (m.kind(i): @switch) match {
        case IntK => writeTag(out, f, 0); writeVarint(out, r.getInt(i).toLong)
        case LongK => writeTag(out, f, 0); writeVarint(out, r.getLong(i))
        case DoubleK =>
          writeTag(out, f, 1)
          val bits = java.lang.Double.doubleToLongBits(r.getDouble(i))
          var b = 0
          while (b < 8) { out.write((bits >>> (8 * b)).toInt); b += 1 } // little-endian
        case StringK => writeBytes(out, f, r.getUTF8String(i).getBytes)
        case BinaryK => writeBytes(out, f, r.getBinary(i))
        case StructK =>
          val c = m.child(i)
          writeBytes(out, f, encodeMessage(c, r.getStruct(i, c.size), bufs, depth + 1))
        case StringsK =>
          val a = r.getArray(i)
          var k = 0
          while (k < a.numElements()) { writeBytes(out, f, a.getUTF8String(k).getBytes); k += 1 }
        case TagsK => // one entry message per pair, both sides always written
          val tags = r.getMap(i)
          val (ks, vs, entry) = (tags.keyArray(), tags.valueArray(), bufs(depth + 1))
          var k = 0
          while (k < tags.numElements()) {
            entry.reset()
            writeBytes(entry, EntryKey, ks.getUTF8String(k).getBytes)
            writeBytes(entry, EntryValue, vs.getUTF8String(k).getBytes)
            writeBytes(out, f, entry.toByteArray)
            k += 1
          }
      }
      j += 1
    }
    out.toByteArray
  }

  private def writeTag(out: EnvelopeJsonWriter.Buffer, field: Int, wireType: Int): Unit =
    writeVarint(out, ((field << 3) | wireType).toLong)

  private def writeVarint(out: EnvelopeJsonWriter.Buffer, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Length-delimited: strings, bytes and nested messages alike. */
  private def writeBytes(out: EnvelopeJsonWriter.Buffer, field: Int, b: Array[Byte]): Unit = {
    writeTag(out, field, 2)
    writeVarint(out, b.length.toLong)
    out.write(b)
  }

  // ---------------------------------------------------------------- decode

  private object Malformed
      extends RuntimeException("malformed proto frame", null, false, false)
  private def fail(): Nothing = throw Malformed

  /** Streaming cursor over one frame; all reads bounds-checked. */
  private final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (shift < 64) {
        if (pos >= end) fail()
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      fail()
    }
    def fixed64(): Long = {
      if (pos + 8 > end) fail()
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      v
    }
    // `end - pos` is a small non-negative Int, so the comparison cannot
    // wrap even when the length varint is near 2^63 (a crafted frame with
    // `pos + n` would overflow negative and pass, looping the decoder).
    def bytes(): Array[Byte] = {
      val n = varint()
      if (n < 0 || n > (end - pos).toLong) fail()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n.toInt)
      pos += n.toInt
      out
    }
    def sub(): Reader = {
      val n = varint()
      if (n < 0 || n > (end - pos).toLong) fail()
      val r = new Reader(buf, pos, pos + n.toInt)
      pos += n.toInt
      r
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint(); ()
      case 1 => fixed64(); ()
      case 2 => bytes(); ()
      case 5 => if (pos + 4 > end) fail() else pos += 4
      case _ => fail()
    }
  }

  def decodeOrNull(frame: Array[Byte]): InternalRow =
    try decodeMessage(envelope, new Reader(frame, 0, frame.length))
    catch { case scala.util.control.NonFatal(_) => null }

  /** A known field must arrive with its kind's wire type, or the frame
    * fails → NULL (proto.Unmarshal's rejection, not decoded garbage);
    * unknown fields skip by wire type. A repeated singular field
    * overwrites (last one wins); repeated `forwarded` / `tags` keep wire
    * order and are set only when non-empty. */
  private def decodeMessage(m: Layout, r: Reader): InternalRow = {
    val row = new GenericInternalRow(m.size)
    var repeated: Array[ArrayBuffer[Any]] = null // per row index, lazily
    while (r.hasMore) {
      val tag = r.varint()
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      val i = if (field >= 0 && field < m.slot.length) m.slot(field) else -1
      if (i < 0) r.skip(wt)
      else {
        val k = m.kind(i)
        if (wt != wireTypeOf(k)) fail()
        (k: @switch) match {
          case IntK => row.update(i, r.varint().toInt)
          case LongK => row.update(i, r.varint())
          case DoubleK => row.update(i, java.lang.Double.longBitsToDouble(r.fixed64()))
          case StringK => row.update(i, str(r, wt))
          case BinaryK => row.update(i, r.bytes())
          case StructK => row.update(i, decodeMessage(m.child(i), r.sub()))
          case StringsK | TagsK =>
            if (repeated == null) repeated = new Array[ArrayBuffer[Any]](m.size)
            if (repeated(i) == null) repeated(i) = new ArrayBuffer[Any]()
            if (k == StringsK) repeated(i) += str(r, wt)
            else readEntry(r.sub(), repeated(i))
        }
      }
    }
    if (repeated != null) for (i <- 0 until m.size) {
      val rep = repeated(i)
      if (rep != null) row.update(i,
        if (m.kind(i) == StringsK) new GenericArrayData(rep.toArray)
        else { // entries are stored key, value, key, value, ...
          val n = rep.length / 2
          ArrayBasedMapData(Array.tabulate[Any](n)(j => rep(2 * j)),
            Array.tabulate[Any](n)(j => rep(2 * j + 1)))
        })
    }
    row
  }

  private def str(r: Reader, wt: Int): UTF8String =
    if (wt != 2) fail() else UTF8String.fromBytes(r.bytes())

  /** One map entry, appended as key then value. Go proto yields the zero
    * value "" for an absent entry field, so a missing key or value still
    * materializes as "". */
  private def readEntry(e: Reader, into: ArrayBuffer[Any]): Unit = {
    var k: UTF8String = UTF8String.EMPTY_UTF8
    var v: UTF8String = UTF8String.EMPTY_UTF8
    while (e.hasMore) {
      val t = e.varint()
      val wt = (t & 7).toInt
      (t >>> 3).toInt match {
        case EntryKey => k = str(e, wt)
        case EntryValue => v = str(e, wt)
        case _ => e.skip(wt)
      }
    }
    into += k; into += v
  }
}
