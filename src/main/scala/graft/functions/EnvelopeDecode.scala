package graft.functions

import scala.annotation.switch

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EnvelopeSchema
import graft.model.EnvelopeSchema.{BinaryK, DoubleK, IntK, LongK, StringK, StringsK, StructK, TagsK, ULongK}

/** `envelope_decode(json)` — the decode side of the canonical JSON
  * contract as a native expression (O2, the reference's deserialize
  * step; async.go:274-280).
  *
  * One Jackson tree pass per row, driven by the field kinds of
  * [[EnvelopeSchema.layout]] (shared with the JSON writer and the
  * protobuf codec):
  *  - proto uint64 fields arrive as unsigned decimals that can exceed
  *    Long.MaxValue; `BigInteger.longValue()` keeps the low 64 bits —
  *    exactly the two's-complement representation the model stores
  *    (and [[EnvelopeJsonWriter]] re-prints unsigned);
  *  - `logMessage.message` is the wire's base64 string → bytes;
  *  - any structural violation (non-JSON, wrong node type, bad
  *    base64) → NULL — the reference's silently-skip-malformed policy
  *    (DROPMALFORMED is a `filter(isNotNull)` downstream);
  *  - absent and explicit-null fields are NULL, matching the
  *    encoder's omit-if-absent contract.
  *
  * A native expression (not a `from_json` + struct-rebuild
  * composition) so the one implementation serves the Column API and
  * the SQL registry alike — a Column-DSL tree cannot be registered as
  * a SQL function, and the composition paid two passes per row.
  *
  * Round-trip law (tested): `decode(envelope_json(e)) == e` for every
  * envelope whose maps/arrays are in canonical order.
  */
case class EnvelopeDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"envelope_decode requires STRING input, got ${other.simpleString}")
  }

  override def dataType: DataType = EnvelopeSchema.schema
  override def nullable: Boolean = true
  override def prettyName: String = "envelope_decode"

  override protected def nullSafeEval(input: Any): Any =
    EnvelopeDecoder.parseOrNull(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.EnvelopeDecoder.parseOrNull(${c.value});
          ${ev.isNull} = (${ev.value} == null);
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): EnvelopeDecode =
    copy(child = newChild)
}

object EnvelopeDecoder {

  private val mapper = new ObjectMapper

  /** Fast-fail marker for structural violations: no stack trace, one
    * shared instance — malformed input is a data condition, not an
    * error path worth allocating on. */
  private object Malformed
      extends RuntimeException("malformed envelope", null, false, false)
  private def fail(): Nothing = throw Malformed

  /** Parse canonical Envelope JSON; any malformed input → null. */
  def parseOrNull(s: UTF8String): InternalRow =
    try {
      val root = mapper.readTree(s.getBytes)
      if (root == null || !root.isObject) null
      else convertStruct(root, EnvelopeSchema.layout)
    } catch { case scala.util.control.NonFatal(_) => null }

  private def convertStruct(node: JsonNode, l: EnvelopeSchema.Layout): InternalRow = {
    val row = new GenericInternalRow(l.size)
    var i = 0
    while (i < l.size) {
      val v = node.get(l.struct.fields(i).name)
      if (v != null && !v.isNull) row.update(i, convert(v, l, i))
      i += 1
    }
    row
  }

  /** Field `i` of `l` from its node, by the field's kind. */
  private def convert(n: JsonNode, l: EnvelopeSchema.Layout, i: Int): Any =
    (l.kind(i): @switch) match {
      case StringK =>
        if (n.isTextual) UTF8String.fromString(n.textValue()) else fail()
      case IntK =>
        if (n.isIntegralNumber && n.canConvertToInt) n.intValue() else fail()
      case LongK | ULongK =>
        // u64 two's-complement: BigInteger keeps values above Long.Max
        if (n.isIntegralNumber) n.bigIntegerValue().longValue() else fail()
      case DoubleK =>
        if (n.isNumber) n.doubleValue() else fail()
      case BinaryK =>
        if (n.isTextual) n.binaryValue() else fail() // throws on bad base64
      case StructK =>
        if (n.isObject) convertStruct(n, l.child(i)) else fail()
      case StringsK =>
        if (!n.isArray) fail()
        else {
          val out = new Array[Any](n.size())
          var k = 0
          while (k < n.size()) {
            val e = n.get(k)
            out(k) = if (e.isTextual) UTF8String.fromString(e.textValue()) else fail()
            k += 1
          }
          new GenericArrayData(out)
        }
      case TagsK =>
        if (!n.isObject) fail()
        else {
          val ks = Array.newBuilder[Any]
          val vs = Array.newBuilder[Any]
          val it = n.fields()
          while (it.hasNext) {
            val e = it.next()
            if (!e.getValue.isTextual) fail()
            ks += UTF8String.fromString(e.getKey)
            vs += UTF8String.fromString(e.getValue.textValue())
          }
          ArrayBasedMapData(ks.result(), vs.result())
        }
    }
}
