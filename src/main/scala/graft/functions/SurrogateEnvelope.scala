package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EnvelopeSchema

/** `surrogate_envelope(event_id, ts_ns, user_id, event_type, value,
  * props)`: one surrogate event as a canonical Envelope
  * ([[EnvelopeSchema.schema]]), built by one node.
  *
  * The five surrogate types map onto five payload types; anything else,
  * NULL included, becomes the unknown fixture (eventType -1, no
  * payload, helper_test.go:101). Exactly one payload is non-null for a
  * known type — the tagged-union invariant:
  *
  *  - click → LogMessage(message = props as UTF-8 bytes, type OUT (1),
  *    timestamp = ts_ns, app_id = "app-" + user_id, source type DEA)
  *  - view → ValueMetric(name = event_type, value, unit "ms")
  *  - signup → CounterEvent(name = event_type, delta = user_id,
  *    total = event_id)
  *  - purchase → HttpStartStop(startTimestamp = ts_ns, applicationId =
  *    UUID(low = user_id, high = event_id))
  *  - error → Error(source = event_type, code 1, message = props)
  *
  * origin is "ev-" + event_type and timestamp is ts_ns; the other header
  * fields are NULL. A NULL input gives NULL wherever SQL's `concat` and
  * field copies would: a NULL event_type gives a NULL origin, a NULL
  * user_id a NULL app_id.
  *
  * Opaque to the optimizer on purpose: Catalyst does not inline it into
  * its consumers (as it does a `named_struct`), so a plan that reads
  * several fields computes it once. Codegen calls the static
  * [[SurrogateEnvelope.build]] once per row, so the projection stays in
  * whole-stage codegen.
  */
case class SurrogateEnvelope(children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType) == SurrogateEnvelope.inputTypes)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "surrogate_envelope requires (BIGINT, BIGINT, BIGINT, STRING, DOUBLE, STRING), got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def dataType: DataType = SurrogateEnvelope.dataType
  override def nullable: Boolean = false
  override def prettyName: String = "surrogate_envelope"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    def long(i: Int): Long = if (v(i) == null) 0L else v(i).asInstanceOf[Long]
    SurrogateEnvelope.build(v(0) == null, long(0), v(1) == null, long(1),
      v(2) == null, long(2), v(3).asInstanceOf[UTF8String],
      v(4) == null, if (v(4) == null) 0.0 else v(4).asInstanceOf[Double],
      v(5).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = children.map(_.genCode(ctx))
    def prim(e: ExprCode) = s"${e.isNull}, ${e.value}"
    def str(e: ExprCode) = s"${e.isNull} ? null : ${e.value}"
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
      ${c.map(_.code).reduce(_ + _)}
      $row ${ev.value} = graft.functions.SurrogateEnvelope.build(
        ${prim(c(0))}, ${prim(c(1))}, ${prim(c(2))}, ${str(c(3))}, ${prim(c(4))}, ${str(c(5))});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SurrogateEnvelope =
    copy(children = newChildren)
}

object SurrogateEnvelope {

  private val inputTypes: Seq[DataType] =
    Seq(LongType, LongType, LongType, StringType, DoubleType, StringType)

  /** [[EnvelopeSchema.schema]] with eventType never NULL. */
  val dataType: StructType = StructType(EnvelopeSchema.schema.fields.map(f =>
    if (f.name == "eventType") f.copy(nullable = false) else f))

  private def utf8(s: String) = UTF8String.fromString(s)
  private val Click = utf8("click"); private val View = utf8("view")
  private val Signup = utf8("signup"); private val Purchase = utf8("purchase")
  private val Error = utf8("error")
  private val Ev = utf8("ev-"); private val App = utf8("app-")
  private val Dea = utf8("DEA"); private val Ms = utf8("ms")
  private val One = Integer.valueOf(1)

  private def boxed(isNull: Boolean, v: Long): Any = if (isNull) null else v

  /** The envelope row of one surrogate event (see the class doc). */
  def build(idNull: Boolean, id: Long, tsNull: Boolean, ts: Long,
      userNull: Boolean, user: Long, et: UTF8String,
      valueNull: Boolean, value: Double, props: UTF8String): InternalRow = {
    val env = new Array[Any](14)
    env(0) = if (et == null) null else UTF8String.concat(Ev, et)
    env(2) = boxed(tsNull, ts)
    if (et == null) env(1) = -1
    else if (et == Click) {
      env(1) = 5
      env(9) = new GenericInternalRow(Array[Any](
        if (props == null) null else props.getBytes, One, boxed(tsNull, ts),
        if (userNull) null else UTF8String.concat(App, UTF8String.fromString(user.toString)),
        Dea, null))
    } else if (et == View) {
      env(1) = 6
      env(10) = new GenericInternalRow(Array[Any](et, if (valueNull) null else value, Ms))
    } else if (et == Signup) {
      env(1) = 7
      env(11) = new GenericInternalRow(Array[Any](et, boxed(userNull, user), boxed(idNull, id)))
    } else if (et == Purchase) {
      env(1) = 4
      val hss = new Array[Any](14)
      hss(0) = boxed(tsNull, ts)
      hss(10) = new GenericInternalRow(Array[Any](boxed(userNull, user), boxed(idNull, id)))
      env(8) = new GenericInternalRow(hss)
    } else if (et == Error) {
      env(1) = 8
      env(12) = new GenericInternalRow(Array[Any](et, One, props))
    } else env(1) = -1
    new GenericInternalRow(env)
  }
}
