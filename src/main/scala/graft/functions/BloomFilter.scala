package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Shared bloom-filter kernel: `bloom_agg` builds the filter (an
  * aggregate over BIGINT keys), `bloom_contains` probes it (a scalar,
  * codegen'd). The filter wire format is `[k: 1 byte][bitset]`, so a
  * probe can never run with a hash count different from the build's.
  *
  * This is the explicit form of the runtime-filter pattern: build a
  * small-side bloom (a few MB regardless of corpus size), broadcast
  * the single binary row, and drop big-side rows map-side BEFORE the
  * exact semi-join's shuffle — at 100 TB the shuffle then carries only
  * the ~matching fraction plus the bloom's false positives (bits/n =
  * 16, k = 7 ⇒ ~0.04%) instead of the whole fact table. The exact
  * join afterwards removes false positives, so results are identical
  * to the plain semi-join (the oracle form).
  *
  * Hashing is double hashing `h1 + i·h2` over two mixes of the key
  * (splitmix64 finalizer — public-domain constant set), deterministic
  * and order-independent (inserts are idempotent bit-ORs), so the
  * built filter is stable across partitionings and merge orders.
  */
object Bloom {
  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def insert(buf: Array[Byte], key: Long): Unit = {
    val k = buf(0) & 0xff
    val m = (buf.length - 1).toLong * 8L
    val g1 = mix(key)
    val g2 = mix(key ^ 0x5555555555555555L) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(g1 + i * g2, m)
      buf(1 + (bit >>> 3).toInt) = (buf(1 + (bit >>> 3).toInt) | (1 << (bit & 7)).toByte).toByte
      i += 1
    }
  }

  def contains(buf: Array[Byte], key: Long): Boolean = {
    val k = buf(0) & 0xff
    val m = (buf.length - 1).toLong * 8L
    if (m == 0L) return false
    val g1 = mix(key)
    val g2 = mix(key ^ 0x5555555555555555L) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(g1 + i * g2, m)
      if ((buf(1 + (bit >>> 3).toInt) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** `bloom_agg(h, numBits, numHashes)` — aggregate a BIGINT key stream
  * into a bloom filter binary. `numBits`/`numHashes` are literal
  * construction parameters (like [[KmvMins]]'s k); the output is
  * deterministic for any input order/partitioning. An empty group
  * yields an all-zero filter (contains → false for every key), which
  * is the correct semi-join behavior for an empty build side. */
case class BloomAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int = 7,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg requires BIGINT input, got ${child.dataType.simpleString}")
    else if (numBits < 8 || numBits > (1 << 30))
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg numBits must be in [8, 2^30], got $numBits")
    else if (numHashes < 1 || numHashes > 32)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg numHashes must be in [1, 32], got $numHashes")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): Array[Byte] = {
    val buf = new Array[Byte](1 + (numBits + 7) / 8)
    buf(0) = numHashes.toByte
    buf
  }

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Bloom.insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 1
    while (i < buf.length) { buf(i) = (buf(i) | other(i)).toByte; i += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(child = newChildren.head)
}

/** `bloom_contains(bloom, key)` — probe a [[BloomAgg]] filter; the
  * map-side prefilter of the bloom semi-join. Never a false negative;
  * false positives at the filter's configured rate. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  // integral key types accepted directly (a custom expression gets no
  // implicit cast for a bare SQL int literal; AbstractDataType-based
  // coercion is private[sql] in Spark 4.1)
  private def keyOk(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && keyOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_contains requires (BINARY, integral key), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_contains"

  override protected def nullSafeEval(b: Any, k: Any): Any =
    Bloom.contains(b.asInstanceOf[Array[Byte]],
      k.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, k) =>
      s"${ev.value} = graft.functions.Bloom.contains($b, (long)($k));")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}
