package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `gram3_agg(t)` — exact character-trigram counts over the fixed
  * normalized alphabet [a-z0-9 ] as one mergeable ARRAY<BIGINT>(37³).
  *
  * This is the aggregate form of the `char_ngrams(t, 3)` → groupBy
  * rollup (q194): instead of generating one row per text position and
  * probing a hash-aggregate per row, the update walks the UTF8 bytes
  * once and bumps `buf(c0·37² + c1·37 + c2)` — an array index, no
  * hashing, no per-position row. The trigram domain over the
  * normalized alphabet is CLOSED (37³ = 50,653), so state is a
  * constant ~405 KB per group, merge is element-wise add, and the
  * result is exact integers — associative + commutative, bit-identical
  * under any partitioning (the HistAgg discipline). Trigrams touching
  * a byte outside the alphabet are skipped (normalized input has
  * none; the rule keeps the kernel total).
  *
  * Char codes follow [[CharBag]]: a→0..z→25, 0→26..9→35, space→36.
  * Gram index i decodes as alphabet chars (i div 37², (i div 37) mod
  * 37, i mod 37) — consumers rebuild the gram string from a literal
  * alphabet, so the hot path never materializes strings.
  */
case class Gram3Agg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayAggregate {

  private val N = 37 * 37 * 37

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram3_agg requires STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "gram3_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](N)

  @inline private def code(b: Byte): Int =
    if (b >= 'a' && b <= 'z') b - 'a'
    else if (b >= '0' && b <= '9') 26 + (b - '0')
    else if (b == ' ') 36
    else -1

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var a = -1; var b = -1; var i = 0
      while (i < bytes.length) {
        val c = code(bytes(i))
        if (a >= 0 && b >= 0 && c >= 0) buf(a * 1369 + b * 37 + c) += 1L
        a = b; b = c; i += 1
      }
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): Gram3Agg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): Gram3Agg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Gram3Agg =
    copy(child = newChildren.head)
}
