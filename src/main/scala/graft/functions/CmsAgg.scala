package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `cms_agg(h, depth, width)` — the Count-Min sketch (Cormode &
  * Muthukrishnan, J. Algorithms 2005): `depth` rows of `width` exact
  * integer counters; every input hash increments one counter per row,
  * and a point query reads the MINIMUM of its `depth` counters — an
  * OVERESTIMATE, never an under-estimate, with error ≤ εN at
  * probability 1−δ for width = e/ε, depth = ln(1/δ).
  *
  * Where Misra-Gries (q54) answers "which items are heavy?", CMS
  * answers "how often does item X occur?" for ANY X decided AFTER the
  * scan — the denylist/watchlist monitoring shape: summarize the
  * corpus once into depth·width longs (mergeable by elementwise add,
  * map-side combined, constant size at 100 TB), then answer ad-hoc
  * point queries without rescanning.
  *
  * Row hashing reuses the engine's universal-hash family over the
  * 60-bit md5-prefix domain (the q18 minhash mix): bucket_r(h) =
  * ((a_r · (h mod P) + b_r) mod P) mod width with P = 2^31−1,
  * a_r = (1103515245·(r+1)+12345) mod P, b_r = 977·(r+1) — every
  * operand < 2^31 so products stay in signed 64-bit, and the DuckDB
  * oracle replays the counters bit-for-bit (integer arithmetic only).
  *
  * Result: the flat row-major counter array (length depth·width) —
  * point-query lookups are plain `element_at` reads on the broadcast
  * scalar, so query evaluation needs no custom code at all.
  */
case class CmsAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayAggregate {

  require(depth >= 1 && depth <= 16 && width >= 2 && width <= (1 << 20),
    s"cms_agg: bad dimensions ($depth, $width)")

  private val P = 2147483647L // Mersenne prime 2^31-1, shared hash family

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_agg requires BIGINT input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val hm = v.asInstanceOf[Long] % P
      var r = 0
      while (r < depth) {
        val a = (1103515245L * (r + 1) + 12345L) % P
        val b = 977L * (r + 1)
        buf(r * width + ((a * hm + b) % P % width).toInt) += 1L
        r += 1
      }
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsAgg =
    copy(child = newChildren.head)
}
