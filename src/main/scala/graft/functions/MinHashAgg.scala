package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `minhash_agg(h)` — a typed imperative AGGREGATE computing the k
  * MinHash signature values over a stream of (already 2^31-1-reduced)
  * shingle hashes.
  *
  * This is the scale-right MinHash shape for 100 TB corpora: the
  * per-document shingle set never materializes as an array column —
  * shingles stream through `explode` and the aggregation buffer is a
  * fixed k-long vector updated with elementwise minima (map-side
  * partial aggregation included, like any Spark aggregate). The
  * array-based formulation in q18 holds the whole shingle set per row;
  * this one holds 12 longs per group regardless of document size.
  *
  * Hash family matches q18/DedupQueries exactly:
  * `mix_j(h) = ((1103515245·(j+1) + 12345) mod P) · h + 977·(j+1) mod P`
  * with `P = 2^31-1`, so signatures are verifiable against the same
  * DuckDB oracle formulation.
  */
case class MinHashAgg(
    child: Expression,
    k: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayAggregate {

  private val P = 2147483647L

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_agg requires BIGINT input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_agg"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < k) {
        val a = (1103515245L * (j + 1) + 12345L) % P
        val m = (a * h + 977L * (j + 1)) % P
        if (m < buf(j)) buf(j) = m
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var j = 0
    while (j < k) { if (other(j) < buf(j)) buf(j) = other(j); j += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.forall(_ == Long.MaxValue)) null // no input rows
    else new GenericArrayData(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}
