package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `hist_agg(v, lo, hi, nbins)` — a mergeable fixed-width histogram
  * sketch: `nbins` equal buckets over `[lo, hi)`, out-of-range values
  * clamped into the edge buckets. This is the SCALE PATH for
  * distribution statistics (quantiles, CDFs, skew detection) that the
  * exact rank-select query (q56) cannot take at 100 TB when the group
  * count explodes: state is a constant `nbins` longs per group, updates
  * are one integer divide, and merge is an element-wise add — fully
  * map-side combinable and ASSOCIATIVE + COMMUTATIVE over exact
  * integers, so the result is bit-identical under any partitioning
  * (the same exactness discipline as `graft.ops.KMeans`: no float
  * state, no partition-order dependence).
  *
  * Quantile estimates read the cumulative histogram (smallest bucket
  * whose running count reaches ceil(q·N)) and quote the bucket's UPPER
  * bound — a deterministic integer rule with bucket-width error, which
  * is the textbook sketch trade and exactly replayable by the DuckDB
  * oracle as a width_bucket GROUP BY + running-sum window (q92).
  *
  * `hi − lo` must divide evenly by `nbins` so the bucket width is an
  * exact integer and both engines compute identical bucket ids; the
  * constructor rejects anything else loudly.
  */
case class HistAgg(
    child: Expression,
    lo: Long,
    hi: Long,
    nbins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayAggregate {

  require(nbins > 0 && nbins <= (1 << 20),
    s"hist_agg nbins must be in [1, 2^20], got $nbins")
  require(hi > lo, s"hist_agg needs lo < hi, got [$lo, $hi)")
  require((hi - lo) % nbins == 0,
    s"hist_agg range ${hi - lo} must divide evenly into $nbins buckets " +
      "(fractional widths would round differently across engines)")

  private val width: Long = (hi - lo) / nbins

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hist_agg requires BIGINT input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hist_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nbins)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      // clamp BEFORE dividing: lo < x < hi keeps (x - lo) overflow-free
      val b =
        if (x <= lo) 0
        else if (x >= hi) nbins - 1
        else ((x - lo) / width).toInt
      buf(b) += 1L
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistAgg =
    copy(child = newChildren.head)
}
