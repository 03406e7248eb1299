package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `kmv_mins(h, k)` — the KMV (k-minimum-values) sketch as a SET: the
  * k smallest DISTINCT hash values seen, ascending. It is the one KMV
  * kernel: `kmv_kth(h, k)`, the distinct-count statistic (estimator
  * `D ≈ (k-1)·M / h_k` for hashes uniform on [0, M)), is
  * `try_element_at(kmv_mins(h, k), k)` — NULL when fewer than k
  * distinct values exist. The bottom-k SET also supports the
  * set-OPERATION estimators: for two sketches A, B with the bottom-k
  * of their union U = bottomk(A ∪ B), Jaccard ≈ |U ∩ A ∩ B| / |U| —
  * the classic KMV resemblance
  * estimator (Beyer et al., "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations", SIGMOD'07). Over the engine's shared
  * md5-prefix hash domain the sketch is EXACTLY reproducible in the
  * DuckDB oracle (bottom-k distinct is ORDER BY/LIMIT), so the q117
  * overlap matrix is under the hash-match gate, not a tolerance check.
  *
  * State is a bounded sorted set (≤ k longs), merged by union-and-trim
  * — associative, commutative, map-side combinable: per group only
  * k·8 bytes ever cross the wire regardless of source size, which is
  * the whole point at 100 TB (q113's exact matrix re-pairs documents;
  * this pairs fixed-size sketches).
  */
case class KmvMins(
    child: Expression,
    k: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_mins requires BIGINT input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_mins"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    buf.add(h)
    if (buf.size() > k) { buf.pollLast(); () }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  /** Ascending bottom-k (fewer if the group has < k distinct values —
    * the estimator then degrades to exact, which the q117 arithmetic
    * handles by dividing by the ACTUAL union-sketch size). */
  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size())
    bb.putInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMins =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMins =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMins =
    copy(child = newChildren.head)
}
