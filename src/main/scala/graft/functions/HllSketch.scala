package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Which face of the [[HllSketch]] register kernel a SQL name exposes:
  * what it folds (60-bit hashes, or register arrays built by
  * `hll_regs`) and what it returns (the exact-integer S, or the
  * register array itself). */
sealed abstract class HllMode(
    val name: String, val registersIn: Boolean, val registersOut: Boolean)
    extends Serializable

object HllMode {
  /** `hll_agg(h, b)`: hashes in, S out. */
  case object Agg extends HllMode("hll_agg", registersIn = false, registersOut = false)
  /** `hll_regs(h, b)`: hashes in, the 2^b register array out. */
  case object Regs extends HllMode("hll_regs", registersIn = false, registersOut = true)
  /** `hll_union(regs, b)`: `hll_regs` arrays in, S out. */
  case object Union extends HllMode("hll_union", registersIn = true, registersOut = false)
}

/** HyperLogLog (Flajolet et al. 2007) over the engine's portable 60-bit
  * md5-prefix hash domain, with 2^b registers (b ∈ [4, 12]) — the one
  * register kernel behind `hll_agg`, `hll_regs` and `hll_union`; the
  * [[HllMode]] picks the input, the result and the `prettyName`.
  *
  * Register update: bucket = h mod 2^b, w = h div 2^b (a 60−b bit
  * value), rho(w) = leading-zero count of w within its 60−b bit field
  * + 1 (w = 0 → 60−b+1); register j keeps max rho. State is 2^b BYTES
  * — constant, associative, commutative, map-side combinable: the
  * shuffle carries 2^b bytes per group at ANY cardinality (vs KMV's
  * k longs, vs exact distinct's one row per value). This is the
  * sketch for per-group distinct users/tokens at 100 TB; q38's KMV
  * stays the choice when the k-th-minimum itself must be exact. The
  * serialized buffer is the register array itself.
  *
  * Determinism: the S result is the INTEGER `S = Σ_j 2^(maxrho − r_j)`
  * (maxrho = 60 − b + 1; empty registers contribute 2^maxrho) — S is
  * a sum of 2^b powers of two ≤ 2^61, exact in a BIGINT and exactly
  * reproducible by the oracle's GROUP BY/max replay, putting the
  * sketch itself under the hash-match gate (like KMV, unlike a
  * float-summed HLL). The classic estimate is the pure function
  * `E = alpha_m · m² · 2^maxrho / S`, computed OUTSIDE the sketch by
  * one double division of exact integers (identical IEEE sequence in
  * both engines). The small-range linear-counting correction is
  * intentionally omitted: it needs ln(), whose cross-engine bit
  * equality is not guaranteed — callers below ~5/2·m distinct should
  * use exact counting anyway.
  *
  * Sketch algebra: `hll_regs` keeps the register array as the
  * aggregate value (the byte layout landed as parquet), and
  * `hll_union` folds such arrays by the same register max into the
  * same S — register max is associative/commutative/idempotent, so
  * union-of-sketches ≡ sketch-of-union, bit for bit. Land
  * per-partition sketches once (per source, per day, per shard), then
  * answer ANY rollup by merging 2^b-byte rows, never rescanning the
  * corpus.
  */
case class HllSketch(
    child: Expression,
    b: Int,
    mode: HllMode,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  private val m = 1 << b
  private val maxRho = 60 - b + 1

  override def children: Seq[Expression] = Seq(child)

  // the mode shows as the prettyName, so plans print only the arguments
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, b, mutableAggBufferOffset, inputAggBufferOffset)

  override def checkInputDataTypes(): TypeCheckResult = {
    val input = if (mode.registersIn) BinaryType else LongType
    if (b < 4 || b > 12) TypeCheckResult.TypeCheckFailure(
      s"$prettyName b must be in [4, 12], got $b")
    else if (child.dataType == input) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${if (mode.registersIn) "BINARY register" else "BIGINT"} " +
        s"input, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = if (mode.registersOut) BinaryType else LongType
  override def nullable: Boolean = false
  override def prettyName: String = mode.name

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf
    else if (mode.registersIn) {
      val regs = v.asInstanceOf[Array[Byte]]
      require(regs.length == m,
        s"$prettyName expects 2^$b registers, got ${regs.length} — the b " +
          "argument must match the hll_regs that built the sketch")
      merge(buf, regs)
    } else {
      val h = v.asInstanceOf[Long]
      require(h >= 0 && h < (1L << 60),
        s"$prettyName expects hashes in [0, 2^60), got $h — feed the engine's " +
          "60-bit md5-prefix hashes")
      val j = (h & (m - 1)).toInt
      val w = h >>> b
      val rho = if (w == 0) maxRho else 60 - b - (63 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(j)) buf(j) = rho.toByte
      buf
    }
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var j = 0
    while (j < m) { if (other(j) > buf(j)) buf(j) = other(j); j += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any =
    if (mode.registersOut) buf.clone()
    else {
      var s = 0L
      var j = 0
      while (j < m) { s += 1L << (maxRho - buf(j)); j += 1 }
      s
    }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketch =
    copy(child = newChildren.head)
}
