package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `pq_adc(qv, codebook, codes, subDim, nSub)` — the asymmetric-
  * distance computation of a PQ search: for each of `nSub` subspaces,
  * look up the codebook centroid whose cid equals `codes[m]`, take the
  * squared L2 distance between the query's and the centroid's m-th
  * `subDim`-wide slice, and return the sequential sum of the nSub
  * per-subspace distances. `codebook` is the broadcast
  * `ARRAY<STRUCT<cid BIGINT, cv ARRAY<FLOAT|DOUBLE>>>` shape
  * [[PqCodes]] consumes; the lookup is keyed BY cid (the first entry
  * whose cid matches — never by array position, see the pqAdc
  * dropped-centroid note in SimilarityQueries).
  *
  * Numerically identical to the HOF formulation it replaces —
  * per subspace m:
  * `aggregate(zip_with(transform(slice(qv, m*sub+1, sub), x -> double(x)),
  *    slice(element_at(filter(cb, c -> c.cid = codes[m+1]), 1).cv,
  *          m*sub+1, sub),
  *    (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)`
  * summed by `aggregate(array(d_1 … d_nSub), 0D, (acc, v) -> acc + v)`
  * — elements widen to double, squared differences accumulate strictly
  * left-to-right, and the subspace distances add in subspace order
  * (the oracle's sequential folds). NULL semantics mirror the HOF
  * null-poisoning: a NULL input, a NULL/short `codes` array, a NULL
  * code, a cid with no codebook match, a NULL matched `cv`, a NULL
  * element in either slice, or slices of UNEQUAL length (zip_with's
  * null padding) all return NULL. A NULL codebook ENTRY is skipped by
  * the lookup, exactly as `filter`'s null predicate drops it. Both
  * slices empty (offset past both arrays) contributes 0.0, as
  * `aggregate` over an empty zip does.
  *
  * Why native: Catalyst evaluates the lambda towers one interpreted
  * call per element per row — the ADC tail is nSub·(K + 3·subDim)
  * lambda calls per row plus slice/struct allocations, the last
  * interpreted HOF on the q69/q70 corpus path after the encode moved
  * to [[PqCodes]]. This compiles to a tight loop behind one static
  * call inside whole-stage codegen.
  */
case class PqAdc(first: Expression, second: Expression, third: Expression,
    subDim: Int, nSub: Int) extends TernaryExpression {

  require(subDim >= 1, s"pq_adc subDim must be >= 1, got $subDim")
  require(nSub >= 1, s"pq_adc nSub must be >= 1, got $nSub")

  private def vecOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (q, ArrayType(StructType(Array(cid, cv)), _), ArrayType(LongType, _))
          if vecOk(q) && cid.dataType == LongType && vecOk(cv.dataType) =>
        TypeCheckResult.TypeCheckSuccess
      case (q, c, z) => TypeCheckResult.TypeCheckFailure(
        "pq_adc requires (ARRAY<FLOAT|DOUBLE>, " +
          "ARRAY<STRUCT<BIGINT, ARRAY<FLOAT|DOUBLE>>>, ARRAY<BIGINT>), got " +
          s"(${q.simpleString}, ${c.simpleString}, ${z.simpleString})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  @transient private lazy val qvFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val cvFloat: Boolean =
    second.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(1).dataType
      .asInstanceOf[ArrayType].elementType == FloatType

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Boxed so codegen can branch on null; the caller null-checks. */
  def compute(qvRaw: Any, cbRaw: Any, codesRaw: Any): Any = {
    val qv = qvRaw.asInstanceOf[ArrayData]
    val cb = cbRaw.asInstanceOf[ArrayData]
    val codes = codesRaw.asInstanceOf[ArrayData]
    if (codes.numElements() < nSub) return null
    val k = cb.numElements()
    val qLen = qv.numElements()
    var total = 0.0
    var m = 0
    while (m < nSub) {
      if (codes.isNullAt(m)) return null
      val code = codes.getLong(m)
      // first cid match wins; null entries / null cids are skipped,
      // exactly as filter's null lambda result drops them
      var cv: ArrayData = null
      var c = 0
      while (c < k && cv == null) {
        if (!cb.isNullAt(c)) {
          val entry = cb.getStruct(c, 2)
          if (!entry.isNullAt(0) && entry.getLong(0) == code) {
            if (entry.isNullAt(1)) return null // matched entry, NULL cv
            cv = entry.getArray(1)
          }
        }
        c += 1
      }
      if (cv == null) return null // no codebook match
      val off = m * subDim
      val la = math.max(0, math.min(subDim, qLen - off))
      val lb = math.max(0, math.min(subDim, cv.numElements() - off))
      if (la != lb) return null // zip_with would null-pad the short side
      // per-subspace partial folded from 0.0, THEN added to the total:
      // the HOF folds each subspace separately and sums the partials —
      // one continuous accumulator rounds differently (measured: 382
      // of ~2k rows off in the last ulp)
      var d2 = 0.0
      var i = 0
      while (i < la) {
        if (qv.isNullAt(off + i) || cv.isNullAt(off + i)) return null
        val x = elem(qv, off + i, qvFloat)
        val y = elem(cv, off + i, cvFloat)
        val diff = x - y
        d2 += diff * diff
        i += 1
      }
      total += d2
      m += 1
    }
    java.lang.Double.valueOf(total)
  }

  override protected def nullSafeEval(qv: Any, cb: Any, codes: Any): Any =
    compute(qv, cb, codes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    val tmp = ctx.freshName("adc")
    nullSafeCodeGen(ctx, ev, (q, c, z) =>
      s"""
        Object $tmp = $ref.compute($q, $c, $z);
        if ($tmp == null) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = ((java.lang.Double) $tmp).doubleValue();
        }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PqAdc =
    copy(first = newFirst, second = newSecond, third = newThird)
}
