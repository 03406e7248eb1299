package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingles(t, k)` — the sorted distinct k-word shingle set of a
  * NORMALIZED (trimmed, single-spaced, `[a-z0-9 ]`) string;
  * `word_shingles3(t)` is its k = 3 alias.
  *
  * Because the input is single-spaced, every k-word shingle is a
  * CONTIGUOUS substring of `t`, so shingles are byte-range slices of
  * the one input buffer — byte-identical to the
  * `transform(sequence(...), i -> array_join(slice(words, i, k), ' '))`
  * HOF chain the DuckDB oracles mirror.
  *
  * `k` is a construction-time literal (like `kmv_kth`'s k): the span
  * width of decontamination and boilerplate detection is an operator
  * parameter, not data. Production decontamination runs k = 8-13
  * (GPT-3-style n-gram overlap); q47/q55 pin k = 3 at test scale where
  * longer spans never collide. Same zero-copy byte-slice construction
  * at any k: one boundary scan, one slice array, one sort, adjacent
  * dedup — fewer than k words → empty array.
  */
case class WordShinglesK(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1 || k > 256)
      TypeCheckResult.TypeCheckFailure(s"word_shingles k must be in [1, 256], got $k")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires STRING input, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShinglesK.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShinglesK.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesK =
    copy(child = newChild)
}

object WordShinglesK {
  private val empty = new GenericArrayData(Array.empty[Any])

  def shingles(t: UTF8String, k: Int): ArrayData = {
    val b = t.getBytes
    val n = b.length
    if (n == 0) return empty
    // word start offsets (input is trimmed + single-spaced)
    var words = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') words += 1; i += 1 }
    if (words < k) return empty
    val starts = new Array[Int](words)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < n) { if (b(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    // shingle i covers [starts(i), end of word i+k-1)
    val m = words - k + 1
    val arr = new Array[AnyRef](m)
    i = 0
    while (i < m) {
      val from = starts(i)
      val until = if (i + k < words) starts(i + k) - 1 else n
      arr(i) = UTF8String.fromBytes(b, from, until - from)
      i += 1
    }
    java.util.Arrays.sort(arr, (a: AnyRef, c: AnyRef) =>
      a.asInstanceOf[UTF8String].compareTo(c.asInstanceOf[UTF8String]))
    var out = 0
    i = 0
    while (i < m) {
      if (out == 0 || !arr(i).equals(arr(out - 1))) { arr(out) = arr(i); out += 1 }
      i += 1
    }
    new GenericArrayData(
      (if (out == m) arr else java.util.Arrays.copyOf(arr, out)).asInstanceOf[Array[Any]])
  }
}
