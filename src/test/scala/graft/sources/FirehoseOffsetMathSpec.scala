package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** Offset arithmetic at the unbounded horizon (totalRows =
  * Long.MaxValue, the source default): saturating — never wrapping —
  * offsets and partition bounds.
  */
class FirehoseOffsetMathSpec extends AnyFunSuite {

  private def stream(total: Long, partitions: Int = 4) =
    new FirehoseMicroBatchStream(
      rowsPerBatch = 1000L, totalRows = total, partitions = partitions)

  test("ReadAllAvailable at an unbounded horizon does not regress the offset") {
    val st = stream(Long.MaxValue)
    val end = st.latestOffset(FirehoseOffset(5L), ReadLimit.allAvailable())
      .asInstanceOf[FirehoseOffset]
    // pre-fix: 5 + Long.MaxValue wrapped negative, regressing below start
    assert(end.rows === Long.MaxValue)

    val bounded = stream(10000L)
    val e2 = bounded.latestOffset(FirehoseOffset(9990L), ReadLimit.allAvailable())
      .asInstanceOf[FirehoseOffset]
    assert(e2.rows === 10000L)
  }

  test("maxRows never exceeds the horizon or wraps") {
    val st = stream(Long.MaxValue)
    val e = st.latestOffset(
        FirehoseOffset(Long.MaxValue - 3L), ReadLimit.maxRows(1000L))
      .asInstanceOf[FirehoseOffset]
    assert(e.rows === Long.MaxValue)
  }

  test("partition planning over a near-MaxValue span is exact and non-empty") {
    val st = stream(Long.MaxValue, partitions = 4)
    val parts = st.planInputPartitions(FirehoseOffset(3L), FirehoseOffset(Long.MaxValue))
      .map(_.asInstanceOf[FirehoseRange])
    // pre-fix: span*p overflowed and planned zero partitions
    assert(parts.nonEmpty)
    assert(parts.forall(r => r.until > r.from))
    // contiguous cover of [3, MaxValue) with no gaps or overlap
    assert(parts.head.from === 3L)
    assert(parts.last.until === Long.MaxValue)
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a.until === b.from)
      case _ => ()
    }
    assert(parts.map(r => r.until - r.from).sum === Long.MaxValue - 3L)
  }

  test("small spans still split without empty ranges") {
    val st = stream(10L, partitions = 4)
    val parts = st.planInputPartitions(FirehoseOffset(0L), FirehoseOffset(3L))
      .map(_.asInstanceOf[FirehoseRange])
    assert(parts.map(r => r.until - r.from).sum === 3L)
    assert(parts.forall(r => r.until > r.from))
  }
}
