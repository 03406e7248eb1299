package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** A typed imperative aggregate whose buffer is a fixed-length
  * `Array[Long]` (`cms_agg`, `gram3_agg`, `hist_agg`, `minhash_agg`).
  *
  * The buffer codec is written once here: 8 bytes per element,
  * big-endian, no header. Streaming state stores persist these bytes,
  * so the layout must not change. `merge` defaults to element-wise add
  * (the counter sketches); `minhash_agg` overrides it with
  * element-wise min.
  */
abstract class LongArrayAggregate extends TypedImperativeAggregate[Array[Long]] {

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }
}
