package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-firehose` — a DataSource V2 micro-batch streaming source
  * standing in for the reference's firehose connector (O1/O2; noaa
  * async.go:104-112, 228-282).
  *
  * Where the reference holds a WebSocket and decodes protobuf frames,
  * this source deterministically synthesizes the same envelope
  * surrogate rows (the container has no firehose to dial): offsets are
  * row counts, each micro-batch covers `[start, end)` split into
  * `partitions` ranges, and every row is a pure function of its global
  * index — so replay after checkpoint recovery reproduces identical
  * data, which is exactly the at-least-once contract a real connector
  * must provide.
  *
  * The operational semantics the reference implements around its
  * socket live in the connector control plane:
  *  - auth (O18): the generator dials nothing, so it takes no
  *    credentials; the token fetch runs where a socket is dialed, in
  *    `graft-firehose-socket` ([[FirehoseSocketSource]]);
  *  - backpressure (O3/rate control): `rowsPerBatch` is admission
  *    control (SupportsAdmissionControl), the `maxOffsetsPerTrigger`
  *    analogue;
  *  - reconnect/backoff (O19): [[graft.streaming.Connector.Backoff]]
  *    governs re-dial in a network reader; the generator cannot drop a
  *    connection, so that policy is exercised in its own spec.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft-firehose")
  *   .option("rowsPerBatch", 1000).option("totalRows", 10000)
  *   .load()
  * }}}
  */
class FirehoseSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-firehose"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FirehoseSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FirehoseTable
}

object FirehoseSource {
  /** The events surrogate schema (ts as raw epoch-nanos long). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_ns", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  private val types = Array("click", "view", "signup", "purchase", "error")

  /** Deterministic row for a global index — replay-stable. */
  def rowAt(i: Long): InternalRow = {
    val row = new GenericInternalRow(6)
    row.update(0, i)
    row.update(1, 1704067200000000000L + i * 1000000L)
    row.update(2, (i * 1103515245L + 12345L) % 1000L)
    row.update(3, UTF8String.fromString(types((i % 5).toInt)))
    row.update(4, (i % 10000).toDouble / 100.0)
    row.update(5, UTF8String.fromString(s"""{"k": ${i % 100}}"""))
    row
  }
}

private class FirehoseTable extends Table with SupportsRead {
  override def name(): String = "graft-firehose"
  override def schema(): StructType = FirehoseSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = FirehoseSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FirehoseMicroBatchStream(
          rowsPerBatch = options.getLong("rowsPerBatch", 1000L),
          totalRows = options.getLong("totalRows", Long.MaxValue),
          partitions = options.getInt("partitions", 4))
    }
}

private case class FirehoseOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

private class FirehoseMicroBatchStream(
    rowsPerBatch: Long, totalRows: Long, partitions: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** AvailableNow support: freeze the horizon at prepare time;
    * admission control still paces batches up to it. */
  @volatile private var availableNowCap: Long = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = totalRows
  }

  override def initialOffset(): Offset = FirehoseOffset(0L)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FirehoseOffset].rows
    val step = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _: ReadAllAvailable => totalRows
      case _ => rowsPerBatch
    }
    // Saturating: with totalRows=Long.MaxValue a ReadAllAvailable step
    // makes s+step wrap negative for any s>0, regressing the offset
    // below start. Cap the step to the remaining span first, and never
    // return an offset below s.
    val capped = math.min(step, totalRows - s)
    FirehoseOffset(math.max(s, math.min(s + capped, availableNowCap)))
  }

  override def reportLatestOffset(): Offset = FirehoseOffset(totalRows)

  override def deserializeOffset(json: String): Offset =
    FirehoseOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FirehoseOffset].rows
    val e = end.asInstanceOf[FirehoseOffset].rows
    val n = math.max(1, partitions)
    val span = e - s
    // Balanced split without span*p (which overflows for near-MaxValue
    // spans): each partition gets span/n rows and the first span%n get
    // one extra; p*(span/n) ≤ span, so no intermediate exceeds span.
    val base = span / n
    val extra = span % n
    (0 until n).flatMap { p =>
      val from = s + p * base + math.min(p.toLong, extra)
      val until = s + (p + 1) * base + math.min((p + 1).toLong, extra)
      if (until > from) Some(FirehoseRange(from, until): InputPartition) else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val r = partition.asInstanceOf[FirehoseRange]
      new PartitionReader[InternalRow] {
        private var i = r.from - 1
        override def next(): Boolean = { i += 1; i < r.until }
        override def get(): InternalRow = FirehoseSource.rowAt(i)
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private case class FirehoseRange(from: Long, until: Long) extends InputPartition
