package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.{Connector, NozzleReader}

/** `graft-firehose-socket` — the NETWORK-backed variant of the
  * firehose source: a DataSource V2 micro-batch stream whose rows are
  * raw frames pulled by [[NozzleReader]] over a live RFC-6455
  * connection (dial → upgrade with the TokenFetcher token →
  * idle-deadline reads → backoff re-dial → refresh-on-401), the
  * lifecycle of the reference consumer (noaa async.go:228-351,
  * 372-406). Downstream decodes each frame (O2) and malformed frames
  * become NULL rows to drop: `envelope_decode` is the inverse of the
  * canonical JSON these text frames carry, and `envelope_proto_decode`
  * is the analogue of the reference's proto.Unmarshal over dropsonde
  * protobuf frames. A 1008 close counts one slow-consumer alert —
  * the O4 side channel, go-nozzle detector.go:70-90 — and re-dials;
  * the stream reports its running alert count as the source metric
  * [[FirehoseSocketSource.SlowConsumerAlertsMetric]], which
  * [[graft.streaming.NozzlePipeline.Listener]] folds into `Stats`.
  *
  * Design mirrors Spark's own TextSocketMicroBatchStream: a
  * driver-side daemon thread appends frames to a buffer; offsets are
  * frame counts; each micro-batch serves a buffered slice (one
  * partition — the transport is a single socket). Like Spark's socket
  * source, a live socket cannot replay before the buffer's origin, so
  * this source is for ingestion at the edge; the file/firehose replay
  * sources remain the checkpoint-recoverable path (SURVEY §7.4).
  *
  * Options: `host`, `port`, `idleTimeoutMs`, `rowsPerBatch`
  * (admission control), `backoffMinMs`/`backoffMaxMs`/`maxRetries`,
  * `uaa.addr`/`uaa.username`/`uaa.password` (token source),
  * `subscriptionId` (dial path `/firehose/<subscriptionId>`,
  * firehose.go:42-44), `filterType` — `logs` or `metrics` appends
  * `?filter-type=...` for server-side filtering (noaa
  * consumer/filter.go:3-20; unset = all envelopes, no query string).
  * WebSocket is the only transport: a `protocol` option other than
  * `ws` fails at stream creation.
  */
class FirehoseSocketSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-firehose-socket"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FirehoseSocketSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FirehoseSocketTable
}

object FirehoseSocketSource {
  val schema: StructType = StructType(Seq(
    StructField("frame", StringType, nullable = false)))

  /** Source-metric key of a stream's cumulative count of ws close-1008
    * slow-consumer alerts (the reference's stats.Inc(SlowConsumerAlert),
    * cli.go:299-303). */
  val SlowConsumerAlertsMetric = "slowConsumerAlerts"
}

private class FirehoseSocketTable extends Table with SupportsRead {
  override def name(): String = "graft-firehose-socket"
  override def schema(): StructType = FirehoseSocketSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = FirehoseSocketSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        // fail here, not after an upgrade against a non-ws server has
        // spent the whole backoff budget
        val protocol = options.getOrDefault("protocol", "ws")
        require(protocol == "ws",
          s"option 'protocol': only 'ws' is supported, got '$protocol'")
        new FirehoseSocketMicroBatchStream(
          host = options.getOrDefault("host", "127.0.0.1"),
          port = options.getInt("port", 0),
          idleTimeoutMs = options.getInt("idleTimeoutMs", 5000),
          rowsPerBatch = options.getLong("rowsPerBatch", 1000L),
          backoffMinMs = options.getLong("backoffMinMs", 500L),
          backoffMaxMs = options.getLong("backoffMaxMs", 60000L),
          maxRetries = options.getLong("maxRetries", 1000L),
          uaaAddr = options.getOrDefault("uaa.addr", "uaa.local"),
          username = options.getOrDefault("uaa.username", "anonymous"),
          password = options.getOrDefault("uaa.password", "anonymous"),
          // reference default: cli.go:44-46 DefaultSubscriptionID
          subscriptionId = options.getOrDefault("subscriptionId",
            "debug-kafka-firehose-nozzle"),
          filterType = options.getOrDefault("filterType", ""))
      }
    }
}

private class FirehoseSocketMicroBatchStream(
    host: String, port: Int, idleTimeoutMs: Int, rowsPerBatch: Long,
    backoffMinMs: Long, backoffMaxMs: Long, maxRetries: Long,
    uaaAddr: String, username: String, password: String,
    subscriptionId: String, filterType: String)
    extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics {

  // noaa's EnvelopeFilter enum: LogMessages | Metrics | allEnvelopes
  require(filterType == "" || filterType == "logs" || filterType == "metrics",
    s"option 'filterType' must be 'logs' or 'metrics', got '$filterType'")

  // Driver-side frame buffer. `base` is the global offset of
  // frames(0): committed batches are trimmed in commit(), so resident
  // memory is bounded by uncommitted frames (micro-batch size ×
  // in-flight batches), not the stream's lifetime. A restarted query
  // starts a fresh buffer and cannot replay earlier offsets — the
  // socket-source contract, same as Spark's own.
  require(port >= 1 && port <= 65535, s"option 'port' must be 1-65535, got $port")

  private val frames = new ArrayBuffer[String]()
  private var base = 0L
  // A restarted query resumes from the CHECKPOINTED offset while this
  // instance's buffer starts fresh: the origin must be re-aligned to
  // the restored offset on the first call, or every new frame would be
  // mislabeled as pre-restart data (served never, trimmed silently).
  private var originAligned = false
  @volatile private var stopped = false
  @volatile private var readerError: String = null
  private var readerThread: Thread = null
  private val liveSocket = new java.util.concurrent.atomic.AtomicReference[java.net.Socket]()
  private val alerts = new java.util.concurrent.atomic.AtomicLong

  // MUST run before ensureReader() on every entry path: alignment
  // while frames are provably empty closes the race where a fast
  // reader buffers n >= offset frames first, the old
  // `offset > base + n` guard skips re-basing, and the first `offset`
  // new frames land below the restored start — served never, trimmed
  // silently on the next commit().
  private def alignOrigin(offset: Long): Unit = frames.synchronized {
    if (!originAligned) {
      if (offset > base) base = offset
      originAligned = true
    }
  }

  private def ensureReader(): Unit = synchronized {
    if (readerThread == null) {
      val fetcher = new Connector.TokenFetcher(
        uaaAddr, username, password, () => s"token-for-$username")
      val backoff = new Connector.Backoff(backoffMinMs, backoffMaxMs, maxRetries)
      readerThread = new Thread(() => {
        // anything escaping the reader must surface as a query error,
        // never a silent idle stream
        try {
          NozzleReader.run(host, port, fetcher, backoff, idleTimeoutMs,
            Long.MaxValue,
            f => frames.synchronized { frames += f; () },
            _ => { alerts.incrementAndGet(); () },
            () => stopped,
            s => liveSocket.set(s),
            // the reference's stream path (firehose.go:42-44) +
            // optional server-side filter (filter.go:10-20)
            path = s"/firehose/$subscriptionId" +
              (if (filterType.nonEmpty) s"?filter-type=$filterType" else ""))
            .left.foreach(e => readerError = e)
        } catch {
          case _: InterruptedException if stopped => ()
          case t: Throwable => if (!stopped) readerError = t.toString
        }
      }, s"graft-socket-reader-$host:$port")
      readerThread.setDaemon(true)
      readerThread.start()
    }
  }

  override def initialOffset(): Offset = {
    alignOrigin(0L)
    ensureReader()
    SocketOffset(0L)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SocketOffset].rows
    alignOrigin(s) // before the reader can buffer anything (see above)
    ensureReader()
    // a dead reader fails the query instead of silently idling
    if (readerError != null)
      throw new IllegalStateException(s"socket reader failed: $readerError")
    val available = frames.synchronized(base + frames.length)
    val step = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _: ReadAllAvailable => Long.MaxValue // Trigger.Once drains the buffer
      case _ => rowsPerBatch
    }
    // cap the step BEFORE adding: step may be Long.MaxValue
    val capped = math.max(0L, math.min(step, available - s))
    SocketOffset(s + capped)
  }

  // Cumulative for the stream's life: Spark also asks on idle triggers
  // whose progress it may never post, so a per-call delta could be lost.
  override def metrics(latestConsumedOffset: util.Optional[Offset]): util.Map[String, String] =
    util.Map.of(FirehoseSocketSource.SlowConsumerAlertsMetric, alerts.get.toString)

  override def reportLatestOffset(): Offset =
    SocketOffset(frames.synchronized(base + frames.length))

  override def deserializeOffset(json: String): Offset =
    SocketOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SocketOffset].rows
    val e = end.asInstanceOf[SocketOffset].rows
    // restart-with-uncommitted-batch path: this runs BEFORE any
    // latestOffset call; the replayed [s, e) cannot be served from a
    // fresh buffer (socket contract) — align the origin to its end so
    // new frames take offsets from there
    alignOrigin(e)
    val slice = frames.synchronized {
      // clamp into the live window [base, base + length): a fresh
      // buffer after query restart cannot replay earlier offsets
      // (socket-source contract); serve what exists
      val from = math.min(math.max(s - base, 0L), frames.length.toLong).toInt
      val until = math.min(math.max(e - base, 0L), frames.length.toLong).toInt
      frames.slice(from, until).toArray
    }
    if (slice.isEmpty) Array.empty
    else Array(SocketFrames(slice))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val fs = partition.asInstanceOf[SocketFrames].frames
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < fs.length }
        override def get(): InternalRow = {
          val row = new GenericInternalRow(1)
          row.update(0, UTF8String.fromString(fs(i)))
          row
        }
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = {
    // processed-and-checkpointed frames can never be re-requested:
    // trim them so resident memory tracks the uncommitted window
    val e = end.asInstanceOf[SocketOffset].rows
    frames.synchronized {
      val drop = math.min(math.max(e - base, 0L), frames.length.toLong).toInt
      if (drop > 0) { frames.remove(0, drop); base += drop }
    }
  }

  override def stop(): Unit = {
    stopped = true
    // force prompt teardown: close the live socket so a blocked read
    // throws immediately (instead of holding the connection for up to
    // an idle timeout), and interrupt any backoff sleep
    val s = liveSocket.get()
    if (s != null) { try s.close() catch { case _: Exception => () } }
    val t = synchronized(readerThread)
    if (t != null) t.interrupt()
  }
}

private case class SocketOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

private case class SocketFrames(frames: Array[String]) extends InputPartition
