package graft.streaming

import java.util
import java.util.UUID
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.NozzlePipeline.Publisher

/** The retry/DLQ sink of [[NozzlePipeline.startDlq]] as a DSv2 streaming
  * write, built like Spark's Kafka sink: a micro-batch is one Spark job,
  * and the sink adds no plan of its own.
  *
  * Each task's [[PublishWriter]] publishes its rows with bounded retry
  * and writes the rows that exhaust it to one parquet file per query,
  * epoch and partition under `dlqPath`, through Spark's own parquet
  * `OutputWriter`. The driver adds the tasks' (ok, failed) commit
  * messages to [[Stats]] before the epoch's commit-log entry, so the
  * counts cover exactly the committed tasks. Everything driver-side
  * (the publisher, `Stats`) travels in this instance, which the query
  * gets as its sink object: no provider lookup or option string. */
final class PublishSink(
    spark: SparkSession,
    rowSchema: StructType,
    publisher: Publisher,
    repartitionMax: Int,
    stats: Stats,
    dlqPath: String) extends SupportsWrite {

  // prepared once per run from the session's Hadoop conf: the parquet
  // writer factory and the conf it set up. The conf is broadcast:
  // shipped inside each task, its ~1,100 entries (110 KB) took ~13 ms
  // to serialize and deserialize (4-core x86 host, JDK 17). `close`
  // frees it once the query has ended.
  private val (dlqWriter, hadoopConf) = {
    val job = Job.getInstance(Shims.newHadoopConf(spark))
    val w = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, PublishSink.dlqSchema)
    (w, spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
  }
  private val closed = new AtomicBoolean

  /** Destroys the broadcast Hadoop conf; no task may run after this. */
  def close(): Unit = if (closed.compareAndSet(false, true)) hadoopConf.destroy()

  override def name(): String = s"PublishSink[$dlqPath]"
  override def toString: String = name()
  override def schema(): StructType = rowSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)

  // one builder per run of the query; `queryId` is the id kept in the
  // checkpoint, so a restarted query writes under the same names
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    private val queryId = info.queryId()

    override def build(): Write = new Write {
      override def toStreaming(): StreamingWrite = new StreamingWrite {
        private var swept = false

        override def createStreamingWriterFactory(
            p: PhysicalWriteInfo): StreamingDataWriterFactory = {
          val s = info.schema()
          PublishWriterFactory(publisher, repartitionMax, dlqPath, queryId, dlqWriter, hadoopConf,
            s.fieldIndex("event_id"), s.fieldIndex("topic"), s.fieldIndex("payload"))
        }

        override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
          val done = messages.collect { case m: PublishCommit => m }
          // only a run's first epoch can replay one an earlier run left
          // uncommitted, perhaps over more partitions than this run has
          if (!swept) {
            val written = done.flatMap(m => Option(m.file)).map(new Path(_).getName).toSet
            sweep(queryId, epochId, written)
            swept = true
          }
          stats.publish.addAndGet(done.map(_.ok).sum)
          stats.publishFail.addAndGet(done.map(_.failed).sum)
        }

        // tasks that committed before the epoch failed have renamed their
        // DLQ file into place: take it back out, as nothing is counted
        override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
          messages.collect { case PublishCommit(_, _, f) if f != null => new Path(f) }
            .foreach(f => f.getFileSystem(hadoopConf.value.value).delete(f, false))
      }
    }
  }

  /** Deletes the DLQ files of `queryId` from `epochId` on that no task
    * of this commit wrote: what earlier runs wrote for epochs they did
    * not commit. */
  private def sweep(queryId: String, epochId: Long, kept: Set[String]): Unit = {
    val prefix = s"part-$queryId-"
    val dir = new Path(dlqPath)
    val fs = dir.getFileSystem(hadoopConf.value.value)
    // null when the directory does not exist yet
    Option(fs.globStatus(new Path(dir, prefix + "*.parquet"))).toSeq.flatten.map(_.getPath)
      .filter { p =>
        val n = p.getName
        !kept(n) && n.stripPrefix(prefix).takeWhile(_ != '-').toLongOption.exists(_ >= epochId)
      }
      .foreach(fs.delete(_, false))
  }
}

object PublishSink {
  /** The DLQ's parquet columns. */
  val dlqSchema: StructType = new StructType()
    .add("event_id", LongType).add("topic", StringType).add("payload", StringType)

  /** Starts `df` into a new sink (the body of [[NozzlePipeline.startDlq]])
    * and closes the sink when that run of the query ends. */
  def start(df: DataFrame, checkpoint: String, publisher: Publisher, repartitionMax: Int,
      stats: Stats, dlqPath: String): StreamingQuery = {
    val spark = df.sparkSession
    val sink = new PublishSink(spark, df.schema, publisher, repartitionMax, stats, dlqPath)
    val q = try Shims.startStream(df, sink, checkpoint, Trigger.AvailableNow())
      catch { case e: Throwable => sink.close(); throw e }
    val onEnd = new CloseOnEnd(spark, q.runId, sink)
    spark.streams.addListener(onEnd)
    // a run that ended before the listener was added posted its event unseen
    if (!q.isActive) onEnd.close()
    q
  }

  private final class CloseOnEnd(spark: SparkSession, runId: UUID, sink: PublishSink)
      extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.runId == runId) close()
    def close(): Unit = { spark.streams.removeListener(this); sink.close() }
  }
}

/** One task's outcome: rows delivered, rows sent to the DLQ, and the DLQ
  * file it committed (null when none failed). */
private[streaming] final case class PublishCommit(ok: Long, failed: Long, file: String)
  extends WriterCommitMessage

private[streaming] final case class PublishWriterFactory(
    publisher: Publisher,
    repartitionMax: Int,
    dlqPath: String,
    queryId: String,
    dlqWriter: OutputWriterFactory,
    hadoopConf: Broadcast[SerializableConfiguration],
    idAt: Int,
    topicAt: Int,
    payloadAt: Int) extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new PublishWriter(this, partitionId, taskId, epochId)
}

/** Publishes each row with up to `repartitionMax` retries and no pause
  * (kafka.go:230-275); a row that exhausts them goes to a dot-prefixed
  * temp file, hidden from parquet readers, that `commit` renames to
  * `part-<queryId>-<epochId>-<partitionId>.parquet`. A replayed epoch
  * thus replaces its file, queries sharing a DLQ directory never touch
  * each other's files, and the directory appears only once a row fails.
  * Only an `Exception` is retried; any other throwable fails the task,
  * and `abort` deletes the temp file. */
private[streaming] final class PublishWriter(
    f: PublishWriterFactory, partitionId: Int, taskId: Long, epochId: Long)
    extends DataWriter[InternalRow] {
  private var ok = 0L
  private var failed = 0L
  private var dlq: OutputWriter = null
  private val dlqRow = new GenericInternalRow(3)
  private val tmp = new Path(f.dlqPath, s".part-${f.queryId}-$epochId-$partitionId-$taskId.tmp")
  private val out = new Path(f.dlqPath, s"part-${f.queryId}-$epochId-$partitionId.parquet")
  private lazy val fs = out.getFileSystem(f.hadoopConf.value.value)

  override def write(row: InternalRow): Unit = {
    val topic = row.getUTF8String(f.topicAt)
    val payload = row.getUTF8String(f.payloadAt)
    val t = if (topic == null) null else topic.toString
    val p = if (payload == null) null else payload.toString
    var attempt = 0
    var sent = false
    while (!sent && attempt <= f.repartitionMax) {
      try { f.publisher.publish(t, p); sent = true }
      catch { case _: Exception => attempt += 1 }
    }
    if (sent) ok += 1
    else {
      failed += 1
      if (dlq == null) {
        val ctx = new TaskAttemptContextImpl(f.hadoopConf.value.value,
          new TaskAttemptID("graft-dlq", epochId.toInt, TaskType.MAP, partitionId, 0))
        dlq = f.dlqWriter.newInstance(tmp.toString, PublishSink.dlqSchema, ctx)
      }
      dlqRow.update(0, row.get(f.idAt, LongType))
      dlqRow.update(1, topic)
      dlqRow.update(2, payload)
      dlq.write(dlqRow)
    }
  }

  // a file an earlier run wrote for this epoch and partition is replaced
  // here; one this run does not rewrite goes in the driver's sweep
  override def commit(): WriterCommitMessage =
    if (dlq == null) PublishCommit(ok, failed, null)
    else {
      dlq.close()
      dlq = null
      fs.delete(out, false)
      if (!fs.rename(tmp, out)) throw new java.io.IOException(s"cannot rename $tmp to $out")
      PublishCommit(ok, failed, out.toString)
    }

  override def abort(): Unit =
    if (failed > 0) try { if (dlq != null) dlq.close() } finally {
      dlq = null
      fs.delete(tmp, false)
    }

  override def close(): Unit = ()
}
