package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.graftshim.Shims

/** Exactly-once foreachBatch delivery to a file ledger.
  *
  * Structured Streaming's contract is exactly-once STATE but
  * at-least-once SIDE EFFECTS: after a crash between a batch's
  * execution and its commit marker, the batch is REPLAYED with the
  * same `batchId` and the same deterministic content. A naive
  * append sink duplicates that batch; the production fix is an
  * idempotent writer keyed by `batchId` — the pattern this object
  * packages and `IdempotentSinkSpec` proves under a simulated crash.
  *
  * Layout: one `batch_id=<id>` directory per micro-batch (the ledger
  * doubles as a batch-partitioned table). A COMPLETE directory (its
  * `_SUCCESS` marker exists) is skipped on replay; an incomplete one
  * — the crash happened mid-write — is overwritten whole. Both
  * branches are idempotent because a replayed batch carries
  * identical rows, so "overwrite" and "skip" converge on the same
  * bytes.
  *
  * Scale posture: the existence probe is one driver-side metadata
  * call per micro-batch; the write is the batch's own parallelism.
  * Works against any Hadoop filesystem (local, HDFS, object stores
  * with a rename-consistent committer). File systems open with the
  * session's Hadoop conf, so Hadoop settings made on the session apply.
  */
object IdempotentSink {

  /** foreachBatch body writing `batch` to `<dir>/batch_id=<id>`
    * exactly once across replays. */
  def parquetWriter(dir: String): (Dataset[Row], Long) => Unit = {
    (batch: Dataset[Row], batchId: Long) =>
      val target = new Path(s"$dir/batch_id=$batchId")
      val fs = target.getFileSystem(
        Shims.newHadoopConf(batch.sparkSession))
      val complete = fs.exists(new Path(target, "_SUCCESS"))
      if (!complete)
        batch.write.mode("overwrite").parquet(target.toString)
  }

  /** foreachBatch body landing `batch` under `<dir>/batch_id=<id>`
    * with [[graft.ops.OutputLayout]]'s byte-bounded partitioned
    * layout — the streaming INGESTION landing: exactly-once across
    * replays (same skip-if-committed / overwrite-if-torn idempotency
    * as [[parquetWriter]]; a replayed batch carries identical rows
    * and the shard assignment is a pure hash of the id, so overwrite
    * and skip converge on the same bytes AND the same file layout)
    * and no small-files accumulation within a batch (each batch lands
    * Σ ceil(bytes/target) files, the minimum respecting the bound,
    * instead of shuffle-partitions × partition-dirs). The per-batch
    * layout plan costs one extra rollup over the micro-batch — batch-
    * sized, not corpus-sized. */
  def layoutWriter(dir: String, keys: Seq[String], bytesCol: String,
                   idCol: String, targetBytes: Long): (Dataset[Row], Long) => Unit = {
    (batch: Dataset[Row], batchId: Long) =>
      val target = new Path(s"$dir/batch_id=$batchId")
      val fs = target.getFileSystem(
        Shims.newHadoopConf(batch.sparkSession))
      val complete = fs.exists(new Path(target, "_SUCCESS"))
      if (!complete)
        graft.ops.OutputLayout.write(batch.toDF(), target.toString,
          keys, bytesCol, idCol, targetBytes)
  }

  /** Ledger compaction — the job every streaming ingestion eventually
    * runs: the batch ledger accumulates one directory per micro-batch
    * (thousands of small-batch dirs after a week of 1-minute
    * triggers), and downstream scans pay the listing + tiny-file tax.
    * Compact reads the COMMITTED batches ([[read]] — torn dirs stay
    * invisible) and lands them once through
    * [[graft.ops.OutputLayout]]: one byte-bounded partitioned corpus,
    * minimum file count respecting the bound. Deterministic (hash-of-
    * id shards), so re-running a compaction reproduces the same
    * layout; the ledger itself is left untouched — the caller swaps
    * readers and retires the ledger on its own schedule. Returns the
    * layout plan as the compaction manifest. */
  def compact(spark: org.apache.spark.sql.SparkSession, ledgerDir: String,
              outDir: String, keys: Seq[String], bytesCol: String,
              idCol: String, targetBytes: Long): DataFrame =
    graft.ops.OutputLayout.write(
      read(spark, ledgerDir).drop("batch_id"),
      outDir, keys, bytesCol, idCol, targetBytes)

  /** Sketch SIDECAR landing — the q229 algebra composed into the
    * streaming ingestion: alongside each batch's rows, land a
    * keys-sized frame of HLL register sketches (`hll_regs` of the
    * given 60-bit hash column, grouped by `keys`) under
    * `<dir>/_sketches/batch_id=<id>`, with the same skip-if-committed
    * / overwrite-if-torn idempotency as the data. Because register
    * max is associative/commutative/IDEMPOTENT, a replayed batch's
    * sketch lands identically, and ANY later rollup — per key, per
    * day, corpus-wide — is a [[graft.Functions.hll_union]] over the
    * committed sidecar rows: distinct-cardinality questions about
    * the landed corpus answered without ever rescanning it. */
  def sketchWriter(dir: String, keys: Seq[String], hashCol: String,
                   b: Int, inner: (Dataset[Row], Long) => Unit)
      : (Dataset[Row], Long) => Unit = {
    import org.apache.spark.sql.functions._
    (batch: Dataset[Row], batchId: Long) =>
      // two+ actions consume this frame (the inner landing and the
      // sidecar aggregation — three with layoutWriter's plan+write);
      // persist so the source scan runs once per trigger, the
      // standard foreachBatch multiple-actions discipline
      batch.persist()
      try {
        inner(batch, batchId)
        val target = new Path(s"$dir/_sketches/batch_id=$batchId")
        val fs = target.getFileSystem(
          Shims.newHadoopConf(batch.sparkSession))
        if (!fs.exists(new Path(target, "_SUCCESS")))
          batch.toDF()
            .groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("n_rows"),
              graft.Functions.hll_regs(col(hashCol), b).as("regs"))
            .coalesce(1)
            .write.mode("overwrite").parquet(target.toString)
      } finally { batch.unpersist(); () }
  }

  /** The committed sketch sidecars as one frame (same torn-batch
    * discipline as [[read]]); fold with `hll_union(regs, b)` for any
    * rollup. */
  def sketches(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    read(spark, s"$dir/_sketches")

  /** The ledger read back as one DataFrame — COMMITTED batches only.
    * A torn directory (crash mid-write, before the replay overwrote
    * it) has no `_SUCCESS` marker; globbing it in would surface
    * partial data, so reads list the ledger root (one driver-side
    * metadata listing — the ledger has one entry per micro-batch,
    * not per row) and keep only marker-bearing directories. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(Shims.newHadoopConf(spark))
    val committed = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.toString)
    // a zero-column emptyDataFrame would silently change schema for
    // callers that reference ledger columns — fail loudly instead:
    // an empty-but-existing ledger has no schema to offer
    if (committed.isEmpty)
      throw new IllegalStateException(
        s"IdempotentSink.read: no committed batch (batch_id=*/_SUCCESS) under $dir" +
          " — the ledger is empty or every batch directory is torn")
    spark.read.option("basePath", dir).parquet(committed: _*)
  }
}
