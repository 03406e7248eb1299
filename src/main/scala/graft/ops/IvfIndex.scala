package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index lifecycle — the storage half of the trained-IVF
  * contract (q72/q74's "at 100 TB cid is a partition column" posture,
  * made code): the corpus is written ONCE with the coarse assignment as
  * a physical partition column, and every query's probe scan then
  * partition-prunes to nprobe/k of the files before any byte is read.
  *
  * Write: one map-only assignment pass (plan-time centroid literals,
  * [[KMeans.assignExpr]]) + a partitioned parquet write. Rebuild is
  * per-retrain, not per-query. Probe: `spark.read` + `cid IN probes` —
  * Catalyst turns the predicate into PartitionFilters (pinned by
  * IvfIndexSpec), so the scan cost is probe-local at any corpus size.
  * The ADC/ranking stages compose on top unchanged.
  */
object IvfIndex {

  /** Materialize the index: (vec_id, q8) rows under cid=<assignment>
    * directories. */
  def write(qemb: DataFrame, model: Seq[KMeans.Centroid], path: String): Unit =
    qemb.select(col("vec_id"), col("q8"),
        KMeans.assignExpr(col("q8"), model).as("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Incremental index maintenance: assign a NEW batch with the same
    * frozen model and append it into the existing partition layout —
    * each batch row lands in its cid directory, probes see old + new
    * rows with no rebuild. (Model drift is the retrain trigger's job:
    * [[KMeans.aggregateStep]]'s streaming accumulation decides WHEN to
    * retrain; a retrain rewrites the index once, not per batch.) */
  def append(batch: DataFrame, model: Seq[KMeans.Centroid], path: String): Unit =
    batch.select(col("vec_id"), col("q8"),
        KMeans.assignExpr(col("q8"), model).as("cid"))
      .write.mode("append").partitionBy("cid").parquet(path)

  /** Probe scan: only the `probes` partitions are listed and read.
    * (The filter binds to the raw partition column BEFORE the cast so
    * it stays a PartitionFilter; directory-name inference types the
    * partition column INT, cast back to the model's LONG cids.)
    * Pending deletions ([[delete]]) are masked merge-on-read: the
    * tombstone side-table broadcasts into a left-anti join, so a
    * delete is visible immediately without touching index files. */
  def probe(spark: SparkSession, path: String, probes: Seq[Long]): DataFrame = {
    val base = spark.read.parquet(path).filter(col("cid").isin(probes: _*))
      .withColumn("cid", col("cid").cast(org.apache.spark.sql.types.LongType))
    tombstones(spark, path) match {
      case Some(t) => base.join(broadcast(t), Seq("vec_id"), "left_anti")
      case None => base
    }
  }

  // -------------------------------------------------------------------
  // Deletion lifecycle (right-to-be-forgotten on the landed index):
  // merge-on-read tombstones + partition-pruned copy-on-write compaction.
  // A 100 TB index cannot rewrite itself per deletion request; it also
  // cannot serve deleted vectors while waiting for a rewrite. So:
  // delete() lands ids in an underscore-prefixed side-table (invisible
  // to the index's own partition discovery — Spark's file listing
  // skips `_`-prefixed paths) and probes mask them immediately;
  // compact() then rewrites ONLY the cid partitions that actually hold
  // tombstoned vectors (located by a column-pruned (vec_id, cid) scan
  // — 16 bytes/row, no text/vector bytes read) and clears the side
  // table. Untouched partitions keep their files byte-for-byte.
  // -------------------------------------------------------------------

  private def tombDir(path: String): String = s"$path/_tombstones"

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(org.apache.spark.sql.graftshim.Shims.newHadoopConf(spark))

  /** Data files currently in the tombstone side-table. File-level (not
    * dir-level) listing so [[compact]] can snapshot exactly the set it
    * consumes and leave later-arriving files pending. */
  private def tombDataFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.Path] = {
    val td = new org.apache.hadoop.fs.Path(tombDir(path))
    val tfs = fs(spark, td)
    if (!tfs.exists(td)) Seq.empty
    else tfs.listStatus(td).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .toSeq
  }

  /** The pending-deletion set, if any deletes landed since the last
    * [[compact]]. Reads by explicit file list so a dir holding only a
    * leftover _SUCCESS marker reads as "no pending deletions". */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val files = tombDataFiles(spark, path)
    if (files.isEmpty) None else Some(spark.read.parquet(files.map(_.toString): _*))
  }

  /** Register deletions. Append-only and tiny (one long per deleted
    * vector); batches accumulate until [[compact]]. */
  def delete(spark: SparkSession, path: String, vecIds: Seq[Long]): Unit = {
    import spark.implicits._
    vecIds.toDF("vec_id").repartition(1)
      .write.mode("append").parquet(tombDir(path))
  }

  /** Copy-on-write compaction, partition-pruned: rewrite only the cid
    * partitions holding tombstoned vectors (dynamic partition
    * overwrite), drop partitions left empty, clear the consumed
    * tombstones. No-op when nothing is pending.
    *
    * Concurrency contract: the tombstone FILE set is snapshotted up
    * front and only those files are applied and removed — a [[delete]]
    * landing while compaction runs (the streaming tombstone path) stays
    * pending for the next compact instead of being discarded unapplied,
    * and probes keep masking it throughout via [[tombstones]]. */
  // test seam: ForgetArtifactsSpec injects a concurrent delete() between
  // the tombstone snapshot and its consumption to prove the late arrival
  // stays pending; receives the index path so a spec can scope its
  // injection to its own fixture (suites share the JVM); never set
  // outside tests
  private[graft] var afterSnapshotHook: Option[String => Unit] = None

  def compact(spark: SparkSession, path: String): Unit = {
    val consumed = tombDataFiles(spark, path)
    afterSnapshotHook.foreach(f => f(path))
    if (consumed.nonEmpty) {
      val tombs = broadcast(spark.read.parquet(consumed.map(_.toString): _*))
      // locate: column-pruned scan, ships (vec_id, cid) only
      val touched = spark.read.parquet(path).select("vec_id", "cid")
        .join(tombs, "vec_id").select("cid").distinct()
        .collect().map(_.getAs[Number]("cid").longValue).toSeq
      if (touched.nonEmpty) {
        // Barrier BEFORE the overwrite: the write targets the same
        // parquet path the plan reads, so materialize survivors first
        // (self-overwrite of a live read path is fragile across Spark
        // versions / late task retries); the materialized blocks also
        // serve the survivorCids collect, so the plan executes once.
        val survivors = Barrier(spark.read.parquet(path)
          .filter(col("cid").isin(touched: _*)) // PartitionFilters prune the read
          .join(tombs, Seq("vec_id"), "left_anti"))
        val survivorCids = survivors.select("cid").distinct()
          .collect().map(_.getAs[Number]("cid").longValue).toSet
        survivors
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic") // touched dirs only
          .partitionBy("cid").parquet(path)
        // dynamic overwrite never visits a partition with zero
        // surviving rows — drop fully-wiped directories explicitly
        (touched.toSet -- survivorCids).foreach { cid =>
          val dir = new org.apache.hadoop.fs.Path(s"$path/cid=$cid")
          fs(spark, dir).delete(dir, true)
        }
      }
      // remove exactly the snapshot consumed above; later-arriving
      // tombstone files (and the shared _SUCCESS marker) survive
      val tfs = fs(spark, new org.apache.hadoop.fs.Path(tombDir(path)))
      consumed.foreach(f => tfs.delete(f, false))
    }
  }
}
