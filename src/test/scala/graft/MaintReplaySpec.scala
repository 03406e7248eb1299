package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupArtifacts, DedupQueries}

/** The local file system, recording the paths it deletes. A spec names
  * it as `fs.file.impl` on the session only, with that scheme's cache
  * off, so only lookups through the session's Hadoop conf reach it: the
  * SparkContext's conf keeps resolving to the cached `file:` instance. */
class DeleteRecordingFileSystem extends LocalFileSystem {
  override def delete(p: Path, recursive: Boolean): Boolean = {
    DeleteRecordingFileSystem.deleted.add(p.toUri.getPath)
    super.delete(p, recursive)
  }
}

object DeleteRecordingFileSystem {
  val deleted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Crash-safety of the two-table artifact maintenance ops
  * ([[DedupArtifacts.applyForget]]/[[DedupArtifacts.applyNewPairs]]):
  * both rewrite the pairs AND labels tables, so a crash between the two
  * publishes leaves them desynced. The maintenance ledger (stage both
  * frames under an opId, publish both from the committed stage) makes a
  * replay of the same opId converge on exactly the uncrashed state —
  * proven here with an injected crash between the publishes, the
  * IdempotentSinkSpec discipline applied to table maintenance.
  *
  * Also pins the landed-wins payload rule: resubmitting an edge with a
  * different (inter, uni) never flips the landed artifact row, and that
  * the maintenance ops reach the file system through the session's
  * Hadoop conf.
  */
class MaintReplaySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // twin docs (sliding windows, J = 19/21 ≥ 0.6) over a disjoint vocab
  // per pair, plus singleton filler — the ForgetArtifactsSpec fixture
  private def twin(vocab: String, ids: Seq[Long]) = {
    val base = (0 until 23).map(w => s"$vocab$w")
    ids.zipWithIndex.map { case (id, k) =>
      val text = base.slice(k, k + 22).mkString(" ")
      (id, text, "en", vocab, text.length.toLong)
    }
  }

  private def writeCorpus(tmp: String): Unit = {
    val s2 = spark
    import s2.implicits._
    val rows = twin("alpha", Seq(1L, 2L)) ++ twin("beta", Seq(11L, 12L)) ++
      (100L until 106L).map(i =>
        (i, (0 until 25).map(w => s"solo${i}w$w").mkString(" "), "en", "solo", 25L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
  }

  private def labelSet(tmp: String) =
    spark.table(DedupArtifacts.labelsTable(tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def pairRows(tmp: String) =
    spark.table(DedupArtifacts.pairsTable(tmp))
      .select("doc_a", "doc_b", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def cleanup(tmp: String): Unit = {
    DedupArtifacts.crashBetweenPublishes = None
    spark.sql(s"DROP TABLE IF EXISTS ${DedupArtifacts.pairsTable(tmp)}")
    spark.sql(s"DROP TABLE IF EXISTS ${DedupArtifacts.labelsTable(tmp)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("applyForget crashed mid-publish replays with the same opId to the uncrashed state") {
    val tmp = java.nio.file.Files.createTempDirectory("maintforget").toString
    writeCorpus(tmp)
    val s2 = spark
    import s2.implicits._
    try {
      val before = { DedupArtifacts.labels(spark, tmp); labelSet(tmp) }
      assert(before.contains((2L, 1L, 0L)), s"fixture twins did not cluster: $before")

      val tombs = Seq(2L).toDF("doc_id")
      DedupArtifacts.crashBetweenPublishes = Some(d =>
        if (d == tmp) throw new RuntimeException("injected crash between publishes"))
      val e = intercept[RuntimeException] {
        DedupArtifacts.applyForget(spark, tmp, tombs, opId = 7L)
      }
      assert(e.getMessage.contains("injected"))
      DedupArtifacts.crashBetweenPublishes = None

      // torn window: pairs already rewritten, labels still stale — the
      // exact desync the ledger exists to repair
      assert(!pairRows(tmp).exists(p => p._1 == 2L || p._2 == 2L),
        "crash landed after the pairs publish; pairs should be survivors-only")
      assert(labelSet(tmp) === before, "labels must still be the stale pre-op set")

      // replay the SAME opId: stage is committed, so the op skips the
      // recompute (whose inputs are now torn) and finishes the publish
      DedupArtifacts.applyForget(spark, tmp, tombs, opId = 7L)
      val after = labelSet(tmp)
      assert(!after.exists(_._1 == 2L), "forgotten doc must leave the label table")
      assert(after.contains((1L, 1L, 1L)), "surviving twin re-elects itself")
      assert(after.filter(_._1 >= 100L) === before.filter(_._1 >= 100L),
        "untouched rows must be verbatim")
      // the consumed ledger entry is retired: a fresh opId works from
      // the published state
      val stale = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
          s"/_graft_maint/${DedupArtifacts.slug(tmp)}/forget/op_id=7")
      assert(!stale.exists, "committed+published stage must be retired")
    } finally cleanup(tmp)
  }

  test("applyNewPairs crashed mid-publish replays with the same opId to the merged state") {
    val tmp = java.nio.file.Files.createTempDirectory("maintmerge").toString
    writeCorpus(tmp)
    val s2 = spark
    import s2.implicits._
    try {
      val before = { DedupArtifacts.labels(spark, tmp); labelSet(tmp) }
      val np = Seq((2L, 11L, 5L, 20L)).toDF("doc_a", "doc_b", "inter", "uni")
      DedupArtifacts.crashBetweenPublishes = Some(d =>
        if (d == tmp) throw new RuntimeException("injected crash between publishes"))
      intercept[RuntimeException] {
        DedupArtifacts.applyNewPairs(spark, tmp, np, opId = 9L)
      }
      DedupArtifacts.crashBetweenPublishes = None

      assert(pairRows(tmp).contains((2L, 11L, 5L, 20L)),
        "crash landed after the pairs publish; the new edge should be in")
      assert(labelSet(tmp) === before, "labels must still be the stale pre-op set")

      DedupArtifacts.applyNewPairs(spark, tmp, np, opId = 9L)
      val amap = labelSet(tmp).map(t => t._1 -> t._2).toMap
      Seq(1L, 2L, 11L, 12L).foreach(id =>
        assert(amap(id) === 1L, s"doc $id must carry the merged min-id label"))
    } finally cleanup(tmp)
  }

  test("landed-wins: resubmitting an edge with a different payload keeps the landed (inter, uni)") {
    val tmp = java.nio.file.Files.createTempDirectory("maintpayload").toString
    writeCorpus(tmp)
    val s2 = spark
    import s2.implicits._
    try {
      DedupArtifacts.applyNewPairs(spark, tmp,
        Seq((2L, 11L, 5L, 20L)).toDF("doc_a", "doc_b", "inter", "uni"), opId = 1L)
      // resubmit the same edge (reversed ends) with a DIFFERENT payload
      DedupArtifacts.applyNewPairs(spark, tmp,
        Seq((11L, 2L, 7L, 99L)).toDF("doc_a", "doc_b", "inter", "uni"), opId = 2L)
      val payloads = pairRows(tmp).filter(p => p._1 == 2L && p._2 == 11L)
      assert(payloads === Set((2L, 11L, 5L, 20L)),
        s"landed payload must win over the resubmission: $payloads")
    } finally cleanup(tmp)
  }

  test("maintenance ops open their file systems with the session's Hadoop conf") {
    val tmp = java.nio.file.Files.createTempDirectory("maintconf").toString
    writeCorpus(tmp)
    val hist = "maintconf_hist"
    val s2 = spark
    import s2.implicits._
    // the pairs artifact's directory, as a previous JVM would leave it:
    // the first land must delete it
    val orphan = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      DedupArtifacts.pairsTable(tmp).toLowerCase).toUri.getPath
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(orphan, "stale"))
    val keys = Map("fs.file.impl" -> classOf[DeleteRecordingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    DeleteRecordingFileSystem.deleted.clear()
    try {
      DedupArtifacts.applyForget(spark, tmp, Seq(2L).toDF("doc_id"), opId = 3L)
      DedupQueries.writeNearDupHistory(spark, tmp, hist)
      DedupQueries.tombNearDupHistory(spark, hist, Seq(2L).toDF("doc_id"))
      val tombs = spark.table(s"${hist}_tombs").inputFiles.map(new Path(_).toUri.getPath).toSet
      assert(tombs.nonEmpty)
      DedupQueries.compactNearDupHistory(spark, hist)
      val deleted = DeleteRecordingFileSystem.deleted.toArray.map(_.toString).toSet
      val stage = new Path(spark.conf.get("spark.sql.warehouse.dir"),
        s"_graft_maint/${DedupArtifacts.slug(tmp)}/forget/op_id=3").toUri.getPath
      assert(deleted.contains(orphan), "stale artifact dir") // DedupArtifacts.dropStale
      assert(deleted.contains(stage), "consumed ledger entry") // DedupArtifacts.publish
      assert(tombs.subsetOf(deleted), "consumed tombstones") // compactNearDupHistory
    } finally {
      keys.keys.foreach(spark.conf.unset)
      spark.sql(s"DROP TABLE IF EXISTS $hist")
      spark.sql(s"DROP TABLE IF EXISTS ${hist}_tombs")
      cleanup(tmp)
    }
  }
}
