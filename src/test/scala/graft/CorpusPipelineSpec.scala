package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** End-to-end corpus-build composition: the individual operators are
  * each oracle-gated; this spec proves they CHAIN — the way a user
  * actually builds a training corpus — and that the composed pipeline
  * is deterministic (same input → bit-identical manifest twice).
  *
  *   curation gate (quality/repetition/decontamination)
  *     → canonical-doc selection (near-dup clusters, keep best)
  *     → per-lang calibrated quality cut
  *     → sharded sequence packing
  *     → byte-bounded partitioned landing (OutputLayout)
  */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def buildManifest() = {
    val docs = Tables.documents(spark, sf)
    // stage 1: the curation funnel (exact dedup, eval split,
    // decontamination, quality and repetition gates)
    val kept = SparkEntry.queries("q59_funnel")(spark, sf)
      .filter(col("kept")).select("doc_id")
    val curated = docs.select("doc_id", "lang", "n_chars").join(kept, "doc_id")
    // stage 2: drop non-canonical near-dups (keep-best per cluster)
    val canonical = SparkEntry.queries("q108_canonical")(spark, sf)
      .filter(col("keep") === 1).select("doc_id")
    // stage 3: per-lang calibrated quality cut
    val calibrated = SparkEntry.queries("q114_calib_quality")(spark, sf)
      .filter(col("kept")).select("doc_id")
    val selected = curated
      .join(canonical, "doc_id")
      .join(calibrated, "doc_id")
    // stage 4: pack the survivors into 4096-char training bins
    TextQueries.packBins(selected, binChars = 4096L, nShards = 2)
      .select("doc_id", "lang", "pack_id")
      .orderBy("doc_id")
  }

  test("gate -> canonical -> calibrated -> packing composes and culls") {
    val manifest = buildManifest().collect()
    val total = Tables.documents(spark, sf).count()
    assert(manifest.nonEmpty, "composed pipeline emptied the corpus")
    assert(manifest.length < total,
      s"pipeline culled nothing (${manifest.length} of $total)")
    // every packed doc appears exactly once
    assert(manifest.map(_.getLong(0)).distinct.length === manifest.length)
  }

  test("the composed manifest is bit-deterministic across runs") {
    val a = buildManifest().collect().map(_.toString)
    val b = buildManifest().collect().map(_.toString)
    assert(a.sameElements(b), "composed pipeline is not deterministic")
  }

  test("stage 5: the packed corpus lands byte-bounded and deterministic on disk") {
    // the final stage a real build runs: the surviving documents land
    // as a partitioned parquet corpus with byte-bounded files
    // (graft.ops.OutputLayout) — and because every upstream stage is
    // deterministic and the shard assignment is hash-of-id, two
    // builds produce the SAME file layout.
    val out1 = java.nio.file.Files.createTempDirectory("cps1")
    val out2 = java.nio.file.Files.createTempDirectory("cps2")
    out1.toFile.deleteOnExit(); out2.toFile.deleteOnExit()
    def land(p: java.nio.file.Path) = {
      val kept = buildManifest().select("doc_id")
      val body = Tables.documents(spark, sf).join(kept, "doc_id")
      graft.ops.OutputLayout.write(body, p.resolve("corpus").toString,
        Seq("lang"), "n_chars", "doc_id", targetBytes = 3000L)
    }
    val plan1 = land(out1).collect().map(_.toString).sorted
    val plan2 = land(out2).collect().map(_.toString).sorted
    assert(plan1.sameElements(plan2), "layout plan is not deterministic")
    def layout(p: java.nio.file.Path) =
      spark.read.parquet(p.resolve("corpus").toString)
        .select("doc_id", "lang", "shard")
        .collect().map(_.toString).sorted
    assert(layout(out1).sameElements(layout(out2)),
      "file layout is not deterministic across builds")
    // the landed corpus is exactly the manifest's survivors
    assert(layout(out1).length === buildManifest().count())
  }
}
