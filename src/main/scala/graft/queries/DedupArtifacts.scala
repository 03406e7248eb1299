package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.ops.Bucketing

/** Persisted near-dup artifacts — the pair set and the connected-
  * component label table, landed ONCE per corpus and probed by every
  * consumer.
  *
  * Why this exists: the dedup analytics surface (cluster histograms,
  * canonical selection, duplicate-discounted weights, chain audits,
  * provenance matrices, graph QA) all start from the same two relations
  * — q18's confirmed pairs and q51's cluster labels. Self-contained
  * queries each re-ran the MinHash pair kernel + ConnectedComponents,
  * which at 100 TB means re-shuffling the corpus once per REPORT. The
  * production shape is land-once/probe-many (the q64
  * [[DedupQueries.writeNearDupHistory]] / [[graft.ops.IvfIndex]]
  * lifecycle): one write pays the kernel + CC + a hash-distribution
  * pass, after which every consumer reads a bucketed table whose probe
  * side joins with NO exchange on the artifact (PlanAuditSpec pins the
  * bucketed scan and the absence of the pair kernel in consumer plans;
  * DedupArtifactsSpec proves probe ≡ recompute row-for-row).
  *
  * Artifact schemas:
  *  - pairs:  (doc_a, doc_b, inter, uni) — q18's confirmed pairs with
  *    their exact intersection/union counts, bucketed + sorted on
  *    doc_a. Collision-bounded size (tiny next to the corpus).
  *  - labels: (doc_id, cluster_id, keep) for EVERY document —
  *    singletons label themselves (cluster_id = doc_id) and the
  *    representative convention is q51's min-id (keep = 1 on the
  *    member whose id equals the cluster id), bucketed + sorted on
  *    doc_id. One row per document: this is the table a 100 TB
  *    pipeline semi-joins to drop duplicates.
  *
  * Build-on-first-use: [[pairs]]/[[labels]] memoize per (Spark app,
  * corpus dir) and rebuild in any fresh JVM, so results can never go
  * stale against a regenerated corpus while a long session (Bench's
  * min-of-N, a Verify sweep, a notebook) pays the kernel exactly once.
  *
  * Reference scope note: the reference (kafka-firehose-nozzle) has no
  * dedup surface; this lifecycle belongs to the training-data-pipeline
  * extension (SURVEY §2.2).
  */
object DedupArtifacts {

  /** Bucket count for both artifacts — matches the
    * [[DedupQueries.writeNearDupHistory]] layout so doc-keyed artifact
    * tables co-join exchange-free where bucket counts align. */
  val Buckets = 8

  // (applicationId, dir) pairs whose artifacts this JVM already landed —
  // guarded so parallel test suites sharing one session build once.
  private val built = scala.collection.mutable.HashSet.empty[(String, String)]

  /** Table-name slug for a corpus dir: managed-table names survive only
    * [a-z0-9_], so keep the basename and disambiguate with a hash of
    * the full path (sf0.01 vs sf0.1 vs a spec fixture must never share
    * an artifact). */
  private[graft] def slug(d: String): String = {
    val base = d.replaceAll("[^a-zA-Z0-9]+", "_").toLowerCase
      .replaceAll("^_+|_+$", "").takeRight(32)
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d))
    s"${base}_$h"
  }

  private[graft] def pairsTable(d: String): String = s"graft_neardup_pairs_${slug(d)}"
  private[graft] def labelsTable(d: String): String = s"graft_cluster_labels_${slug(d)}"

  /** Drop a stale artifact: the catalog is per-JVM (in-memory) but the
    * managed-table LOCATION under spark-warehouse persists, so a fresh
    * JVM's saveAsTable would die with LOCATION_ALREADY_EXISTS on the
    * previous JVM's directory. Drop the catalog entry if any, then the
    * orphaned directory. */
  private def dropStale(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(Shims.newHadoopConf(s))
    if (fs.exists(wh)) fs.delete(wh, true)
  }

  /** Land both artifacts for corpus `d` (unconditionally — callers
    * wanting the memoized form use [[pairs]]/[[labels]]). One pair-
    * kernel pass + one CC run + two bucketed writes. */
  def write(s: SparkSession, d: String): Unit = {
    dropStale(s, pairsTable(d))
    dropStale(s, labelsTable(d))
    Bucketing.writeBucketed(
      DedupQueries.minhashNearDupPairs(s, d)
        .select("doc_a", "doc_b", "inter", "uni"),
      pairsTable(d), "doc_a", Buckets)
    // CC over the just-landed pairs (reads the artifact back — cheap,
    // and guarantees labels are consistent with the landed pair set
    // even if the kernel were nondeterministic), then label EVERY
    // document: singletons coalesce to themselves.
    val cc = graft.ops.ConnectedComponents(
      s.table(pairsTable(d)).select("doc_a", "doc_b"))
      .withColumnRenamed("node", "doc_id")
    val labels = Tables.documents(s, d).select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", (col("cluster_id") === col("doc_id")).cast(LongType))
    Bucketing.writeBucketed(labels, labelsTable(d), "doc_id", Buckets)
  }

  private def ensure(s: SparkSession, d: String): Unit = {
    val key = (s.sparkContext.applicationId, d)
    val need = built.synchronized { !built.contains(key) }
    if (need) {
      // build OUTSIDE the lock would double-build under a race; the
      // kernel is minutes-cheap at test scale and single-caller in
      // Bench/Verify, so hold the lock for the build.
      built.synchronized {
        if (!built.contains(key)) { write(s, d); built += key }
      }
    }
  }

  /** Confirmed near-dup pairs (doc_a, doc_b, inter, uni) — probe form.
    * First call per (app, dir) lands the artifact. */
  def pairs(s: SparkSession, d: String): DataFrame = {
    ensure(s, d); s.table(pairsTable(d))
  }

  /** Full-corpus cluster labels (doc_id, cluster_id, keep) — probe
    * form. First call per (app, dir) lands the artifact. */
  def labels(s: SparkSession, d: String): DataFrame = {
    ensure(s, d); s.table(labelsTable(d))
  }

  // -------------------------------------------------------------------
  // Maintenance ledger — crash-safe, replayable two-table updates.
  //
  // applyForget/applyNewPairs rewrite BOTH artifacts; a naive in-place
  // rewrite crashing between the two writes leaves them desynced (pairs
  // updated, labels stale). The fix is the IdempotentSink discipline
  // (skip-if-committed / overwrite-if-torn, keyed by an operation id):
  // the op computes both new frames from one consistent input snapshot
  // and STAGES them as plain parquet under an opId-keyed ledger dir,
  // then PUBLISHES both bucketed tables from the committed stage.
  // Replaying the same opId after a crash anywhere converges:
  //  - crash mid-stage → stage has no _SUCCESS → replay recomputes
  //    (inputs untouched: publish never started);
  //  - crash mid-publish → stage committed → replay skips compute and
  //    re-publishes BOTH tables from the same staged bytes.
  // Streaming callers pass the micro-batch id as opId (the layoutWriter
  // pattern); batch callers replaying a failed op reuse its opId.
  // `MaintReplaySpec` proves convergence under an injected crash.
  // -------------------------------------------------------------------

  private def hadoopFs(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(Shims.newHadoopConf(s))

  private def stageDir(s: SparkSession, d: String, op: String, opId: Long) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
      s"_graft_maint/${slug(d)}/$op/op_id=$opId")

  private def committed(s: SparkSession, stage: org.apache.hadoop.fs.Path): Boolean = {
    val fs = hadoopFs(s, stage)
    Seq("pairs", "labels").forall(t =>
      fs.exists(new org.apache.hadoop.fs.Path(stage, s"$t/_SUCCESS")))
  }

  // test seam: MaintReplaySpec injects a crash between the two table
  // publishes to prove the replay path; receives the corpus dir so a
  // spec can scope its injection to its own fixture (suites share the
  // JVM); never set outside tests
  private[graft] var crashBetweenPublishes: Option[String => Unit] = None

  /** Publish both artifacts from a committed stage: idempotent — a
    * replay re-reads the same staged bytes, so re-running after a
    * partial publish converges on the staged state. */
  private def publish(s: SparkSession, d: String,
      stage: org.apache.hadoop.fs.Path): Unit = {
    val pairsNew = s.read.parquet(new org.apache.hadoop.fs.Path(stage, "pairs").toString)
    dropStale(s, pairsTable(d))
    Bucketing.writeBucketed(pairsNew, pairsTable(d), "doc_a", Buckets)
    crashBetweenPublishes.foreach(f => f(d))
    val labelsNew = s.read.parquet(new org.apache.hadoop.fs.Path(stage, "labels").toString)
    dropStale(s, labelsTable(d))
    Bucketing.writeBucketed(labelsNew, labelsTable(d), "doc_id", Buckets)
    hadoopFs(s, stage).delete(stage, true) // retire the consumed ledger entry
  }

  /** Apply a deletion list to BOTH landed artifacts, with bounded
    * recompute — the write-side of q262's change-table, exact where
    * the report form cannot be: removing a document can SPLIT its
    * cluster (connected components merged A–B–C through B; delete the
    * bridge B and A, C must part ways), so canonical re-election
    * alone (q262's min-surviving rule) is not rebuild-equivalent.
    *
    * Deletion cannot perturb a cluster that holds no tombstone
    * (components only lose nodes/edges; other components' pair sets
    * are untouched), so the CC re-run is restricted to the surviving
    * pairs INSIDE tombstone-holding clusters — work is O(affected
    * cluster mass), not corpus mass, at any scale. Surviving docs of
    * untouched clusters keep their label rows verbatim;
    * `ForgetArtifactsSpec` proves the result ≡ artifacts rebuilt from
    * scratch on the corpus-minus-tombstones, bridge-split included.
    *
    * Pairs rewrite is survivors-only (both ends live). Both tables
    * land via the maintenance ledger above: staged under `opId`, then
    * published — a crashed run replayed with the same `opId` finishes
    * exactly once. */
  def applyForget(s: SparkSession, d: String, tombs: DataFrame,
      opId: Long = 0L): Unit = {
    ensure(s, d)
    val stage = stageDir(s, d, "forget", opId)
    if (!committed(s, stage)) {
      val t = broadcast(
        graft.ops.Barrier(tombs.select(col("doc_id").cast(LongType))))
      val pairs = s.table(pairsTable(d))
      val labels = s.table(labelsTable(d))
      val touched = broadcast(
        labels.join(t, "doc_id").select("cluster_id").distinct())
      val pSurv = graft.ops.Barrier(pairs
        .join(t.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(t.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti"))
      val labSurv = labels.join(t, Seq("doc_id"), "left_anti")
      // surviving members of touched clusters re-cluster over their
      // surviving pairs (a pair's ends share a cluster by construction,
      // so membership of doc_a alone selects the subgraph)
      val affDocs = labSurv.join(touched, "cluster_id")
      val affCc = graft.ops.ConnectedComponents(
        pSurv.select("doc_a", "doc_b")
          .join(affDocs.select(col("doc_id").as("doc_a")), "doc_a"))
        .withColumnRenamed("node", "doc_id")
      val relabeled = affDocs.select("doc_id")
        .join(affCc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("keep", (col("cluster_id") === col("doc_id")).cast(LongType))
      val newLabels = labSurv.join(touched, Seq("cluster_id"), "left_anti")
        .select("doc_id", "cluster_id", "keep")
        .unionByName(relabeled.select("doc_id", "cluster_id", "keep"))
      pSurv.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "pairs").toString)
      newLabels.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "labels").toString)
    }
    publish(s, d, stage)
  }

  /** Fold LATE-ARRIVING confirmed pairs into both artifacts — the
    * cluster-MERGE counterpart of [[applyForget]], completing the
    * maintenance algebra on the label artifact (build / forget /
    * merge). New pairs show up after the initial land in every real
    * pipeline: an incremental-probe batch (q64), a second modality
    * confirming what text LSH missed, a manual duplicate report. A
    * pair joining two clusters must MERGE them under the min-id
    * convention — which can relabel every member of both — so, as in
    * applyForget, connected components re-run ONLY over the pairs
    * inside clusters an endpoint touches; untouched clusters keep
    * their rows verbatim, and the pair table gains the new edges
    * (idempotent: already-present edges dedup on the key).
    *
    * `newPairs` must carry (doc_a, doc_b, inter, uni) with both ends
    * already labeled (they are corpus members); unknown ids fail
    * loudly rather than landing edges the label table cannot see.
    * When a resubmitted edge carries a DIFFERENT (inter, uni) payload
    * than the landed artifact row, the landed row wins (anti-join
    * before the union): re-applying a pair batch can never silently
    * flip the exact-count payload downstream consumers (q220's exact
    * Jaccard etc.) already reported. Both tables land via the
    * maintenance ledger (see [[applyForget]]) keyed by `opId`. */
  def applyNewPairs(s: SparkSession, d: String, newPairs: DataFrame,
      opId: Long = 0L): Unit = {
    ensure(s, d)
    val stage = stageDir(s, d, "newpairs", opId)
    if (!committed(s, stage)) {
      val np0 = graft.ops.Barrier(newPairs
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"),
          col("inter").cast(LongType), col("uni").cast(LongType))
        .filter(col("doc_a") =!= col("doc_b"))
        .dropDuplicates("doc_a", "doc_b"))
      val labels = s.table(labelsTable(d))
      val ends = np0.select(col("doc_a").as("doc_id"))
        .union(np0.select(col("doc_b").as("doc_id"))).distinct()
      val unknown = ends.join(labels, Seq("doc_id"), "left_anti").count()
      require(unknown == 0,
        s"applyNewPairs: $unknown pair endpoint(s) are not labeled corpus members")
      val pairs = s.table(pairsTable(d))
      // landed-wins: an edge already in the artifact keeps its landed
      // (inter, uni) regardless of the resubmitted payload — the
      // deterministic rule the bit-identical discipline requires
      val np = graft.ops.Barrier(
        np0.join(pairs.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti"))
      val touched = broadcast(
        labels.join(ends, "doc_id").select("cluster_id").distinct())
      val affDocs = labels.join(touched, "cluster_id")
      // the merge subgraph: every artifact pair inside a touched
      // cluster (both ends share the cluster, so doc_a membership
      // selects it) plus the new cross-cluster edges themselves
      val affEdges = pairs.select("doc_a", "doc_b")
        .join(affDocs.select(col("doc_id").as("doc_a")), "doc_a")
        .unionByName(np.select("doc_a", "doc_b"))
      val affCc = graft.ops.ConnectedComponents(affEdges)
        .withColumnRenamed("node", "doc_id")
      val relabeled = affDocs.select("doc_id")
        .join(affCc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("keep", (col("cluster_id") === col("doc_id")).cast(LongType))
      val newLabels = labels.join(touched, Seq("cluster_id"), "left_anti")
        .select("doc_id", "cluster_id", "keep")
        .unionByName(relabeled.select("doc_id", "cluster_id", "keep"))
      pairs.unionByName(np).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "pairs").toString)
      newLabels.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "labels").toString)
    }
    publish(s, d, stage)
  }
}
