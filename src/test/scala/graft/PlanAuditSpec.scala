package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the scale properties VERDICT grades — filters
  * reaching the parquet scan, column pruning, no accidental cartesian
  * products anywhere — asserted on the physical plans so regressions
  * fail the suite, not the 100 TB run. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Flatten a physical plan to its node list (through AQE), for
    * STRUCTURAL ordering checks — a node "runs before" another iff it
    * sits in that node's subtree, not because of string offsets. */
  private def walk(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = sp match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      walk(a.executedPlan)
    // an executed adaptive plan keeps its stages' subtrees behind leaves
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }

  /** The LeftSemi joins of a query's executed plan. */
  private def leftSemis(name: String)
      : (org.apache.spark.sql.execution.SparkPlan,
         Seq[org.apache.spark.sql.execution.joins.BaseJoinExec]) = {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    (root, walk(root).collect { case j: BaseJoinExec if j.joinType == LeftSemi => j })
  }

  test("q01 scan prunes to the 3 projected columns") {
    val scan = plan("q01_scan").linesIterator.find(_.contains("ReadSchema")).get
    assert(scan.contains("event_id") && scan.contains("event_type"))
    assert(!scan.contains("props") && !scan.contains("value"),
      s"unpruned columns reached the scan: $scan")
  }

  test("q05 pushes the event_type predicate into the parquet scan") {
    assert(plan("q05_template").contains("EqualTo(event_type,purchase)"))
  }

  test("q16 pushes the query-vector lookup into the scan") {
    assert(plan("q16_topk").contains("EqualTo(vec_id,0)"))
  }

  test("no query plans a cartesian product or unpushed cross join") {
    // the tiny broadcast crossJoins (1-row query vector in q16/q22,
    // 8-row codebook + 1-row query in q40) are the intended shapes
    val allowedBnlj = Set(
      "q16_topk", "q22_ann", "q40_ivf", "q49_qann", "q58_fann", "q69_pqann",
      "q70_ivfpq", "q72_ivf_trained", "q75_knn", "q77_recall",
      "q81_batch_recall", // exact arm = corpus × broadcast 5-row query table
      "q82_media_ann", // broadcast 1-row media query vector
      "q95_temp_sample", // languages-sized counts × broadcast 1-row n_min
      "q96_bm25", // broadcast 1-row corpus-stats frame (N, Σdl, dfs)
      "q98_anomaly", // days-sized rollup × broadcast 1-row (m, S1, S2)
      "q103_hardneg", // corpus × broadcast anchor batch, label-inequality pred
      "q104_hybrid", // dense arm = corpus × broadcast 1-row query vector
      "q106_lm_filter", // vocab × broadcast 1-row T; docs × 1-row (G, T)
      "q107_bow_mips", // corpus × broadcast 1-row query count-vector
      "q110_mixture", // languages-sized strata × broadcast 1-row totals ×2
      "q111_drift", // k-sized occupancy counts × broadcast 1-row totals
      "q117_kmv_overlap", // sources-sized sketch frame × broadcast, < predicate
      "q120_dsir", // 64-row bucket table × broadcast 1-row totals
      "q124_rproj_ann", // projected corpus × broadcast 1-row projected query
      "q125_rproj_recall", // both audit arms × broadcast 1-row query
      "q135_pmi", // count tables × broadcast 1-row total N
      "q136_gapfill", // types-sized spine × broadcast 1-row bounds
      "q138_comovement", // same spine shape as q136
      "q141_cooccur", // pair supports × broadcast 1-row user total
      "q148_bigram_lm", // bigram types × broadcast 1-row V; docs × 1-row mean
      "q150_ks", // value-domain ECDF × broadcast 1-row totals
      "q151_gini", // sources-sized ranks × broadcast 1-row count
      "q152_diurnal", // types×24 grid — types-sized spine (q136 shape)
      "q158_indep", // cells × broadcast 1-row grand total
      "q165_trigger", // converted count × broadcast 1-row views total
      "q176_weekday", // types-sized counts × broadcast 1-row day totals
      "q178_rfm", // customer ranks × broadcast 1-row customer count m
      "q185_heaps", // bigram first-occurrence mins × broadcast 1-row doc count
      "q196_wau", // distinct-activity table × broadcast 1-row max-day clip
      "q197_posting_bits", // term postings × broadcast 1-row doc count
      "q199_mixture_select", // languages-sized strata × broadcast 1-row totals (q110 shape)
      "q202_idle_rich", // customer × broadcast 1-row (Σcents, n) mean scalar
      "q222_nprobe_ladder", // corpus × broadcast 1-row query; ladder × 1-row corpus total
      "q223_quant_fidelity", // corpus × broadcast 1-row (float, int8) query pair
      "q230_retrieval_eval", // 1-row metric fold × broadcast 1-row n_relevant
      "q233_modularity", // communities-sized fold × broadcast 1-row Σein
      "q240_wau_sketch", // (type, day) sketch frame × broadcast 1-row max-day clip
      "q244_dup_provenance", // 4-row census × broadcast 1-row pair total
      "q249_coverage_ladder", // 3 rung rows × broadcast 1-row occurrence total
      "q252_bootstrap", // 1-row point estimate × broadcast 1-row CI pair
      "q257_blocking_eval", // 1-row block census × broadcast 1-row pair stats
      "q258_lifetable", // user rollup × broadcast 1-row max-day clip (q196 shape)
      "q234_qnorm", // per-source ranks × broadcast 1-row corpus count
      "q236_loo_source", // sources-sized rollup × broadcast 1-row (N, T) totals
      "q261_pair_work_audit", // 1-row raw total × broadcast 1-row guarded total
      "q265_keyness", // vocab rollup × broadcast 1-row (total, vocab) frame
      "q267_tvd") // sources-DOMAIN totals self-pair (S² rows, S saturates)
    SparkEntry.queries.keys.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has CartesianProduct")
      if (!allowedBnlj(q))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has BNLJ")
    }
  }

  /** Self-join equi-keys that are neither id-like nor BoundedPair-
    * guarded, per query — the auto-enrolment classifier behind the
    * pair-budget invariant (see the enrolment test below). */
  private def unguardedSelfJoinKeys(
      lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.StructType
    // leaf identity: parquet root paths, barrier RDD ids, range specs.
    // SELF-join = both subtrees read exactly the SAME leaf set (a
    // relation joined to itself or to a filtered slice of itself) —
    // intersection alone would flag every shared small dimension
    // (nation on both sides of a lineitem⋈orders tree).
    def leafIds(p: LogicalPlan): Set[String] = p.collect {
      case r: LogicalRelation => r.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString).toSet
        case other => Set(other.toString)
      }
      case l: LogicalRDD => Set(s"rdd:${l.rdd.id}")
      case rg: org.apache.spark.sql.catalyst.plans.logical.Range =>
        Set(s"range:${rg.start}:${rg.end}:${rg.step}")
    }.flatten.toSet
    // a pre-aggregated join side is a rollup (≤1 row per group key):
    // joined on its group key it has multiplicity ~1, so the raw×raw
    // quadratic-pair shape the audit hunts is absent when EITHER side
    // aggregates first (tripwire judgment, not a proof: a groupBy that
    // doesn't reduce cardinality, or a join on a strict subset of the
    // group key, would slip through — the barriered pair kernels the
    // audit exists for checkpoint BEFORE the join, so their raw sides
    // carry no Aggregate and always stay in scope)
    def aggregated(p: LogicalPlan): Boolean = p.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _ => false
    }
    // keys that can't go quadratic: near-unique ids (join fan-out is
    // key multiplicity, ~1) and DistributedRank's structural __pid
    // partition-boundary join — everything else on a self-join is a
    // BUCKET key and must be guarded or consciously allowlisted
    val idLike = Set("doc_id", "vec_id", "media_id", "doc_a", "doc_b",
      "da", "db", "u", "v", "node", "id", "event_id", "__pid")
    def keyName(e: Expression): String = e match {
      case a: AttributeReference => a.name
      case other => s"<${other.sql}>"
    }
    def guarded(e: Expression): Boolean = e.dataType match {
      case st: StructType =>
        st.fieldNames.contains("b") && st.fieldNames.contains("sub")
      case _ => false
    }
    lp.collect {
      case j: Join if leafIds(j.left) == leafIds(j.right) &&
          leafIds(j.left).nonEmpty &&
          !aggregated(j.left) && !aggregated(j.right) =>
        val conj = j.condition.toSeq.flatMap(c =>
          c.collect { case eq: EqualTo => (eq.left, eq.right)
                      case eq: EqualNullSafe => (eq.left, eq.right) })
        val eqKeys = conj.filter { case (l, r) =>
          l.references.subsetOf(j.left.outputSet) &&
            r.references.subsetOf(j.right.outputSet) ||
          l.references.subsetOf(j.right.outputSet) &&
            r.references.subsetOf(j.left.outputSet)
        }
        val names = eqKeys.map { case (l, r) =>
          Seq(keyName(l), keyName(r)).distinct.sorted.mkString("=") }
        val benign = eqKeys.exists { case (l, r) => guarded(l) || guarded(r) } ||
          eqKeys.exists { case (l, r) =>
            idLike.contains(keyName(l)) || idLike.contains(keyName(r)) }
        if (eqKeys.nonEmpty && !benign) names.toSet else Set.empty[String]
    }.flatten.toSet
  }

  test("pair-join auto-enrolment: new self-joins on bucket keys must be guarded") {
    // DEFAULT-DENY: every query's optimized plan is scanned for
    // self-joins whose equi-keys are neither near-unique ids nor a
    // BoundedPair-guarded struct. Whatever the scan flags must appear
    // in the reviewed allowlist below with its reason — so query 262+
    // cannot ship an unguarded bucket-keyed pair join without either
    // wrapping it in BoundedPair.refined or consciously enrolling here.
    val allow: Map[String, Set[String]] = Map(
      // ANN probe joins: the non-corpus side is a ≤5-row query set
      // (vec_id-filtered) — corpus × tiny-probe on the bucket key is
      // probe-local, linear in the corpus
      "q22_ann" -> Set("bucket=qbucket"),
      "q44_multiprobe" -> Set("bucket"),
      "q77_recall" -> Set("bucket=qbucket"),
      "q78_batch_ann" -> Set("bucket=qbucket"),
      "q81_batch_recall" -> Set("bucket=qbucket"),
      "q82_media_ann" -> Set("bucket=qbucket"),
      "q103_hardneg" -> Set("label=qlabel"), // corpus × broadcast 5-anchor batch
      // LSH band joins: sig is a P²-wide signature — collision-bounded
      // by the banding design itself; hot bands split under AQE skew
      // (q18's own band join checkpoints before return and is audited
      // by its dedicated pre-barrier plan pin above)
      "q126_minhash_est" -> Set("j", "sig"),
      "q208_band_precision" -> Set("j", "sig"),
      "q183_lsh_recall" -> Set("blk", "j", "sig"), // + blk-blocked exact arm
      // carries its OWN budget machinery, reviewed in its spec:
      "q20_simdup" -> Set("b", "sig", "j", "sub"), // exact-recall MIH sub-banding
      "q245_prefix_join" -> Set("ptok"), // census-gated (prefixJoinBudget refusal)
      "q146_editdup" -> Set("lang", "band"), // length-band blocking, block-budget test
      // hash-wide content keys (md5-derived, ~unique per content):
      "q63_incdedup" -> Set("bow"),
      // natural keys with bounded per-key multiplicity:
      "q141_cooccur" -> Set("user_id"), // per-user event sets, session-bounded
      "q165_trigger" -> Set("bu=user_id") // same
    )
    val flagged = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val keys = unguardedSelfJoinKeys(
        SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan)
      if (keys.nonEmpty) Some(q -> keys) else None
    }.toMap
    val unreviewed = flagged.filter { case (q, keys) =>
      !allow.get(q).exists(a => keys.subsetOf(a)) }
    assert(unreviewed.isEmpty,
      "unguarded self-join keys shipped without review — wrap the join " +
      "key with graft.ops.BoundedPair.refined or enroll it in the " +
      s"allowlist with a reason:\n${unreviewed.map { case (q, k) =>
        s"  $q -> ${k.mkString(", ")}" }.mkString("\n")}")
    // the classifier itself must catch a deliberately unguarded
    // bucket self-join (the fixture the audit exists for)
    import org.apache.spark.sql.functions.col
    val base = spark.range(100).withColumn("bucket", col("id") % 4)
    val bad = base.as("x").join(base.as("y"),
      col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
    assert(unguardedSelfJoinKeys(bad.queryExecution.optimizedPlan).nonEmpty,
      "classifier missed a plainly unguarded bucket self-join")
    // ...and must NOT flag the guarded form of the same join
    val g = graft.ops.BoundedPair.refined(base, "bucket", "id", "pb", budget = 8L)
    val good = g.as("x").join(g.as("y"),
      col("x.pb") === col("y.pb") && col("x.id") < col("y.id"))
    assert(unguardedSelfJoinKeys(good.queryExecution.optimizedPlan).isEmpty,
      "classifier flagged a BoundedPair-guarded join")
  }

  test("aggregations keep map-side partial aggregation") {
    // one-pass counter queries must show partial_ functions (partial
    // aggregation = map-side combine before the shuffle)
    Seq("q03_drop", "q06_type_counts", "q07_counters").foreach { q =>
      assert(plan(q).contains("partial_"), s"$q lost partial aggregation")
    }
  }

  test("q30 broadcasts the dimension tables (no fact-side shuffle join)") {
    val p = plan("q30_bcast")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side got shuffle-joined:\n$p")
  }

  test("q29 fact-fact join keeps partial aggregation before the shuffle") {
    assert(plan("q29_join").contains("partial_"))
  }

  test("top-k queries avoid global sorts (TakeOrderedAndProject)") {
    Seq("q01_scan", "q02_route", "q05_template", "q16_topk").foreach { q =>
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q does a full sort")
    }
  }

  test("q52 bloom probe runs map-side BEFORE the exact semi-join") {
    // STRUCTURAL check (the q63 tree-walk pattern): the bloom_contains
    // filter must live in the LeftSemi join's streamed (left) subtree —
    // rows are bloom-probed before the join ever sees them. The
    // scalar-subquery formulation pins this (the broadcast-1-row-join
    // one got inverted by PushDownLeftSemiAntiJoin).
    val (root, semis) = leftSemis("q52_bloom")
    assert(semis.nonEmpty, s"exact semi-join missing:\n$root")
    val probed = semis.exists(j =>
      walk(j.left).exists(_.simpleString(200).contains("bloom_contains")))
    assert(probed,
      s"bloom_contains filter is not below the LeftSemi join's streamed side:\n$root")
    assert(!root.toString.contains("BroadcastNestedLoopJoin"),
      s"bloom should ride a scalar subquery, not a 1-row join:\n$root")
  }

  test("q53 group top-k keeps only k rows per group before the window shuffle") {
    val p = plan("q53_grouptopk")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=k not pushed below the window exchange:\n$p")
  }

  test("q54 exact re-count is candidate-bounded (broadcast semi-join, partial agg)") {
    val p = plan("q54_heavy")
    assert(p.contains("LeftSemi"), s"candidate semi-join missing:\n$p")
    assert(p.contains("partial_count"), s"word counts lost map-side combine:\n$p")
  }

  test("q55 decontam broadcasts the eval shingle set (map-local probe)") {
    val p = plan("q55_decontam")
    assert(p.contains("BroadcastHashJoin"), s"eval set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shingles got shuffle-joined against the tiny eval set:\n$p")
    assert(p.contains("partial_count"), "hit counts lost map-side combine")
  }

  test("q56 quantiles plan ONE exchange and never shuffle text") {
    val p = plan("q56_quantile")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"window + groupBy did not share the (lang, source) partitioning:\n$p")
    val scan = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!scan.contains("text"), s"text column reached the quantile scan: $scan")
  }

  test("q57 scrub is map-only (no exchange before the presentation sort)") {
    val p = plan("q57_scrub")
    assert(!p.contains("hashpartitioning"), s"scrub plan shuffles:\n$p")
  }

  test("q58 filtered ANN: predicate pushed to the documents scan, keys broadcast") {
    val p = plan("q58_fann")
    assert(p.contains("EqualTo(lang,de)"), s"lang filter not pushed down:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"filter keys not broadcast-semi-joined:\n$p")
    assert(!p.contains("SortMergeJoin"), s"embedding corpus got shuffle-joined:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "ranking lost the top-k shape")
  }

  test("q59 funnel: gates stay broadcast-joined, bodies never shuffle") {
    val p = plan("q59_funnel")
    assert(!p.contains("SortMergeJoin"),
      s"a funnel gate shuffle-joined the corpus:\n$p")
    // the md5 dedup window is the one corpus-wide exchange; assert on
    // the SHUFFLED ROW SCHEMA (each exchange input's attributes), not
    // the partitioning expression — md5(t) projects into a _w0 attr,
    // so the partitioning spec could hide a text column riding along
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(sp: SparkPlan): Seq[ShuffleExchangeExec] = sp match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    val ex = shuffles(
      SparkEntry.queries("q59_funnel")(spark, sf).queryExecution.executedPlan)
    assert(ex.nonEmpty, "exact-dedup window lost its exchange")
    ex.foreach { e =>
      val names = e.child.output.map(_.name)
      assert(!names.contains("t") && !names.contains("text"),
        s"document text column rode a shuffle: $names")
    }
  }

  test("q62 per-source cap keeps <=k rows per group before the window shuffle") {
    assert(plan("q62_capsource").contains("WindowGroupLimit"),
      s"rk<=20 not pushed below the window exchange")
  }

  test("q63 incremental dedup probes the history bloom below the exact confirm") {
    // STRUCTURAL check, not string offsets: the bloom_contains filter
    // must live in the LeftSemi join's streamed (left) subtree — i.e.
    // rows are bloom-probed before the join ever sees them
    val (root, semis) = leftSemis("q63_incdedup")
    assert(semis.nonEmpty, s"exact confirm (LeftSemi) missing:\n$root")
    val probed = semis.exists(j =>
      walk(j.left).exists(_.simpleString(200).contains("bloom_contains")))
    assert(probed,
      s"bloom_contains filter is not below the LeftSemi join's streamed side:\n$root")
  }

  test("q78 batched ANN broadcasts the query table and pushes the per-query limit") {
    val p = plan("q78_batch_ann")
    assert(p.contains("BroadcastHashJoin"), s"query table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus got shuffle-joined:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=3 not pushed below the rank exchange:\n$p")
  }

  test("q81 batched recall keeps both top-k arms group-limited and the audit k-sized") {
    val p = plan("q81_batch_recall")
    // both the brute-force and ANN arms push the per-query limit below
    // their rank exchange — the shuffle carries O(queries × k)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"a top-k arm lost its WindowGroupLimit:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"query table not broadcast on the ANN arm:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus got shuffle-joined:\n$p")
  }

  test("q222 nprobe ladder: one assignment pass, pruned top-k arms, no corpus shuffle-join") {
    val p = plan("q222_nprobe_ladder")
    // exact arm + 4 ladder arms each end in a distributed partial
    // top-k over the barrier'd assignment frame
    // (the assignment pass itself — vec_dot_int under the trained
    // model — sits behind the Barrier, so the visible plan starts at
    // the materialized (vec_id, cid, qsim) scan, like q18's)
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 5,
      s"a ladder arm lost its partial top-k:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus got shuffle-joined:\n$p")
  }

  test("q223 quant fidelity: both arms partial top-k over one barrier'd pass, no shuffle-join") {
    val p = plan("q223_quant_fidelity")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"an arm lost its partial top-k:\n$p")
    assert(!p.contains("SortMergeJoin"), s"arms got shuffle-joined:\n$p")
    // windows are post-limit: every Window sits above a 20-row frame
    assert(!p.contains("Exchange hashpartitioning"),
      s"the 20-row rank windows should not repartition:\n$p")
  }

  test("q224 shard plan: one map-side-combined rollup, join-free, text never read") {
    val p = plan("q224_shard_plan")
    assert(!p.contains("Join"), s"the write plan is one rollup, no join:\n$p")
    assert(p.contains("partial_count"), s"rollup lost map-side combine:\n$p")
    assert(!p.contains("text"), s"plan read the document body for a byte census:\n$p")
  }

  test("q225 integrity digest: map-only hash, partial-agg rollup, no text shuffle, no sort before agg") {
    val p = plan("q225_integrity_digest")
    assert(!p.contains("Join"), s"digest is one rollup, no join:\n$p")
    assert(p.contains("partial_count"), s"rollup lost map-side combine:\n$p")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
  }

  test("q226 curriculum: pid-partitioned rank engine, offsets broadcast back") {
    val p = plan("q226_curriculum")
    // within-stage order comes from DistributedRank: the range
    // exchange hides behind Barrier (the q228 note), so the real pin
    // is the __pid-partitioned rank window — a 3-partition corpus
    // window (plain Window.partitionBy("stage")) would show
    // windowspecdefinition(stage instead
    // (a stage-partitioned window DOES appear — DistributedRank's own
    // offsets prefix-sum over the counts table, parts×stages rows —
    // so the pin is the presence of the __pid rank window, not the
    // absence of stage partitioning)
    assert(p.contains("windowspecdefinition(__pid"),
      s"curriculum lost the pid-partitioned rank engine:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rank offsets must broadcast, not shuffle:\n$p")
  }

  test("q227 label propagation: partial-agg'd label counts, top-k finish, no text") {
    val p = plan("q227_labelprop")
    assert(p.contains("partial_count"),
      s"(node, label) counts lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"community top-20 lost the distributed partial top-k:\n$p")
    assert(!p.contains("props"), s"plan read the payload column:\n$p")
  }

  test("q228 zone-map audit: pid-partitioned rank, combined rollup, text never read") {
    val p = plan("q228_zonemap")
    // the range exchange itself sits behind Barrier's materialization
    // (the q222 note); what must stay visible is that every rank
    // window is __pid-partitioned — a global (no-partition) window
    // would collapse the corpus onto one task
    assert(p.contains("windowspecdefinition(__pid"),
      s"layout rank lost the pid-partitioned engine:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id")
        && !p.contains("windowspecdefinition(n_chars"),
      s"a rank window went global:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_min"),
      s"zone rollup lost map-side combine:\n$p")
    assert(!p.contains("text"), s"plan read the document body for a layout audit:\n$p")
  }

  test("q229 sketch rollup: TOTAL comes from merged registers, never a rescan") {
    val p = plan("q229_hll_rollup")
    // both arms read the Barrier-materialized 5-row sketch frame; the
    // events parquet is scanned exactly once, at materialization —
    // a parquet scan in THIS plan would mean the rollup re-read the
    // corpus to answer a question the sketches already answer
    assert(!p.contains("Scan parquet"),
      s"the sketch rollup rescanned the corpus:\n$p")
    assert(p.contains("hll_union"), s"TOTAL lost the register merge:\n$p")
  }

  test("q239 disjunctive arms: per-side OR extraction reaches the part scan") {
    // the TPC-H Q19 optimizer exercise: the cross-table OR must not
    // block pushdown — the planner extracts each side's union of arm
    // predicates, so the part scan's PushedFilters carries the
    // brand/size disjunction (the quantity side is a derived column,
    // filtered map-side above its scan by design)
    val p = plan("q239_disjunctive")
    val scanLine = p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(scanLine.contains("Or(") && scanLine.contains("p_brand"),
      s"part-side disjunction not pushed:\n$scanLine")
  }

  test("q73 trained-PQ search is join-free: codes + ADC table lookups + top-k") {
    // the ADC tables are plan-time literals; the ONLY distributed work
    // is the map-only encode and the distributed partial top-k
    val p = plan("q73_pq_trained")
    assert(p.contains("TakeOrderedAndProject"), s"ranking lost partial top-k:\n$p")
    assert(p.contains("kmeans_assign") || p.contains("pq_codes"),
      s"encode lost the native kernel:\n$p")
    assert(!p.contains("Join"), s"q73 must not join at query time:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q73 must not shuffle:\n$p")
  }

  test("q74 trained IVF-PQ keeps the join-free shape with the probe gate pushed down") {
    val p = plan("q74_ivfpq_trained")
    assert(p.contains("TakeOrderedAndProject"), s"ranking lost partial top-k:\n$p")
    assert(!p.contains("Join"), s"q74 must not join at query time:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q74 must not shuffle:\n$p")
    // the nprobe gate is a literal IN filter on the coarse assignment
    assert(p.contains(" IN ") || p.contains("cid#"), s"probe gate missing:\n$p")
  }

  test("q65 explicit-values pivot: aggregate-only shuffles, no discovery job") {
    val p = plan("q65_pivot")
    // explicit values ⇒ pivotfirst directly (an unpinned pivot first
    // runs a collect job to discover distinct langs); both stacked
    // aggregations keep map-side combine so every exchange carries
    // aggregate rows only
    assert(p.contains("pivotfirst"), s"pivot not planned as pivotfirst:\n$p")
    assert(p.contains("partial_pivotfirst") && p.contains("partial_count"),
      "pivot aggregations lost map-side combine")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"pivot planned more than its two aggregate exchanges:\n$p")
  }

  test("q79 packing runs one PARTITIONED prefix-sum window (no global single partition)") {
    val p = plan("q79_packing")
    assert(p.contains("windowspecdefinition(lang"),
      s"packing window lost its lang partitioning:\n$p")
    assert("Exchange hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      s"window exchange should key on lang:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"packing should shuffle exactly once:\n$p")
  }

  test("q80 sharded packing windows on a >=2-column key (lang, shard)") {
    val p = plan("q80_packing_sharded")
    assert(p.contains("windowspecdefinition(lang"),
      s"sharded packing window lost its lang partitioning:\n$p")
    // the de-skew contract: the window (and its exchange) must key on
    // (lang, shard), never lang alone
    assert("windowspecdefinition\\(lang[^,]*, shard".r.findFirstIn(p).isDefined,
      s"window key is lang-only — the skew fix regressed:\n$p")
    assert("Exchange hashpartitioning\\(lang[^,]*, shard".r.findFirstIn(p).isDefined,
      s"window exchange should key on (lang, shard):\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"sharded packing should shuffle exactly once:\n$p")
  }

  test("q88 sessionization windows partition by user and reuse one exchange") {
    val p = plan("q88_sessions")
    assert(p.contains("windowspecdefinition(user_id"),
      s"session window lost its user partitioning:\n$p")
    // lag/brk/running-sum windows AND the session aggregate all key on
    // user_id: one hash exchange serves the whole query
    assert("Exchange hashpartitioning\\(user_id".r.findFirstIn(p).isDefined,
      s"window exchange should key on user_id:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"sessionization should shuffle exactly once:\n$p")
  }

  test("q98 anomaly gate: stats broadcast, flag map-only over the daily rollup") {
    val p = plan("q98_anomaly")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row stats frame should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"daily rollup must not shuffle for the stats join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"only the two day rollups should shuffle:\n$p")
  }

  test("q97 PageRank: rounds are Barrier-materialized, final top-k take-ordered") {
    val p = plan("q97_pagerank")
    // each round ends in a Barrier (localCheckpoint), so the returned
    // plan reads the round-3 ranks from checkpointed blocks — the q51
    // iterative shape — and ranks with a take-ordered, no global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"rank top-20 should be a take-ordered:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"round-3 ranks should come from the materialization barrier:\n$p")
  }

  test("q99 Aho-Corasick audit is map-only with the automaton in the plan") {
    val p = plan("q99_ac_audit")
    assert(p.contains("ac_count("), s"native ac_count missing from plan:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"multi-pattern audit should not hash-shuffle:\n$p")
    assert(!p.contains("Join"), s"audit should not join:\n$p")
  }

  test("q96 BM25: stats broadcast once, scoring map-only, top-k take-ordered") {
    val p = plan("q96_bm25")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row stats frame should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should be a take-ordered, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("hashpartitioning"),
      s"scoring must not shuffle the corpus:\n$p")
  }

  test("q95 temperature sampling: rate table broadcasts, corpus never sort-merges") {
    val p = plan("q95_temp_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"the languages-sized rate table should broadcast onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the rate join:\n$p")
  }

  test("q94 inverted index: one term-partitioned exchange, top-k without a global sort") {
    val p = plan("q94_index")
    assert("Exchange hashpartitioning\\(term".r.findFirstIn(p).isDefined,
      s"posting build should partition by term:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"posting build should shuffle exactly once:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"df top-30 should be a take-ordered, not a global sort:\n$p")
    assert(!p.contains("Join"), s"index build should not join:\n$p")
  }

  test("q92 histogram sketch: one lang exchange with map-side partial sketches") {
    val p = plan("q92_hist")
    // hist_agg is a TypedImperativeAggregate: partial sketches build
    // map-side (ObjectHashAggregate x2 around one lang exchange), so
    // the shuffle carries 64-long states, never rows
    assert(p.contains("ObjectHashAggregate"),
      s"hist_agg should plan as an object hash aggregate:\n$p")
    assert("Exchange hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      s"sketch exchange should key on lang:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"histogram sketch should shuffle exactly once:\n$p")
    assert(!p.contains("Join"), s"sketch quantiles should not join:\n$p")
  }

  test("q264 quantile sketch: one lang exchange with map-side partial samples") {
    val p = plan("q264_qsketch")
    // qsample_agg is a TypedImperativeAggregate: partial bottom-k
    // samples build map-side, so the lang exchange carries <= k
    // (h, tie, v) triples per (task, group), never corpus rows
    assert(p.contains("ObjectHashAggregate"),
      s"qsample_agg should plan as an object hash aggregate:\n$p")
    assert("Exchange hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      s"sketch exchange should key on lang:\n$p")
    // exactly one hash exchange (the languages-keyed sketch merge); the
    // only other exchange is the 5-row presentation orderBy's range
    // partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"quantile sketch should hash-shuffle exactly once:\n$p")
    assert(!p.contains("Window"),
      s"sample quantiles must not window the corpus:\n$p")
  }

  test("q265 keyness: domain-sized joins — totals broadcast, vocab merged, rank on source") {
    val p = plan("q265_keyness")
    // source totals and the 1-row (tot, v) frame ride broadcasts; the
    // vocab-sized term-totals join must be a sort-merge (the q148
    // computed-frame precedent: a corpus-grown vocab table is never
    // driver-built), and the top-10 rank window keys on source over
    // the domain-saturating vocab×sources grid
    assert(p.contains("BroadcastExchange"),
      s"source/global totals should broadcast:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"the vocab-sized term-totals join should sort-merge:\n$p")
    assert("Window.*source".r.findFirstIn(p).isDefined ||
      "windowspecdefinition\\(source".r.findFirstIn(p).isDefined,
      s"rank window should partition on source:\n$p")
  }

  test("q266 zipf: rank window on lang over the domain rollup, no joins") {
    val p = plan("q266_zipf")
    assert("windowspecdefinition\\(lang".r.findFirstIn(p).isDefined ||
      "Window.*lang".r.findFirstIn(p).isDefined,
      s"rank window should partition on lang:\n$p")
    assert(!p.contains("Join"),
      s"the zipf fit is rollup-only, no joins:\n$p")
  }

  test("q267 tvd: shared-term join on the aggregated rollup; pair frame is the one BNLJ") {
    val p = plan("q267_tvd")
    // the self-join keys on term over the PRE-AGGREGATED (source,
    // term) rollup (multiplicity ≤ |sources|); the S²-row pair frame
    // is the deliberate sources-domain BNLJ enrolled above
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the sources-domain totals self-pair is the documented BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian on data-sized frames:\n$p")
  }

  test("q100 semdedup pairs form an equi-join on cid, never all-pairs") {
    // force the no-broadcast path: at test SF the pair join's build side
    // fits a broadcast, which would hide the at-scale join distribution
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q100_semdedup")
      // the cluster-local pair generation must be a cid-keyed EQUI join
      // (hash/sort-merge over the cid shuffle) — a cartesian/BNLJ here is
      // the all-pairs quadratic failure the clustering exists to prevent
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"semdedup pair join is not an equi-join:\n$p")
      // the join key is the BUDGET-BOUNDED cell (BoundedPair.refined over
      // cid), so the shuffle hashes pcid — cid alone would be the
      // unguarded quadratic key
      assert("hashpartitioning\\(pcid".r.findFirstIn(p).isDefined,
        s"pair join does not shuffle on the bounded cell key pcid:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("every bucket pair join rides the pair-budget guard (BoundedPair)") {
    // the five pair-family queries whose dial was measured quadratic at
    // the sf1 decade: their pair joins must key on the refined column
    // (a struct carrying the census-derived sub-band), and the census
    // depth column __bp_e must appear in the plan — a join keyed on the
    // raw bucket/cid bypasses the guard and reverts to quadratic
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // q23/q216 share one barriered kernel; its pre-barrier plan is the
      // auditable surface (the q21/q18 discipline)
      val q23p = graft.queries.SimilarityQueries.embDupScoredPlan(spark, sf)
        .queryExecution.executedPlan.toString
      val audits = Seq(
        "q23/q216 embDupScored" -> (q23p, "pb"),
        "q100_semdedup" -> (plan("q100_semdedup"), "pcid"),
        "q251_hubness" -> (plan("q251_hubness"), "pcid"),
        "q140_media_neardup" -> (plan("q140_media_neardup"), "pb"))
      for ((q, (p, key)) <- audits) {
        assert(s"hashpartitioning\\($key".r.findFirstIn(p).isDefined,
          s"$q pair join does not shuffle on the guarded key $key:\n$p")
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q pair join degenerated to a cartesian/BNLJ:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q101 winnow boilerplate gate broadcasts as a left anti join") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = SparkEntry.queries("q101_winnow")(spark, sf).queryExecution.executedPlan
    val antis = walk(root).collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j }
    assert(antis.nonEmpty, s"no LeftAnti df-gate in the plan:\n$root")
    assert(antis.forall(_.getClass.getSimpleName.startsWith("BroadcastHashJoin")),
      s"boilerplate gate should broadcast (the over-df list is tiny):\n$root")
  }

  test("q93 z-order key computes map-side before the tile exchange") {
    // STRUCTURAL (the q63 tree-walk pattern, not string offsets): the
    // native zorder2 projection must sit INSIDE the partial aggregate's
    // subtree — computed at the scan, map-side, never shuffled raw
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Partial}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val root = SparkEntry.queries("q93_zorder")(spark, sf).queryExecution.executedPlan
    val partials = walk(root).collect {
      case h: BaseAggregateExec if h.aggregateExpressions.exists {
        case ae: AggregateExpression => ae.mode == Partial
        case _ => false
      } => h
    }
    assert(partials.nonEmpty, s"no partial aggregate in the plan:\n$root")
    assert(partials.exists(pa => walk(pa).exists(_.expressions.exists(
        _.find(_.isInstanceOf[graft.functions.ZOrder2]).isDefined))),
      s"zorder2 is not below a partial aggregate (map-side):\n$root")
    val p = root.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"tile audit should shuffle exactly once (pre-aggregated tiles):\n$p")
    assert(!p.contains("Join"), s"tile audit should not join:\n$p")
  }

  test("q90 funnel: three step windows and the user collapse share one exchange") {
    val p = plan("q90_funnel")
    assert("Exchange hashpartitioning\\(user_id".r.findFirstIn(p).isDefined,
      s"funnel windows should key on user_id:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"funnel should hash-shuffle exactly once (t1/t2/t3 windows + " +
        s"per-user collapse all on user_id):\n$p")
  }

  test("q91 retention: per-user day sets collapse before the cohort count") {
    val p = plan("q91_retention")
    // pass 1 keys on user_id (map-side-combined collect_set), pass 2 on
    // (cohort, day_off) — two hash exchanges, nothing else
    assert("Exchange hashpartitioning\\(user_id".r.findFirstIn(p).isDefined,
      s"retention pass 1 should key on user_id:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"retention should hash-shuffle exactly twice:\n$p")
    assert(!p.contains("Join"), s"retention should not join:\n$p")
  }

  test("q89 boilerplate scrub: broadcast dictionary join, doc-keyed coverage") {
    val p = plan("q89_boiler_scrub")
    // fully distributed (no driver-collected dictionary): the frequent-
    // span table joins BROADCAST against the positional span stream, and
    // the per-doc coverage set rejoins broadcast on doc_id — the corpus
    // text itself is never shuffled (the only hashpartitioning exchange
    // carries (doc_id, position) ints for the collect_set collapse)
    assert(p.contains("BroadcastHashJoin"),
      s"dictionary/coverage joins are not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"scrub sort-merges (text would shuffle at scale):\n$p")
    val textShuffled = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!textShuffled, s"document text crosses an exchange:\n$p")
  }

  test("q87 trained-BPE token counts: partial agg + top-k off the vocab barrier") {
    val p = plan("q87_bpe_tokens")
    // token frequencies aggregate the Barrier-materialized vocab symbol
    // table: map-side combine + TakeOrderedAndProject, never a full sort
    assert(p.contains("partial_sum"), s"token count lost partial agg:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 does a full sort:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"vocab not Barrier-materialized:\n$p")
  }

  test("q85 BPE pair counts stay vocab-sized: partial aggs + top-k") {
    val p = plan("q85_bpe_pairs")
    // both aggregations (word → freq, pair → n) must map-side combine so
    // the shuffles carry the distinct vocabulary / pair tables, never
    // corpus-sized rows
    assert(p.contains("partial_count"), s"vocab count lost partial agg:\n$p")
    assert(p.contains("partial_sum"), s"pair sum lost partial agg:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 does a full sort:\n$p")
  }

  test("q66 moving window aggregates daily totals with map-side combine") {
    assert(plan("q66_moving").contains("partial_sum"),
      "daily totals lost partial aggregation under the window")
  }

  test("q36 set-ops fuse to one jobless-scan aggregation (no joins, no actions)") {
    val p = plan("q36_setops")
    assert(!p.contains("Join"), s"q36 should be join-free:\n$p")
    assert(p.contains("partial_"), "q36 lost partial aggregation")
  }

  test("q37 semi/anti counts ride ONE join") {
    val p = plan("q37_semijoin")
    assert("(?i)join".r.findAllIn(p).size >= 1)
    // exactly one physical join node (one pass over both tables)
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins === 1, s"q37 should have exactly one join, got $joins:\n$p")
  }

  test("hot-path queries contain no interpreted lambda HOFs") {
    // these queries moved from HOF chains to native expressions
    // (vec_dot, gram4_codes, word_shingles3, simhash60, minhash_array,
    // bigram_scores, text_stats) — a lambdafunction in the plan means
    // an interpreted per-element path crept back in
    Seq("q16_topk", "q17_text", "q19_simhash", "q22_ann", "q23_embdup",
        "q24_lang", "q40_ivf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("lambdafunction"),
        s"$q has an interpreted HOF in the hot path:\n$p")
    }
  }

  test("q21/q18 band joins land as asked: gram relations merge-join, block census broadcasts") {
    // the merge hints exist to stop Catalyst broadcasting fat computed-
    // array relations it under-estimates; a stacked/overridden hint
    // (the BENCH_r04 warning) silently loses that protection. The
    // final q18/q21 plans start at the post-barrier checkpoint scan,
    // so the audit probes the pre-barrier scoring pipelines.
    import graft.queries.DedupQueries
    val p21 = DedupQueries.ngramScored(Tables.documents(spark, sf), 10000L)
      .queryExecution.executedPlan.toString
    assert(p21.contains("SortMergeJoin"), s"q21 gram self-join not merge-joined:\n$p21")
    assert(p21.contains("BroadcastHashJoin"), s"q21 block-size census not broadcast:\n$p21")
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"),
      s"q21 scoring has an unbounded join:\n$p21")
    val p18 = DedupQueries.minhashScored(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p18.contains("SortMergeJoin"), s"q18 candidate-set join not merge-joined:\n$p18")
    assert(!p18.contains("CartesianProduct") && !p18.contains("BroadcastNestedLoopJoin"),
      s"q18 scoring has an unbounded join:\n$p18")
  }

  test("q245 prefix-filter join: bounded joins, partial-agg'd df, per-doc window") {
    val p = plan("q245_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q245 has an unbounded join:\n$p")
    // the prefix pipeline now sits behind a Barrier (it feeds the
    // feasibility census AND both join sides) — audit its PRE-barrier
    // plan, the established pattern for barriered kernels
    import org.apache.spark.sql.functions.{col, size}
    import org.apache.spark.sql.types.LongType
    val m = graft.ops.Barrier(graft.queries.DedupQueries.shingleSets(spark, sf)
      .select(col("doc_id"), col("sset"),
        size(col("sset")).cast(LongType).as("nset")))
    val pp = graft.queries.DedupQueries.prefixTokensOf(m)
      .queryExecution.executedPlan.toString
    // the vocabulary df rollup must map-side combine
    assert(pp.contains("partial_count"), s"q245 df rollup lost partial aggregation:\n$pp")
    // the rarest-first ordering window must be PARTITIONED (by doc_id)
    // — an unpartitioned window here would serialize the whole token
    // table through one task
    assert(pp.contains("hashpartitioning(doc_id"),
      s"q245 prefix window not partitioned by doc_id:\n$pp")
  }

  test("q45 repetition is map-only; q46/q47 keep partial aggregation") {
    val p45 = plan("q45_repetition")
    assert(!p45.contains("Exchange hashpartitioning"),
      s"q45 must not shuffle (native kernel, per-row projection):\n$p45")
    assert(!p45.contains("lambdafunction"), s"q45 has an interpreted HOF:\n$p45")
    // the corpus-statistics aggregations must map-side combine
    Seq("q46_terms", "q47_spans").foreach { q =>
      assert(plan(q).contains("partial_"), s"$q lost partial aggregation")
    }
    assert(plan("q47_spans").contains("TakeOrderedAndProject"),
      "q47 top-k must not global-sort")
  }

  test("q44/q48/q49/q50 plan shapes: broadcast probes, map-only kernels, top-k") {
    val p44 = plan("q44_multiprobe")
    assert(p44.contains("BroadcastHashJoin"), s"q44 probe list not broadcast:\n$p44")
    assert(p44.contains("TakeOrderedAndProject"), s"q44 does a full sort:\n$p44")
    // quantization (q48) and chunking (q50) are per-row projections:
    // the ONLY exchange allowed is the presentation sort
    val joinOps = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct|BroadcastNestedLoopJoin)".r
    Seq("q48_quant", "q50_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q shuffles a map-only kernel:\n$p")
      assert(joinOps.findFirstIn(p).isEmpty, s"$q has a join:\n$p")
    }
    assert(plan("q49_qann").contains("TakeOrderedAndProject"),
      "q49 quantized ranking must not global-sort")
  }

  test("similarity scan filters run native any_null, never the interpreted exists( HOF") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec,
      FilterExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    def scan(sp: SparkPlan): Boolean = sp match {
      case _: FileSourceScanExec => true
      case c: ColumnarToRowExec => scan(c.child)
      case i: InputAdapter => scan(i.child)
      // a filter that cannot join whole-stage codegen (an interpreted
      // HOF) sits above its scan's codegen stage
      case w: WholeStageCodegenExec => scan(w.child)
      case _ => false
    }
    // most corpus scans sit under a Barrier, whose localCheckpoint is
    // an action of its own: its plan reaches a listener, not the
    // query's final plan
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val conditions = try {
      graft.queries.SimilarityQueries.queries.toSeq.sortBy(_._1).map { case (q, f) =>
        val df = f(spark, sf)
        org.apache.spark.sql.graftshim.ListenerBus.drain(spark)
        val plans = df.queryExecution.executedPlan +: Iterator
          .continually(actions.poll()).takeWhile(_ != null).toSeq
        q -> plans.flatMap(walk).collect {
          case fl: FilterExec if scan(fl.child) => fl.condition.toString
        }
      }.toMap
    } finally spark.listenerManager.unregister(listener)
    conditions.foreach { case (q, cs) =>
      cs.foreach(c => assert(!c.contains("exists("), s"$q scan filter runs an interpreted HOF: $c"))
    }
    // the pin sees the barrier'd and the direct corpus scans alike
    Seq("q49_qann", "q69_pqann", "q70_ivfpq").foreach { q =>
      assert(conditions(q).exists(_.contains("any_null(")),
        s"$q: no any_null scan filter seen in ${conditions(q)}")
    }
  }

  test("q40 IVF probes ride broadcasts; the corpus is never shuffled") {
    val p = plan("q40_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q40 probe/codebook not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q40 does a full sort:\n$p")
    // assignment must be map-only: no window (a per-row-unique
    // partition key IS a full corpus shuffle) and no hash
    // repartitioning anywhere — the only exchanges allowed are the
    // codebook/probe/query broadcasts and the 8-row codebook
    // collect_list's single-partition gather
    assert(!p.contains("Window"), s"q40 ranks via a window shuffle:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"q40 hash-shuffles the corpus:\n$p")
  }

  test("q108 canonical selection windows on cluster_id, never unpartitioned") {
    val p = plan("q108_canonical")
    // the keep-best argmax must partition by cluster_id (bounded
    // near-dup groups), not run a global row_number
    assert(p.contains("windowspecdefinition(cluster_id"),
      s"canonical argmax lost its cluster partitioning:\n$p")
  }

  test("q109 containment keeps the q18 candidate shape off the barrier") {
    val p = plan("q109_containment")
    // post-Barrier scoring: the plan starts at the checkpoint scan
    // (signatures + candidate pairs computed once), and the final
    // filter/score is plain projection work — no window, no extra
    // aggregation beyond the candidate machinery
    assert(p.contains("Scan ExistingRDD"),
      s"containment re-derives the scored pairs instead of the barrier:\n$p")
    assert(!p.contains("Window"), s"containment plans a window:\n$p")
  }

  test("q111 drift monitor: map-only assign, k-sized counts, broadcast totals") {
    val p = plan("q111_drift")
    // assignment is plan-time centroid literals over the barrier scan;
    // the only exchange carries (cid, 2 longs); totals ride a 1-row BNLJ
    assert(p.contains("Scan ExistingRDD"),
      s"drift monitor re-derives the quantized corpus:\n$p")
    assert(p.contains("partial_sum"),
      s"occupancy counts lost map-side combine:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"totals should cross-join broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"drift monitor sort-merges:\n$p")
  }

  test("q112 span audit: spans hash before any exchange, text never shuffles") {
    val p = plan("q112_spandup")
    val textShuffled = p.linesIterator.exists(l =>
      l.contains("Exchange") && (l.contains("text#") || l.contains("words#")))
    assert(!textShuffled,
      s"document text/words cross an exchange — spans must hash first:\n$p")
    assert(!p.contains("CartesianProduct"), s"span audit goes all-pairs:\n$p")
  }

  test("q113 overlap matrix: pairs ride broadcasts onto the metadata joins") {
    val p = plan("q113_overlap")
    // the collision-bounded pair set is an ARTIFACT PROBE (bucketed
    // table scan — no kernel re-run) broadcast against source metadata
    assert(p.contains("graft_neardup_pairs"),
      s"overlap matrix re-derives the pairs instead of probing the artifact:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"metadata joins should broadcast the pair side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"overlap matrix sort-merges a tiny pair set:\n$p")
  }

  test("dedup consumers probe the landed artifacts — no pair-kernel recompute") {
    // the land-once/probe-many contract (DedupArtifacts): every
    // report-shaped consumer of q18's pairs / q51's labels must scan
    // the bucketed artifact tables and must NOT replay the MinHash
    // pipeline (minhash_array / sorted_intersect_count in the plan =
    // a per-report corpus re-shuffle at 100 TB). q119/q149 consume
    // the artifact through graph kernels whose internal Barriers hide
    // the scan from the final plan — for those the no-kernel assert
    // is the meaningful half.
    val tableVisible = Seq("q51_cluster", "q108_canonical", "q113_overlap",
      "q175_degree_dist", "q204_dup_weights", "q215_split_leakage",
      "q218_quality_vs_dup", "q219_cluster_size_hist", "q220_jaccard_hist",
      "q238_chain_audit", "q244_dup_provenance", "q246_quality_auc",
      "q257_blocking_eval", "q262_forget")
    tableVisible.foreach { q =>
      val p = plan(q)
      assert(p.contains("graft_neardup_pairs") || p.contains("graft_cluster_labels"),
        s"$q does not scan a dedup artifact:\n$p")
      assert(!p.contains("minhash_array") && !p.contains("sorted_intersect"),
        s"$q re-runs the pair kernel instead of probing the artifact:\n$p")
    }
    Seq("q119_triangles", "q149_kcore").foreach { q =>
      val p = plan(q)
      assert(!p.contains("minhash_array") && !p.contains("sorted_intersect"),
        s"$q re-runs the pair kernel instead of probing the artifact:\n$p")
    }
  }

  test("q262 forget: touched clusters broadcast back — the label scan never sort-merges") {
    // the deletion list (and so the touched-cluster id set) is tiny
    // next to the corpus: the re-election join must be a broadcast
    // hash join against the bucketed label scan, not a corpus-wide
    // sort-merge on cluster_id
    val p = plan("q262_forget")
    assert(p.contains("BroadcastHashJoin"),
      s"q262 lost the broadcast join on touched cluster ids:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q262 sort-merges the corpus against a tombstone-sized set:\n$p")
  }

  test("q263 repack plan: sharded packing window + map-side-combined rollup") {
    val p = plan("q263_repack_plan")
    // q80's de-skew contract carries over: the prefix-sum window keys
    // on (lang, shard), never lang alone (half the corpus in 1 task)
    assert("windowspecdefinition\\(lang[^,]*, shard".r.findFirstIn(p).isDefined,
      s"q263 packing window lost the (lang, shard) key:\n$p")
    // the pack census partial-aggregates map-side — the exchange
    // ships (lang, pack_id, counters), not documents
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q263 rollup lost map-side partial aggregation:\n$p")
  }

  test("q114 calibrated quality: both lang windows share one exchange") {
    val p = plan("q114_calib_quality")
    assert(p.contains("windowspecdefinition(lang"),
      s"calibration window lost its lang partitioning:\n$p")
    assert("Exchange hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      s"window exchange should key on lang:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"rank and count windows should share ONE lang exchange:\n$p")
  }

  test("q116 sketch calibration: NO rank window — sketch exchange + broadcast gate") {
    val p = plan("q116_calib_sketch")
    // the scale contract vs q114: no per-lang rank window anywhere
    // (that is the straggler q116 exists to remove); the threshold
    // comes off the mergeable histogram (ObjectHashAggregate around
    // one lang exchange) and gates via a broadcast join
    assert(!p.contains("Window"), s"sketch calibration ranks in a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"hist_agg should plan as an object hash aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold table should broadcast onto the gate:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sketch calibration sort-merges:\n$p")
  }

  test("q115 fertility: vocab-sized token table, partial-agg'd usage counts") {
    val p = plan("q115_fertility")
    // the trained symbol table is Barrier-materialized (vocab-sized);
    // both aggregations keep map-side combine so the shuffles carry
    // (lang, word) / (lang, 2 longs) rows, never the corpus
    assert(p.contains("Scan ExistingRDD"),
      s"fertility re-derives the trained symbol table:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"usage counts lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"fertility goes all-pairs:\n$p")
  }

  test("q117 KMV overlap: pairing runs on broadcast sketches, never documents") {
    val p = plan("q117_kmv_overlap")
    // per-source sketches come from ONE ObjectHashAggregate (kmv_mins
    // merges map-side); the sources² pairing is a broadcast join of
    // the k-long sketch frames — no doc-sized join anywhere
    assert(p.contains("ObjectHashAggregate"),
      s"kmv_mins should plan as an object hash aggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"sketch pairing should broadcast the tiny sketch frame:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"overlap estimate sort-merges a sources-sized frame:\n$p")
  }

  test("q118 CMS: exact re-count is watchlist-bounded, sketch rides a subquery") {
    val (root, semis) = leftSemis("q118_cms")
    assert(semis.nonEmpty,
      s"exact counts should restrict to the broadcast watchlist first:\n$root")
    val p = root.toString
    assert(p.contains("partial_count"),
      s"exact re-count lost map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"watchlist join should broadcast, not sort-merge:\n$p")
  }

  test("q119 triangles: id-only joins, no cartesian blowup, barriered edges") {
    val p = plan("q119_triangles")
    assert(p.contains("Scan ExistingRDD"),
      s"triangle pass re-derives the scored pairs:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge/closure joins must be equi-joins on ids:\n$p")
  }

  test("q120 DSIR: one barriered token pass, broadcast bucket table, partial aggs") {
    val p = plan("q120_dsir")
    // the exploded token stream materializes ONCE (Barrier) and feeds
    // both the 64-row bucket table and the scoring join; the bucket
    // weights broadcast; the per-doc sum keeps map-side combine
    assert(p.contains("Scan ExistingRDD"),
      s"DSIR re-explodes the corpus per distribution:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket weight table should broadcast onto the token stream:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc scoring lost map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"DSIR sort-merges a 64-row table:\n$p")
  }

  test("q121 diversity: distinct keeps two-level partial aggregation") {
    val p = plan("q121_diversity")
    assert(p.contains("partial_"),
      s"distinct count lost its map-side level:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"diversity should be aggregate-only:\n$p")
  }

  test("q122 grouping sets: one Expand, partial-agg'd, no extra exchanges") {
    val p = plan("q122_gsets")
    assert(p.contains("Expand"), s"grouping sets lost the Expand plan:\n$p")
    assert(p.contains("partial_count"),
      s"grouping-set aggregate lost map-side combine:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"grouping sets should need exactly one aggregate exchange:\n$p")
  }

  test("q124 projected ANN: barriered projection feeds both arms, top-k take-ordered") {
    val p = plan("q124_rproj_ann")
    assert(p.contains("Scan ExistingRDD"),
      s"projected table re-derives per arm:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"projected ranking does a full sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"projected ANN sort-merges:\n$p")
  }

  test("q126 estimator audit scores at collision time: one band join, no set attach") {
    val p = plan("q126_minhash_est")
    // sets ride the band rows into ONE (j, sig)-keyed self-join and the
    // intersect/estimator run in its stage; the only pair-grain exchange
    // is the narrow groupBy(doc_a, doc_b) dedup. The merge hint keeps a
    // computed-array size underestimate from broadcasting the fat band
    // relation (the q148 death shape), and never all-pairs.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"estimator audit goes all-pairs:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly the band self-join, got $joins:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"fat band relation must sort-merge, not broadcast:\n$p")
    assert(p.contains("partial_max"), s"pair dedup lost map-side combine:\n$p")
  }

  test("q127 deciles window on lang with ONE exchange") {
    val p = plan("q127_deciles")
    assert(p.contains("windowspecdefinition(lang"),
      s"decile window lost its lang partitioning:\n$p")
    assert("Exchange hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      s"window exchange should key on lang:\n$p")
  }

  test("q131 sketch diversity: ONE source exchange, no distinct expand") {
    val p = plan("q131_diversity_sketch")
    // vs q121: the distinct count comes off the mergeable HLL, so the
    // only exchange keys on source and carries registers + one long
    assert(p.contains("ObjectHashAggregate"),
      s"hll_agg should plan as an object hash aggregate:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"sketch diversity should need exactly one aggregate exchange:\n$p")
    assert("Exchange hashpartitioning\\(source".r.findFirstIn(p).isDefined,
      s"the one exchange should key on source:\n$p")
  }

  test("q128 weighted sample keeps <=k rows per lang before the window shuffle") {
    val p = plan("q128_wsample")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=k not pushed below the window exchange:\n$p")
  }

  test("q129 snapshot diff joins hashes, not text") {
    val p = plan("q129_snapshot_diff")
    assert(p.contains("FullOuter"), s"CDC diff lost the full-outer join:\n$p")
    // text is consumed by the map-side md5 projection; the join
    // exchange must not carry the text column itself
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"snapshot join shuffles document text:\n$p")
  }

  test("q130 inertia: map-only assign, broadcast model join, k-sized rollup") {
    val p = plan("q130_inertia")
    assert(p.contains("vec_dot_int"),
      s"inertia must rank/score via the native integer-dot kernel:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-row model should broadcast onto the assignment:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"cluster rollup lost map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"), s"inertia sort-merges the model:\n$p")
  }

  test("q132 PQ distortion: four barriered arms, broadcast models, no SMJ") {
    val p = plan("q132_pq_distortion")
    assert(p.contains("Scan ExistingRDD"),
      s"subspace arms re-derive the quantized corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"k-row sub-codebooks should broadcast:\n$p")
    assert(p.contains("vec_dot_int"),
      s"subspace SSE must use the native integer-dot kernel:\n$p")
    assert(!p.contains("SortMergeJoin"), s"distortion audit sort-merges:\n$p")
  }

  test("q133 spectrum keeps partial aggregation at both levels") {
    val p = plan("q133_spectrum")
    assert(p.contains("partial_count"),
      s"(source, term) counts lost map-side combine:\n$p")
    assert(p.contains("partial_sum"),
      s"spectrum rollup lost map-side combine:\n$p")
  }

  test("q134 next-word table keeps <=3 rows per head before the window shuffle") {
    val p = plan("q134_nextword")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=3 not pushed below the window exchange:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts lost map-side combine:\n$p")
  }

  test("q135 PMI: barriered count tables, top-30 take-ordered") {
    val p = plan("q135_pmi")
    // the bigram/unigram count tables materialize once (Barrier) and
    // the final plan joins the materialized counts
    assert(p.contains("Scan ExistingRDD"),
      s"PMI re-derives the count tables:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"PMI ranking does a full sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"PMI goes all-pairs:\n$p")
  }

  test("q110 mixture: one corpus aggregate, decisions on broadcast scalars") {
    val p = plan("q110_mixture")
    // the only corpus-sized work is the partial-agg'd groupBy(lang)
    // scan; the budget/leftover scalars join back as broadcasts
    assert(p.contains("partial_sum"),
      s"stratum aggregate lost map-side combine:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"scalar totals should cross-join broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"mixture plan sort-merges a languages-sized table:\n$p")
  }

  test("q142 transition rollup keeps partial aggregation; user-partitioned lag") {
    val p = plan("q142_markov")
    // final stage: totals rollup keeps map-side combine, joins back as
    // a broadcast (the Barrier hides the sequence stage behind an
    // ExistingRDD scan, so pin that stage's window shape separately)
    assert(p.contains("partial_"), s"transition counts lost map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"types-sized totals not broadcast:\n$p")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val seqPlan = Tables.events(spark, sf)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .queryExecution.executedPlan.toString
    assert(seqPlan.contains("hashpartitioning(user_id"),
      s"sequence window is not user-partitioned:\n$seqPlan")
  }

  test("q146 edit-distance join is block-local (equi-join on lang+band, no BNLJ)") {
    val p = plan("q146_editdup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"edit-distance join went all-pairs:\n$p")
    assert(p.contains("levenshtein"), s"distance not in the join filter stage:\n$p")
  }

  test("q147 vocab membership join broadcasts the 40-row vocab") {
    val p = plan("q147_oov")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join should broadcast, not shuffle the token stream twice:\n$p")
  }

  test("q159 pushes both date filters to parquet and broadcasts the segment dim") {
    val p = plan("q159_shipprio")
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast:\n$p")
    assert(p.contains("LessThan(o_orderdate") && p.contains("GreaterThan(l_shipdate"),
      s"date filters did not reach the scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 does a full sort:\n$p")
  }

  test("q160 six-table star: every dimension reaches the facts as a broadcast") {
    val p = plan("q160_regional")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    // the only allowed shuffle join is the orders⨝lineitem fact join
    val smjCount = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smjCount <= 1, s"more than the fact-fact join shuffled ($smjCount):\n$p")
  }

  test("q185 heaps curve: partial-agg'd first-occurrence min, no text shuffle") {
    val p = plan("q185_heaps")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"first-occurrence min lost map-side combine:\n$p")
    // the only corpus-sized exchange carries (bigram, min) pairs —
    // the documents text column must not reach any hashpartitioning
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text column reached a shuffle:\n$shuffled")
  }

  test("q186 char-junk screen is map-only (no exchange before the presentation sort)") {
    val p = plan("q186_charjunk")
    assert(!p.contains("hashpartitioning"), s"char screen shuffles:\n$p")
  }

  test("q187 nation flow: nation+supplier broadcast, ship-date filter at the scan") {
    val p = plan("q187_nation_flow")
    assert(p.contains("BroadcastHashJoin"), s"supplier side not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"),
      s"ship-date range did not reach the lineitem scan:\n$p")
    // allowed shuffle joins: orders⨝customer and lineitem⨝orders
    val smjCount = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smjCount <= 2, s"more than the two fact joins shuffled ($smjCount):\n$p")
  }

  test("q188 dim audit: one 64-key rollup with map-side partial moments") {
    val p = plan("q188_dim_audit")
    assert(p.contains("partial_"), s"moment rollup lost map-side combine:\n$p")
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(exchanges <= 1, s"dim audit plans $exchanges exchanges, expected 1:\n$p")
  }

  test("q189 burst: both rollups keep partial aggregation") {
    val p = plan("q189_burst")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"hourly rollup lost map-side combine:\n$p")
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(exchanges <= 2, s"burst plans $exchanges exchanges, expected <=2:\n$p")
  }

  test("q190 promo share: part joins without shuffling lineitem twice, partial aggs") {
    val p = plan("q190_promo_share")
    assert(p.contains("partial_"), s"monthly rollup lost map-side combine:\n$p")
    // at test SFs the part dim broadcasts; the only other exchange is
    // the (yr, mo) rollup
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast at test SF:\n$p")
  }

  test("q192 order gaps: median rank range-partitions, no unsalted segment window") {
    // the customer-partitioned gap lag sits behind the Barrier
    // (lineage-truncated), so the visible plan is the median side
    val p = plan("q192_order_gap")
    assert(p.contains("rangepartitioning"),
      s"median rank lost DistributedRank's range partition:\n$p")
    // 5 segments must never become a 5-task per-segment sort window:
    // the DATA-sized row_number must ride DistributedRank's salted
    // (__pid, c_mktsegment) window (the only other windows are the
    // offsets pass over the segments×partitions counts table)
    assert(p.contains("windowspecdefinition(__pid"),
      s"data rank window lost the __pid salt — would collapse onto 5 tasks:\n$p")
  }

  test("q193 cohort LTV: rollup keeps partial agg, running sum windows per cohort") {
    val p = plan("q193_cohort_ltv")
    assert(p.contains("partial_"), s"cohort rollup lost map-side combine:\n$p")
    assert(p.contains("windowspecdefinition(cohort_m"),
      s"running sum is not cohort-partitioned:\n$p")
  }

  test("q194 trigram profile: closed-domain aggregate, constant-size exchange, group limit") {
    val p = plan("q194_trigram_profile")
    // the rollup is the gram3_agg byte-walk aggregate with map-side
    // partials — the exchange ships langs × 37³-long arrays, never a
    // per-position row stream (the old char_ngrams explode shape)
    assert(p.contains("partial_gram3_agg"),
      s"trigram rollup lost the gram3_agg map-side partial:\n$p")
    assert(!p.contains("Generate char_ngrams"),
      s"q194 regressed to the per-position generator rollup:\n$p")
    // the posexplode of count arrays runs ABOVE the aggregate, on
    // ≤ langs × 37³ rows — exactly one data exchange (on lang)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"q194 should shuffle once, on lang:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-20 rank lost the group-limit push-down:\n$p")
  }

  test("q195 scenes: frame features join-free, lag windows per media, partial aggs") {
    val p = plan("q195_scenes")
    // frames are featurized in the same partition-local codec pass —
    // no join back to the media payload anywhere in the plan
    assert(!p.contains("Join"), s"frame features joined back to the payload:\n$p")
    assert(p.contains("windowspecdefinition(media_id"),
      s"frame lag is not media-partitioned:\n$p")
    assert(p.contains("partial_"), s"scene rollup lost map-side combine:\n$p")
  }

  test("q196 WAU: both distincts keep two-level partial aggregation") {
    val p = plan("q196_wau")
    assert(p.contains("partial_"), s"distinct stages lost map-side combine:\n$p")
    // the 7x contribution explosion happens BETWEEN the distincts,
    // inside the partition — no extra exchange for the explode
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(exchanges <= 3,
      s"WAU plans $exchanges exchanges, expected <=3 (2 distincts + rollup):\n$p")
  }

  test("q197 posting bits: partial-agg'd postings, top-30 take-ordered") {
    val p = plan("q197_posting_bits")
    assert(p.contains("partial_"), s"posting rollup lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 does a full sort:\n$p")
  }

  test("q198 revenue share: dims broadcast, one fact shuffle, 25-row window") {
    val p = plan("q198_rev_share")
    assert(p.contains("BroadcastHashJoin"), s"nation/region dims not broadcast:\n$p")
    assert(p.contains("partial_"), s"(region, nation) rollup lost map-side combine:\n$p")
    assert(p.contains("windowspecdefinition(r_name"),
      s"share window is not region-partitioned:\n$p")
  }

  test("q199 mixture select: salted data rank, broadcast alloc, no text shuffle") {
    val p = plan("q199_mixture_select")
    assert(p.contains("windowspecdefinition(__pid"),
      s"selection rank lost the DistributedRank salt:\n$p")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
  }

  test("q200 data card: dup census joins hashes not text, rollup partial-aggs") {
    val p = plan("q200_data_card")
    assert(p.contains("partial_"), s"card rollup lost map-side combine:\n$p")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
  }

  test("q201 custdist: priority predicate reaches the scan, left-outer join, partial aggs") {
    val p = plan("q201_custdist")
    assert(p.contains("LeftOuter"), s"zero bucket lost the left-outer join:\n$p")
    assert(p.contains("1-URGENT"), s"priority predicate not pushed toward the scan:\n$p")
    assert(p.contains("partial_count"), s"histogram lost map-side combine:\n$p")
  }

  test("q202 idle-rich: anti join ships keys only, mean rides a 1-row broadcast") {
    val p = plan("q202_idle_rich")
    assert(p.contains("LeftAnti"), s"never-ordered test lost the anti join:\n$p")
    // the anti-join build side must be the projected o_custkey column,
    // never the full order row
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("o_orderdate") && !shuffled.contains("o_totalprice"),
      s"anti join shuffled full order rows:\n$shuffled")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"mean scalar is not a 1-row broadcast:\n$p")
  }

  test("q203 bigorders: HAVING on the partial-agg'd rollup, top-100 take-ordered") {
    val p = plan("q203_bigorders")
    assert(p.contains("partial_sum"), s"per-order rollup lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 does a full sort:\n$p")
  }

  test("q204 dup weights: id/token shuffles only — text never leaves the scan") {
    val p = plan("q204_dup_weights")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
    assert(p.contains("partial_"), s"ledger rollup lost map-side combine:\n$p")
  }

  test("q205 norm dedup: both censuses shuffle md5 hashes, never text") {
    val p = plan("q205_norm_dedup")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
    assert(p.contains("partial_count"), s"dup census lost map-side combine:\n$p")
  }

  test("q207 trunc ladder: one map-only scan — no join, conditional aggs only") {
    val p = plan("q207_trunc_ladder")
    assert(!p.contains("Join"), s"ladder should be a single conditional-agg scan:\n$p")
    assert(p.contains("partial_"), s"cap aggregates lost map-side combine:\n$p")
  }

  test("q208 band precision: collision-time confirm, per-band rollup partial-aggs") {
    val p = plan("q208_band_precision")
    // one (j, sig)-keyed band self-join with the sets riding; the
    // confirm verdict reduces into the 6-row rollup with map-side
    // combine — nothing pair-grain crosses an exchange
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly the band self-join, got $joins:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"fat band relation must sort-merge, not broadcast:\n$p")
    assert(p.contains("partial_count"), s"band rollup lost map-side combine:\n$p")
  }

  test("q209 returns: both scan filters pushed, rollup before attribution joins") {
    val p = plan("q209_returns")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"return-flag predicate not pushed to the lineitem scan:\n$p")
    assert(p.contains("o_orderdate"), s"date window lost:\n$p")
    assert(p.contains("partial_sum"), s"per-customer rollup lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 does a full sort:\n$p")
  }

  test("q210 late-ship: one orderkey join into a partial-agg'd 3-row rollup") {
    val p = plan("q210_late_ship")
    assert(p.contains("partial_count"), s"bucket rollup lost map-side combine:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
    assert(joins == 1, s"expected exactly one join, got $joins:\n$p")
  }

  test("q211 pricing: ship-date cutoff reaches the scan, decimal sums partial-agg") {
    val p = plan("q211_pricing")
    assert(p.contains("l_shipdate"), s"cutoff lost from the scan side:\n$p")
    assert(p.contains("partial_sum"), s"4-row rollup lost map-side combine:\n$p")
    assert(!p.contains("Join"), s"pricing summary should be join-free:\n$p")
  }

  test("q212 order integrity: per-order rollup partial-aggs, left join keeps itemless orders") {
    val p = plan("q212_order_integrity")
    assert(p.contains("partial_count"), s"per-order rollup lost map-side combine:\n$p")
    assert(p.contains("LeftOuter"), s"itemless orders would vanish without the left join:\n$p")
  }

  test("q213 size value: part attributes broadcast, band rollup partial-aggs") {
    val p = plan("q213_size_value")
    assert(p.contains("BroadcastHashJoin"), s"part attributes not broadcast:\n$p")
    assert(p.contains("partial_sum"), s"band rollup lost map-side combine:\n$p")
  }

  test("q214 top suppliers: fact rollup before attribution joins, top-10 take-ordered") {
    val p = plan("q214_top_suppliers")
    assert(p.contains("partial_sum"), s"supplier rollup lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 does a full sort:\n$p")
    // the fact side must shuffle pre-aggregated (suppkey, rev) rows,
    // never raw lineitems
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("l_extendedprice"),
      s"raw lineitems reached the attribution shuffle:\n$shuffled")
  }

  test("q215 split leakage: pair ends labeled from ids alone — no documents join") {
    val p = plan("q215_split_leakage")
    // the split gate is a pure function of doc_id; the visible plan
    // (post-barrier) must not rejoin the documents table
    assert(!p.contains("documents"), s"split labels joined documents:\n$p")
    assert(p.contains("partial_count"), s"leak matrix lost map-side combine:\n$p")
  }

  test("q216 embdup ladder: one barriered scoring pass feeds the threshold sweep") {
    val p = plan("q216_embdup_ladder")
    // post-barrier plan: explodes + rollup only — the bucket self-join
    // ran once behind the checkpoint, never per threshold
    assert(!p.contains("embeddings"), s"ladder rescanned the corpus per threshold:\n$p")
    assert(p.contains("Generate explode"), s"threshold sweep lost the explode form:\n$p")
    assert(p.contains("partial_count"), s"ladder rollup lost map-side combine:\n$p")
  }

  test("q217 lang confusion: ONE native bigram scoring pass, totals from the matrix") {
    val p = plan("q217_lang_confusion")
    // The corpus is scored exactly once — per-language totals come
    // from a window over the ~|langs|² matrix, not a second scan.
    assert(p.linesIterator.count(_.contains("bigram_scores")) == 1,
      s"corpus must be scored exactly once:\n$p")
    assert(!p.contains("Join"), s"totals should ride a window, not a join:\n$p")
    assert(p.contains("Window"), s"per-language totals lost the matrix window:\n$p")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text") && !shuffled.contains("words"),
      s"text reached a shuffle:\n$shuffled")
  }

  test("q218 quality vs dup: membership rides id rows, 2-row rollup partial-aggs") {
    val p = plan("q218_quality_vs_dup")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
    assert(p.contains("partial_count"), s"association rollup lost map-side combine:\n$p")
  }

  test("q219 cluster size hist: two id-only rollups, both partial-agg'd") {
    val p = plan("q219_cluster_size_hist")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
    assert(p.contains("partial_count"), s"histogram lost map-side combine:\n$p")
  }

  test("q220 jaccard hist: bins off the pair kernel's counts, partial-agg'd") {
    val p = plan("q220_jaccard_hist")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
    assert(p.contains("partial_count"), s"histogram lost map-side combine:\n$p")
  }

  test("q221 pack fill: sharded packing windows, id-row rollups partial-agg'd") {
    val p = plan("q221_pack_fill")
    assert(p.contains("windowspecdefinition(lang"),
      s"packing window lost the (lang, shard) key:\n$p")
    assert(p.contains("shard"), s"packing window lost the shard salt:\n$p")
    assert(p.contains("partial_count"), s"fill rollup lost map-side combine:\n$p")
    val shuffled = p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n")
    assert(!shuffled.contains("text"), s"text reached a shuffle:\n$shuffled")
  }

  test("q191 small-qty: brand filter reaches the part scan, branded join broadcasts") {
    val p = plan("q191_small_qty")
    assert(p.contains("BroadcastHashJoin"), s"branded part filter not broadcast:\n$p")
    assert(p.contains("In(p_brand") || p.contains("p_brand"),
      s"brand predicate missing from the scan side:\n$p")
    assert(p.contains("partial_"), s"per-part pre-aggregate lost map-side combine:\n$p")
  }
}
