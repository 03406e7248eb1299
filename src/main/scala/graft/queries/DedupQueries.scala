package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.Bucketing

/** Deduplication operators over the `documents` table — the LLM-data-
  * pipeline extensions (builder brief; VERDICT round-1 item 3).
  *
  * All variants are bucketed/blocked — NEVER all-pairs:
  *  - exact: hash-groupBy on md5(text) (32-byte key shuffles, not the
  *    document body);
  *  - MinHash-LSH: 12 minhashes → 6 bands of 2 → equi-join on
  *    (band, signature) buckets, then exact Jaccard on candidates only;
  *  - SimHash: 60-bit signature → 4 bands of 15 bits → equi-join on
  *    band value, hamming ≤ 3 on candidates; band buckets above a
  *    size threshold get exact-recall multi-index sub-banding
  *    ([[simdupCandidates]]) so candidates stay collision-bound;
  *  - char-4-gram Jaccard: blocked by (lang, source) — a bounded-group
  *    blocking key — with the LSH variant as the unbounded-scale path.
  *
  * At 100 TB the only shuffled payloads are fixed-width signatures and
  * candidate doc-id pairs; shingle sets are re-joined per candidate
  * (candidate count << n²). Hot LSH buckets are the known skew risk:
  * AQE skew-join splitting is on (GraftSession) and band signatures are
  * 32-hex-char strings, so salting can be added per band if a corpus
  * has degenerate repeated content.
  *
  * Shingling: normalize to [a-z0-9]+ single-spaced, split on ' ',
  * 3-word shingles; hashes are hex-prefix slices of md5 so the DuckDB
  * oracle can reproduce them exactly (lexicographic min on fixed-width
  * lowercase hex == numeric min).
  */
object DedupQueries {

  /** doc_id + SORTED distinct 3-word shingle set (docs with ≥3
    * words). Native `word_shingles3`: shingles are contiguous
    * substrings of the single-spaced normalized text, sliced
    * zero-copy — same strings (hence same md5 minhash domain) as the
    * transform/array_join HOF chain the oracle mirrors, measured
    * ~2.8 s of the q18 wall at sf0.1 as HOFs. ≥3 words ⟺ ≥1
    * shingle, so the row set matches the oracle's `len(words) >= 3`. */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.Functions.word_shingles3(
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("sset"))
      .filter(size(col("sset")) >= 1)

  // 60-bit md5-derived shingle hashes (15 hex chars → fits BIGINT,
  // reproducible as CAST('0x'||substr(md5(s),1,15) AS BIGINT) in the
  // oracle) are applied AFTER explode so the chain stays in codegen.

  private val P = 2147483647L // Mersenne prime 2^31-1 for hash mixing

  /** Shared cluster-labeling tail for q51/q108/q204/q219: run the q18
    * confirmed pairs through ConnectedComponents and append
    * `cluster_id` to `docs` (any projection carrying `doc_id`).
    * Singletons label themselves via coalesce — the single-sourced
    * convention. The component step shuffles only (long, long) id
    * pairs; whatever else `docs` carries rides its own scan. */
  /** Cluster-label lookup for the dedup analytics family: probes the
    * persisted [[DedupArtifacts.labels]] table (doc_id, cluster_id for
    * EVERY document, singletons self-labeled) instead of re-running the
    * pair kernel + ConnectedComponents per consumer — the land-once/
    * probe-many posture a 100 TB corpus forces (one kernel pass per
    * corpus version, not per report). Inner join: the label table
    * covers every doc_id by construction. */
  private def withClusterIds(s: SparkSession, d: String, docs: DataFrame): DataFrame =
    docs.join(DedupArtifacts.labels(s, d).select("doc_id", "cluster_id"),
      Seq("doc_id"))

  /** SimHash via the scalar native `simhash60` over the per-doc
    * shingle array — map-only, no shuffle (the round-2 explode +
    * 60-conditional-sum aggregation beat the interpreted nested-HOF
    * formulation 50×; this removes its per-(doc, shingle)-row shuffle
    * too). Same md5-prefix feature-hash domain as the oracle. */
  private def simhashDF(s: SparkSession, d: String): DataFrame =
    shingleSets(s, d).select(col("doc_id"),
      graft.Functions.simhash60(col("sset")).as("simhash"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one representative (min doc_id) per content hash.
    // Grouping key is md5(text), not text — at 100 TB the shuffle
    // carries 32-byte keys instead of document bodies.
    "q15_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast(BinaryType)).as("content_hash"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).cast(LongType).as("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup: band-bucket candidate join + exact Jaccard
    // (inter/uni as integers — no float compare), threshold 0.6.
    // One md5 per distinct shingle; the 12 minhash functions are cheap
    // universal-hash mixes (a_k·h + b_k mod 2^31-1) of that one hash —
    // 12× less digest work than hashing per (seed, shingle), and the
    // union size is na+nb−inter instead of materializing array_union.
    "q18_minhash" -> ((s, d) => minhashNearDupPairs(s, d).orderBy("doc_a", "doc_b")),

    // Near-dup CLUSTERS: q18's pairs grouped into connected
    // components (component id = min doc_id), every document labeled,
    // keep = 1 for the cluster representative — the actionable form
    // of dedup (a 100 TB pipeline drops rows where keep = 0). The
    // component step shuffles only (long, long) id pairs; see
    // graft.ops.ConnectedComponents for the round-complexity and
    // skew story.
    "q51_cluster" -> ((s, d) => {
      // the artifact IS this query's output contract: (doc_id,
      // cluster_id, keep) for every document, min-id representative
      DedupArtifacts.labels(s, d).orderBy("doc_id")
    }),

    // Chain-inflation audit — the honesty check on transitive
    // clustering (q51/q108): connected components merge A–B–C into
    // one cluster even when A and C were never directly confirmed
    // similar, and at loose thresholds chains OVER-merge (the classic
    // near-dup false-kill). Per multi-member cluster: members,
    // possible pairs n(n−1)/2, directly-confirmed q18 pairs, and
    // chain_ppm = unconfirmed share — clusters near 0 are cliques
    // (safe to collapse), clusters near 1e6 are chains (review the
    // threshold before dropping members). Pairs compute ONCE
    // (Barrier) and feed both the CC labeling and the per-cluster
    // confirmed count; everything after the pair kernel shuffles only
    // (long, long) ids; cluster-sized output.
    "q238_chain_audit" -> ((s, d) => {
      // both inputs are artifact probes (land-once/probe-many): the
      // full-corpus label table narrows to multi-member clusters —
      // exactly the components CC emitted (every component has ≥ 2
      // members; singletons self-label with their own id, which can
      // never collide with a component's min-id label on another doc)
      val pairs = DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
      val labels = DedupArtifacts.labels(s, d).select("doc_id", "cluster_id")
      val cl = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
      val conf = pairs
        .join(labels.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .groupBy("cluster_id").agg(count(lit(1)).as("n_confirmed"))
      cl.join(conf, Seq("cluster_id"), "left")
        .select(col("cluster_id"), col("n_members"),
          expr("(n_members * (n_members - 1)) div 2").as("n_possible"),
          coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"))
        .withColumn("chain_ppm",
          expr("((n_possible - n_confirmed) * 1000000) div n_possible"))
        .orderBy("cluster_id")
    }),

    // Near-dup provenance contingency — WHERE does duplication come
    // from: each confirmed q18 pair classified by (same_lang,
    // same_source) into a 2×2 census with exact ppm shares.
    // Same-source pairs are re-posts the source-level cap (q62)
    // already dampens; cross-source same-lang pairs are scrape
    // overlap (the case dedup exists for); cross-LANG pairs flag
    // either language-ID errors (q217's cell) or translated copies —
    // each cell warrants a different pipeline response, which is why
    // the census leads the dedup runbook. Scale shape: the metadata
    // join ships (long, lang, source) triples — never text — against
    // collision-bounded pairs; the census is ≤4 rows and the total
    // broadcasts back for the share.
    "q244_dup_provenance" -> ((s, d) => {
      val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      val cells = DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
        .join(meta.select(col("doc_id").as("doc_a"),
          col("lang").as("la"), col("source").as("sa")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"),
          col("lang").as("lb"), col("source").as("sb")), "doc_b")
        .select((col("la") === col("lb")).as("same_lang"),
          (col("sa") === col("sb")).as("same_source"))
        .groupBy("same_lang", "same_source")
        .agg(count(lit(1)).as("n_pairs"))
      cells.crossJoin(broadcast(cells.agg(sum(col("n_pairs")).as("t"))))
        .select(col("same_lang"), col("same_source"), col("n_pairs"),
          expr("cast((n_pairs * 1000000) div t as bigint)").as("share_ppm"))
        .orderBy("same_lang", "same_source")
    }),

    // Deletion propagation ("right to be forgotten" / takedown
    // compliance) — what a retention request does to the LANDED dedup
    // artifacts, not just the corpus: tombstoned documents (a
    // deterministic ~2% md5 gate standing in for the legal list) are
    // removed from their clusters, and every touched cluster re-elects
    // its canonical under the same min-id convention q51/q108 pin —
    // new_keep = min surviving member, NULL when the whole cluster is
    // wiped. This is the table a 100 TB pipeline needs BEFORE it
    // rewrites anything: which label rows change, which canonicals
    // move (retrain/re-embed triggers), which clusters vanish.
    // Scale shape: the tombstone list is tiny next to the corpus, so
    // affected cluster ids (≤ tombstones) BROADCAST back against the
    // bucketed label table — the full-corpus scan is map-only against
    // the broadcast set and only affected-cluster rows (≈ tombstones ×
    // mean cluster size) reach the re-election aggregate; untouched
    // clusters are never shuffled. q263_repack_plan is the same
    // tombstone set's blast radius on the packing artifact.
    "q262_forget" -> ((s, d) => {
      val del = expr(
        "pmod(cast(conv(substring(md5(concat('tomb:', cast(doc_id as string))), " +
          "1, 15), 16, 10) as bigint), 50) = 0")
      val lab = DedupArtifacts.labels(s, d)
        .select(col("doc_id"), col("cluster_id"), del.as("del"))
      val touched = lab.filter(col("del")).select("cluster_id").distinct()
      lab.join(broadcast(touched), Seq("cluster_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_before"),
          sum(col("del").cast(LongType)).as("n_del"),
          min(when(!col("del"), col("doc_id"))).as("new_keep"))
        .select(col("cluster_id"), col("n_before"), col("n_del"),
          (col("n_before") - col("n_del")).as("n_after"), col("new_keep"))
        .orderBy("cluster_id")
    }),

    // Prefix-filter exact set-similarity self-join (AllPairs/PPJoin
    // prefix principle) — the DETERMINISTIC-recall alternative to
    // q18's MinHash-LSH on the same shingle sets and threshold
    // (Jaccard ≥ 0.6): LSH recall is probabilistic in the band
    // parameters; the prefix filter is provably COMPLETE. Tokens get
    // one global total order (document frequency ASC, then shingle —
    // rarest first, the candidate-minimizing order); a set of size n
    // indexes only its first L = n − ceil(0.6·n) + 1 tokens. Any pair
    // with J ≥ 0.6 shares its globally-smallest common token inside
    // BOTH prefixes (if a's prefix missed every common token, at most
    // ceil(0.6·na) − 1 positions remain after the prefix — fewer than
    // the ≥ ceil(0.6·na) common tokens J ≥ 0.6 forces), so the
    // equi-join on prefix tokens plus the size-ratio prune
    // (5·min ≥ 3·max, the J upper bound min/max) loses nothing, and
    // the exact intersect confirms candidates exactly like q18's
    // tail. Scale shape: df is one partial-agg'd vocabulary rollup;
    // the ordering window is PARTITIONED BY doc (doc-length-bounded
    // state, any corpus size); only ~0.4·n+1 prefix tokens per doc
    // enter the self-join, and rare-first ordering keeps per-token
    // fan-out near-minimal — corpus-boilerplate shingles land in
    // prefixes only for docs that are mostly boilerplate. Hot prefix
    // tokens split under AQE skew-join like q18's hot bands.
    // FEASIBILITY GATE ([[prefixJoin]]): a census over the prefix
    // tokens bounds the candidate-pair count BEFORE the join; past
    // [[prefixJoinBudget]] the query refuses in seconds with a
    // pointer to q18 instead of dying in GC (the recorded sf10
    // envelope on the capped-vocabulary synthetic corpus).
    "q245_prefix_join" -> ((s, d) => prefixJoin(s, d)),

    // Blocking-scheme evaluation — the ER-textbook meta-audit of a
    // blocking key BEFORE you trust it: reduction ratio (how many of
    // the n(n−1)/2 comparisons the (lang, source) blocks avoid) vs
    // pair completeness (how many TRUE near-dup pairs land inside one
    // block — here q18's confirmed pairs as ground truth, the same
    // ends q244 classifies). RR without PC rewards blocking that
    // drops everything; PC without RR rewards no blocking at all —
    // the audit reports both so the trade is explicit. Exact
    // integers: block census → Σ c(c−1)/2 in Decimal(38,0) (block
    // squares overflow Long at 100 TB), true-pair ends join the
    // (long, lang, source) metadata only. Universe = docs with ≥1
    // shingle (q18's own domain) so RR and PC count the same world.
    "q257_blocking_eval" -> ((s, d) => {
      val meta = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")),
            " ")).as("nw"))
        .filter(col("nw") >= 3)
        .select(col("doc_id"), col("lang"), col("source"))
      val census = meta.groupBy("lang", "source").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).cast(DecimalType(38, 0)).as("n"),
          sum(expr("cast(c as decimal(38,0)) * (c - 1)")).as("cand2"))
      val pairs = DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
        .join(meta.select(col("doc_id").as("doc_a"),
          col("lang").as("la"), col("source").as("sa")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"),
          col("lang").as("lb"), col("source").as("sb")), "doc_b")
        .agg(count(lit(1)).as("pairs_total"),
          sum(when(col("la") === col("lb") && col("sa") === col("sb"), 1L)
            .otherwise(0L)).as("pairs_found"))
      census.crossJoin(broadcast(pairs))
        .select(col("n").cast(LongType).as("n_docs"),
          expr("cast(cand2 div 2 as bigint)").as("cand_pairs"),
          expr("cast((n * (n - 1)) div 2 as bigint)").as("total_pairs"),
          // the /2 cancels: reduction = 1 − cand2/(n(n−1)) — staying in
          // Decimal until the single final div avoids Long overflow on
          // the 10²²-scale pair counts a 100 TB corpus produces
          expr("""cast(((n * (n - 1) - cand2) * 1000000)
                       div (n * (n - 1)) as bigint)""")
            .as("reduction_ppm"),
          col("pairs_total"), col("pairs_found"),
          expr("cast((pairs_found * 1000000) div pairs_total as bigint)")
            .as("completeness_ppm"))
    }),

    // Canonical-document selection — the DECISION step that turns
    // near-dup clusters into a training corpus: within each q51
    // cluster keep exactly one representative, chosen by content
    // richness (max n_chars, ties to the smaller doc_id) rather than
    // q51's structural min-id convention — the real pipelines keep
    // the best copy, not an arbitrary one. Scale shape: the cluster
    // labels ride the (long, long) CC output; the argmax is one
    // row_number window over cluster_id — clusters are tiny by
    // construction (near-dup groups), singletons dominate, so the
    // window state per partition is bounded by the largest dup
    // cluster, never the corpus.
    "q108_canonical" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("cluster_id")
        .orderBy(desc("n_chars"), col("doc_id"))
      withClusterIds(s, d, Tables.documents(s, d).select("doc_id", "n_chars"))
        .withColumn("keep", (row_number().over(w) === 1).cast(LongType))
        .orderBy("doc_id")
    }),

    // Duplicate-discounted corpus weights — the SOFT alternative to
    // q108's hard drop: instead of keeping one copy per near-dup
    // cluster, every copy survives with sampling weight 1/cluster_size
    // (the standard loss-reweighting treatment, so a document repeated
    // 40× contributes ~1 document of gradient signal, not 40). Output
    // is the per-language token ledger a mixture planner consumes:
    // raw vs effective tokens (exact millionth units via integer
    // division — no float weights to diverge). The millionth-unit
    // rollup accumulates in Decimal(38,0) (the q211 discipline —
    // per-row values fit a Long, but at 100 TB a Long SUM of
    // 1e12-sized units wraps; DuckDB's HUGEINT sum is the oracle
    // mirror), cast to bigint only at presentation. Scale shape:
    // cluster labels ride the (long, long) CC output; the size rollup
    // and the join back both shuffle cluster-keyed (id, toks) rows —
    // text never leaves the scan; token convention is q200's n_chars/4.
    "q204_dup_weights" -> ((s, d) => {
      val docs = withClusterIds(s, d, Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), expr("n_chars div 4").as("toks")))
      val sizes = docs.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
      docs.join(sizes, "cluster_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("toks")).cast(LongType).as("raw_toks"),
          sum(expr("cast((toks * 1000000) div csz as decimal(38,0))"))
            .cast(LongType).as("eff_tok_millionths"))
        .orderBy("lang")
    }),

    // Cluster-size histogram — the shape-of-duplication report on a
    // data card (how much of the corpus sits in 2-doc twins vs big
    // template families; q175 profiles node degrees, this profiles
    // whole components incl. singletons): cluster labels ride the
    // (long, long) CC output, singletons label themselves via
    // coalesce, then two partial-agg'd integer rollups — sizes, then
    // the size histogram.
    "q219_cluster_size_hist" -> ((s, d) => {
      withClusterIds(s, d, Tables.documents(s, d).select("doc_id"))
        .select("cluster_id")
        .groupBy("cluster_id").agg(count(lit(1)).as("csz"))
        .groupBy("csz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("csz")
    }),

    // Confirmed-pair similarity histogram — the Jaccard DISTRIBUTION
    // above the 0.6 gate (q216 is this curve for embedding cosine):
    // a mass near 1.0 says exact-ish copies dominate (cheap exact
    // dedup would catch most), mass near the gate says the threshold
    // choice is load-bearing. Bins are exact integer arithmetic on
    // the inter/uni counts the pair kernel already carries — 5-point
    // bins, no floats, id-count rows only.
    "q220_jaccard_hist" -> ((s, d) => {
      DedupArtifacts.pairs(s, d)
        .select(expr("((inter * 100) div uni) div 5 * 5").as("j_bin"))
        .groupBy("j_bin").agg(count(lit(1)).as("n_pairs"))
        .orderBy("j_bin")
    }),

    // Train/test split LEAKAGE audit — the eval-integrity check every
    // training pipeline needs and most skip: near-duplicate pairs
    // that CROSS q145's deterministic split boundaries (a test doc
    // with a near-dup twin in train inflates eval scores exactly like
    // benchmark contamination). The split is a pure function of
    // doc_id (q145's md5 gate), so each pair end is labeled WITHOUT
    // joining documents — the only inputs are the (long, long)
    // confirmed pairs; output is the unordered split×split matrix
    // with a leak flag on the off-diagonal cells. The gate is
    // TextQueries.splitName — the SAME definition q145 ships, so the
    // audit can never drift from the split it audits.
    "q215_split_leakage" -> ((s, d) => {
      DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
        .select(TextQueries.splitName("doc_a").as("sp_a"),
          TextQueries.splitName("doc_b").as("sp_b"))
        .select(least(col("sp_a"), col("sp_b")).as("split_lo"),
          greatest(col("sp_a"), col("sp_b")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leak",
          (col("split_lo") =!= col("split_hi")).cast(LongType))
        .orderBy("split_lo", "split_hi")
    }),

    // LSH banding PRECISION audit — q183 measures what the banding
    // MISSED (recall); this measures what it WASTED: per band, how
    // many candidate pairs the band surfaced and what fraction
    // survived the exact Jaccard gate. The per-band attribution is
    // the tuning signal for the bands×rows trade (a band with
    // precision near zero is pure shuffle cost; uniform precision
    // says the signature mixing is healthy). The SAME shared kernel
    // as q18 — [[bandSignatures]] for the banding — with the shingle
    // sets riding the band rows so the exact confirm runs AT COLLISION
    // TIME in the band join's own stage (q21's measured shape: the
    // former candidate-distinct + scorePairs verdict join shipped
    // every candidate through a pair-grain exchange and re-sorted the
    // corpus-sized set relation twice; here nothing pair-grain ever
    // crosses an exchange — the collision rows reduce straight into
    // the 6-row per-band rollup via map-side partial agg). A pair
    // surfacing in 3 bands now pays 3 merge walks instead of 1 — the
    // measured q21 trade: ~100 extra integer compares per duplicate
    // collision against two corpus-sized sort+shuffle rounds. Each
    // (j, da, db) collision row is unique by construction (one
    // signature per doc per band), so counting rows = counting
    // candidate pairs, as before.
    "q208_band_precision" -> ((s, d) => {
      val m = graft.ops.Barrier(shingleSets(s, d).select(col("doc_id"),
        col("sset"), size(col("sset")).cast(LongType).as("nset"),
        graft.Functions.minhash_array(col("sset")).as("mh")))
      val bands = bandSignatures(m, carrySets = true).hint("merge")
      bands.as("a")
        .join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.sig") === col("b.sig")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.j").as("j"),
          graft.Functions.sorted_intersect_count(col("a.sset"), col("b.sset")).as("inter"),
          (col("a.nset") + col("b.nset")).as("nsumab"))
        .select(col("j"),
          when(col("inter") * 5 >= (col("nsumab") - col("inter")) * 3, 1L)
            .otherwise(0L).as("pass"))
        .groupBy("j")
        .agg(count(lit(1)).as("n_cand"), sum(col("pass")).cast(LongType).as("n_pass"))
        .select(col("j").cast(LongType).as("band"), col("n_cand"), col("n_pass"),
          expr("(n_pass * 1000000) div n_cand").as("precision_ppm"))
        .orderBy("band")
    }),

    // LSH banding-recall audit — the index-quality gate for DEDUP
    // that q77 is for ANN: q126 calibrates the estimator on pairs the
    // banding SURFACED, but only a ground-truth block can show what
    // banding MISSED (6 bands × 2 rows has theoretical recall ~0.93
    // at j = 0.6 — misses are expected, and a pipeline dropping
    // billions of docs on this index should measure them). Design:
    // every doc hashes into one of 200 deterministic blocks (the q41
    // md5 gate), blocks 0-7 form the audit sample; ground truth =
    // exact-Jaccard-≥-0.6 pairs WITHIN a block (block-local pairs are
    // an unbiased pair sample, and the all-pairs work stays inside
    // blocks — an equi-join on blk, never a corpus cartesian);
    // found = those pairs q18's band join also surfaced. The modulus
    // GROWS ∝ corpus (max(200, ceil(n/250)) — 200 at every sf ≤ 1,
    // keeping history bit-identical; 2000 at sf10) so block size and
    // the per-block all-pairs budget stay ~250 docs / ~31k pairs at
    // any scale — the q146 guard discipline, previously promised by
    // this comment but hardcoded at 200 (measured 22×/decade at sf10
    // in the r15 full-suite sweep; constant-work now). The audit
    // sample is blocks 0-7: a fixed ~2000-doc unbiased pair sample,
    // which is the statistical contract of a recall AUDIT, not a
    // corpus-sized recompute. The oracle derives the same modulus
    // from count(documents).
    "q183_lsh_recall" -> ((s, d) => {
      val mod = math.max(200L, (Tables.documents(s, d).count() + 249L) / 250L)
      val blkCol = expr(
        s"pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint), $mod)")
      val sampled = graft.ops.Barrier(shingleSets(s, d)
        .withColumn("blk", blkCol).filter(col("blk") < 8)
        .select(col("blk"), col("doc_id"), col("sset"),
          size(col("sset")).cast(LongType).as("nset")))
      val l = sampled.select(col("blk"), col("doc_id").as("doc_a"),
        col("sset").as("sa"), col("nset").as("na"))
      val r = sampled.select(col("blk"), col("doc_id").as("doc_b"),
        col("sset").as("sb"), col("nset").as("nb"))
      val truth = l.join(r, Seq("blk"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("inter",
          graft.Functions.sorted_intersect_count(col("sa"), col("sb")))
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 3)
        .select(col("blk"), col("doc_a"), col("doc_b"))
      // found arm over the SAMPLED docs only: a within-block pair's
      // band collision and confirm depend only on the two docs' own
      // signatures/sets, so restricting the q18 pipeline to blk < 8
      // is byte-identical to probing the corpus-wide pair set —
      // ~25× less band-join work at the 4% sample rate
      val m = graft.ops.Barrier(sampled.select(col("doc_id"),
        col("sset"), col("nset"),
        graft.Functions.minhash_array(col("sset")).as("mh")))
      val sBands = m.select(col("doc_id"),
        expr(s"""explode(transform(sequence(0, 5), j ->
                   struct(j as j, element_at(mh, 2*j+1) * ${P}L + element_at(mh, 2*j+2) as sig)))""")
          .as("b"))
        .select(col("doc_id"), col("b.j").as("j"), col("b.sig").as("sig"))
      val cand = sBands.as("a")
        .join(sBands.as("b"),
          col("a.j") === col("b.j") && col("a.sig") === col("b.sig")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      val found = scorePairs(m, cand)
        .filter(col("inter") * 5 >= (col("na") + col("nb") - col("inter")) * 3)
        .select(col("doc_a"), col("doc_b")).withColumn("hit", lit(1L))
      val per = truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
        .groupBy("blk")
        .agg(count(lit(1)).as("true_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("found_pairs"))
      sampled.groupBy("blk").agg(count(lit(1)).as("n_docs"))
        .join(per, Seq("blk"), "left_outer")
        .select(col("blk"), col("n_docs"),
          coalesce(col("true_pairs"), lit(0L)).as("true_pairs"),
          coalesce(col("found_pairs"), lit(0L)).as("found_pairs"))
        .orderBy("blk")
    }),

    // Containment scoring — the ASYMMETRIC near-dup measure Jaccard
    // resemblance can't express: C(A,B) = |S_A ∩ S_B| / min(|S_A|,
    // |S_B|) flags a short document embedded in a longer one (quotes,
    // excerpts, boilerplate-wrapped reposts) even when the size gap
    // keeps Jaccard below any dedup threshold. Candidates come from
    // the same 6×2 MinHash band join as q18 (LSH on resemblance —
    // documented recall limit for extreme-size-ratio pairs; the
    // production fix is a second index on the smaller side's bands),
    // exact intersections confirm, and the emitted score is an exact
    // integer ppm. Same shuffle posture as q18: signatures and id
    // pairs only, shingle sets re-joined per candidate.
    "q109_containment" -> ((s, d) => {
      // ubKeep states q109's OWN gate: containment ≥ 0.9 on the
      // smaller set (inter ≥ ⌈0.9·min(na,nb)⌉) — NOT q18's Jaccard
      graft.ops.Barrier(minhashScored(s, d,
        ubKeep = (ub, na, nb) => ub * 10 >= least(na, nb) * 9))
        .withColumn("n_small", least(col("na"), col("nb")))
        .filter(col("inter") * 10 >= col("n_small") * 9)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("n_small"),
          expr("(inter * 1000000) div n_small").as("cont_ppm"))
        .orderBy("doc_a", "doc_b")
    }),

    // Source-overlap provenance matrix — the dedup ANALYTICS view a
    // corpus team actually reads: which ingest sources share near-dup
    // content with which (mirror detection, feed-of-a-feed, scraper
    // overlap). q18's confirmed pairs joined to per-doc source
    // metadata, counted per unordered source pair. Scale shape: the
    // pair set is collision-bounded (tiny next to the corpus), so
    // both metadata joins broadcast the PAIRS side and the final
    // aggregate is sources²-sized; the corpus itself is read only by
    // the shared signature pipeline.
    "q113_overlap" -> ((s, d) => {
      val pairs = DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
      val meta = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(meta.toDF("doc_a", "src_a"), "doc_a")
        .join(meta.toDF("doc_b", "src_b"), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .groupBy("source_x", "source_y").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_x", "source_y")
    }),

    // q113's 100 TB SCALE VARIANT (the q79→q80 / q114→q116
    // discipline): the exact provenance matrix re-derives near-dup
    // PAIRS, so its cost is the whole LSH pipeline; the estimation
    // question a corpus team asks FIRST — "which source pairs overlap
    // at all, roughly how much?" — needs only per-source content
    // SKETCHES. Each source's 3-word-shingle set collapses to a
    // 64-value KMV bottom-k sketch (kmv_mins: mergeable,
    // map-side-combined, 512 bytes per source crossing the wire
    // regardless of source size), and the pairwise Jaccard estimate
    // is the Beyer et al. SIGMOD'07 union-sketch estimator
    // |U ∩ A ∩ B| / |U| computed sources²-at-a-time on a broadcast
    // frame of sketches. Integer outputs (count + ppm ratio) over the
    // shared md5-prefix hash domain → the sketch itself hash-matches
    // the oracle, no tolerance band. Sketch error is the documented
    // trade-off (~1/√64 ≈ 12% relative); q113 remains the exact form.
    "q117_kmv_overlap" -> ((s, d) => {
      val hs = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.Functions.word_shingles3(
            trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))).as("sh"))
        .select(col("source"),
          conv(substring(md5(col("sh")), 1, 15), 16, 10).cast(LongType).as("h"))
      val sk = hs.groupBy("source")
        .agg(graft.Functions.kmv_mins(col("h"), 64).as("mins"))
      val a = sk.select(col("source").as("source_x"), col("mins").as("ma"))
      val b = sk.select(col("source").as("source_y"), col("mins").as("mb"))
      a.join(broadcast(b), col("source_x") < col("source_y"))
        .withColumn("u", slice(array_sort(array_union(col("ma"), col("mb"))), 1, 64))
        .select(col("source_x"), col("source_y"),
          size(col("u")).cast(LongType).as("k_u"),
          size(array_intersect(array_intersect(col("u"), col("ma")), col("mb")))
            .cast(LongType).as("n_common"))
        .withColumn("jaccard_ppm", expr("(n_common * 1000000) div k_u"))
        .orderBy("source_x", "source_y")
    }),

    // MinHash estimator-quality audit — the sketch-calibration view
    // behind q18's threshold choice: for every band-collision
    // candidate pair, the signature-agreement estimate (matching
    // components / 12 — E[match] = true Jaccard) NEXT TO the exact
    // Jaccard, both in ppm. This is how a corpus team picks band/rows
    // counts for a new domain: plot est vs exact, see the S-curve.
    // Emitting ALL candidates, not just confirmed ones, is the point —
    // the estimator's behavior below threshold is what calibration
    // needs — so q18's bitmap prune cannot apply here. Instead the
    // shuffle posture is q21's collision-time scoring: sets and
    // signatures RIDE the band rows into the self-join and the exact
    // intersect + estimator run in the join's own stage, so the only
    // pair-grain exchange carries (da, db, inter, nsum, est12) — ~40
    // bytes — where the candidate-distinct + two corpus-sized
    // sorted-set attach joins previously shipped every candidate next
    // to two ~100-element shingle arrays (the measured 100 GB shape
    // that killed q21 at sf10). Multi-band duplicates fold in the
    // same aggregate (values are pair-functional, so max = the value).
    "q126_minhash_est" -> ((s, d) => {
      val m = graft.ops.Barrier(shingleSets(s, d).select(col("doc_id"),
        col("sset"), size(col("sset")).cast(LongType).as("nset"),
        graft.Functions.minhash_array(col("sset")).as("mh")))
      val bands = m.select(col("doc_id"), col("sset"), col("nset"), col("mh"),
        expr(s"""explode(transform(sequence(0, 5), j ->
                   struct(j as j, element_at(mh, 2*j+1) * ${P}L + element_at(mh, 2*j+2) as sig)))""")
          .as("b"))
        .select(col("doc_id"), col("sset"), col("nset"), col("mh"),
          col("b.j").as("j"), col("b.sig").as("sig"))
        // merge hint: the band rows now carry the shingle arrays, so a
        // Catalyst size underestimate (computed columns over the
        // barriered scan) must not broadcast a multi-GB relation —
        // same discipline as scorePairs/ngramScored
        .hint("merge")
      bands.as("a")
        .join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.sig") === col("b.sig")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          graft.Functions.sorted_intersect_count(col("a.sset"), col("b.sset")).as("inter"),
          (col("a.nset") + col("b.nset")).as("nsum"),
          aggregate(zip_with(col("a.mh"), col("b.mh"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x).as("est12"))
        .groupBy(col("da").as("doc_a"), col("db").as("doc_b"))
        .agg(max(col("est12")).as("est12"), max(col("inter")).as("inter"),
          max(col("nsum")).as("nsum"))
        .select(col("doc_a"), col("doc_b"), col("est12"),
          expr("(est12 * 1000000) div 12").as("est_ppm"),
          expr("(inter * 1000000) div (nsum - inter)").as("jac_ppm"))
        .orderBy("doc_a", "doc_b")
    }),

    // Triangle enumeration over the near-dup graph — the cluster-QA
    // audit beyond connected components: q51 merges by TRANSITIVE
    // closure, so a chain a–b–c lands in one cluster on two edges
    // alone; a triangle is a mutually-confirmed trio. The ratio of
    // triangles to 2-paths inside a cluster is the standard
    // false-merge signal (low edge density = chained merges of
    // dissimilar docs). Implementation is the degree-ORIENTED
    // distributed algorithm (Cohen, "Graph Twiddling in a MapReduce
    // World", CiSE 2009): orient every edge from its lower-(degree,
    // id) endpoint, build wedges only at each edge's SOURCE, close
    // against oriented edges. Orientation bounds every node's
    // out-degree by O(√|E|) — a celebrity hub generates NO wedges at
    // its own node because its edges all point AWAY from it — so the
    // wedge join never goes quadratic in a skewed degree
    // distribution; shuffles carry (long, long, long) rows only.
    "q119_triangles" -> ((s, d) => {
      graft.ops.Triangles(
        DedupArtifacts.pairs(s, d).select(col("doc_a").as("u"), col("doc_b").as("v")))
        .orderBy("a", "b", "c")
    }),

    // Incremental dedup — the production mode of a corpus that grows
    // daily: dedup the NEW batch (the doc_id % 10 ∈ {8,9} slice, so
    // the 80/20 history/batch ratio holds at every SF) against the
    // HISTORICAL corpus without re-pairing history with itself. The
    // content key is bag-of-words (md5 of the sorted distinct word
    // set — order-insensitive, catches shuffled re-posts exact md5
    // misses). Shape: the historical key set collapses into a bloom
    // (a few MB at any history size) probed MAP-SIDE on the new
    // batch — the exact left-semi confirm then shuffles only bloom
    // positives (~matching fraction + FPP), never the history or the
    // batch. Same sketch→candidates→exact pattern as q52/q54.
    "q63_incdedup" -> ((s, d) => {
      val keyed = Tables.documents(s, d).select(col("doc_id"),
        md5(expr("array_join(array_sort(array_distinct(split(" +
          "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '))), ' ')")
          .cast(BinaryType)).as("bow"))
      val hist = keyed.filter(col("doc_id") % 10 < 8).select("bow")
      val bloom = hist
        .agg(graft.Functions.bloom_agg(xxhash64(col("bow")), 1 << 20).as("bf"))
        .scalar()
      val batch = keyed.filter(col("doc_id") % 10 >= 8)
      val dups = batch
        .filter(graft.Functions.bloom_contains(bloom, xxhash64(col("bow"))))
        .join(hist, Seq("bow"), "left_semi")
        .select(col("doc_id"))
        .withColumn("hit", lit(true))
      batch.join(dups, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_dup"))
        .orderBy("doc_id")
    }),

    // Incremental NEAR-dup — q63's fuzzy counterpart: the new batch's
    // near-duplicates OF HISTORY via q18's exact MinHash-LSH
    // machinery with a cross-set pair predicate (hist × batch bands
    // only) — history never re-pairs with itself, so the incremental
    // cost is O(batch signatures + collisions), not O(corpus²). At
    // 100 TB the history side is a PERSISTED band table bucketed on
    // the fused band key — [[writeNearDupHistory]] writes it and
    // [[incNearDupsAgainstHistory]] probes it with no Exchange on
    // the history side (DedupHistorySpec pins plan + q64 parity);
    // recomputing history here is testdata convenience, not the
    // shape.
    "q64_incneardup" -> ((s, d) => {
      val scored = graft.ops.Barrier(minhashScored(s, d,
        (a, b) => a % 10 < 8 && b % 10 >= 8, ubKeep = keepJaccard06))
      scored
        .select(col("doc_a").as("hist_doc"), col("doc_b").as("new_doc"),
          col("inter"), (col("na") + col("nb") - col("inter")).as("uni"))
        .filter(col("inter") * 5 >= col("uni") * 3)
        .orderBy("new_doc", "hist_doc")
    }),

    // MinHash signatures via the custom TypedImperativeAggregate —
    // the 100 TB-shape formulation: shingles stream through explode,
    // group state is a fixed 12-long vector (no per-doc arrays),
    // map-side partial aggregation applies. Same hash family as q18.
    // Output is posexploded to scalar (doc_id, k, mh_k) rows — the
    // driver's comparator hashes scalar cells only (an ARRAY column is
    // un-comparable there); q18 keeps consuming the array form.
    "q32_minhash_sig" -> ((s, d) => {
      shingleSets(s, d)
        .select(col("doc_id"), explode(col("sset")).as("sh"))
        .select(col("doc_id"),
          expr(s"pmod(cast(conv(substring(md5(sh), 1, 15), 16, 10) as bigint), $P)").as("hm"))
        .groupBy("doc_id")
        .agg(graft.Functions.minhash_agg(col("hm")).as("mh"))
        .select(col("doc_id"), posexplode(col("mh")))
        .select(col("doc_id"), col("pos").cast(LongType).as("k"),
          col("col").as("mh_k"))
        .orderBy("doc_id", "k")
    }),

    // SimHash: 60-bit signature per doc (sign of per-bit +-1 sums over
    // shingle hashes). Full per-doc oracle parity.
    "q19_simhash" -> ((s, d) => {
      simhashDF(s, d).orderBy("doc_id")
    }),

    // SimHash near-dup pairs: 4 bands of 15 bits → bucket join →
    // hamming ≤ 3 (bit_count of xor) on candidates only, with a
    // band-bucket size guard (see [[simdupNearDups]]): 15-bit bands
    // give a CONSTANT 32k buckets per band, so without the guard a
    // bucket's population grows O(n) and its pair count O(n²).
    "q20_simdup" -> ((s, d) => simdupNearDups(simhashDF(s, d))),

    // Character-4-gram Jaccard near-dup, blocked by (lang, source)
    // with a block-size guard: blocks above `maxBlock` (2048 — a
    // per-block pair budget, see [[ngramNearDups]]) fall back to
    // MinHash-LSH candidate generation (q18's machinery) instead of
    // all-pairs. Threshold 0.5 (2*inter >= uni). At every sf ≤ 1
    // every block is under the guard, so the oracle is the exact
    // all-pairs formulation.
    "q21_ngram" -> ((s, d) => ngramNearDups(Tables.documents(s, d))),

    // Winnowing shared-fingerprint audit (the MOSS shape: winnow, then
    // count shared selected fingerprints per doc pair). The native
    // `winnow(t, 8, 4)` kernel (graft.functions.Winnow) selects
    // per-window minima over rolling char-8-gram hashes MAP-ONLY — the
    // fingerprint set rides the document row at ~2/(w+1) of the k-gram
    // density, and the winnowing guarantee (any shared run ≥ k+w−1
    // chars shares a fingerprint) is what `hash % p = 0` sampling
    // can't give. Only the ~(doc_id, h) sample pairs shuffle. The
    // df ≤ 20 gate drops corpus-boilerplate fingerprints BEFORE
    // pairing — simultaneously the pair-budget bound (per-fingerprint
    // join fan-out ≤ df²) and the quality fix MOSS itself applies; at
    // 100 TB the over-df list is tiny and broadcasts as an anti-join,
    // and hot fingerprints below the cap split under AQE skew-join.
    "q101_winnow" -> ((s, d) => {
      // Barrier: `sel` feeds the df gate AND both pair arms — and the
      // re-aggregated df table must not share attribute lineage with
      // the probe side (ambiguous-self-join trap), so the gate key is
      // renamed and probed as a left anti join.
      val sel = graft.ops.Barrier(Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.Functions.winnow(
            trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), 8, 4))
            .as("fp"))
        .select(col("doc_id"), expr("fp div 2097152").as("h"))
        .distinct())
      val boilerplate = sel.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 20).select(col("h").as("bad_h"))
      val gated = sel.join(broadcast(boilerplate),
        col("h") === col("bad_h"), "left_anti")
      gated.as("a")
        .join(gated.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 10)
        .orderBy("doc_a", "doc_b")
    }),

    // 2-core peel — strip the hairs off the near-dup graph so what's
    // left is genuinely CLUSTERED duplication (a doc with one chance
    // collision is noise; a doc whose neighbors also interlink is a
    // template family). Classic k-core by iterative peeling, run a
    // FIXED 8 rounds so the result is oracle-replayable whether or
    // not the peel has converged (on this graph it converges in ≤3).
    // Scale shape: q51's discipline — every round shuffles (long,
    // long) id pairs only: a degree count with map-side combine and
    // two broadcast-able left-semi probes against the surviving-node
    // set; Barrier per round keeps the lineage flat. Output = the
    // surviving nodes with their in-core degree.
    "q149_kcore" -> ((s, d) => {
      // artifact probe: the bucketed pair table is already materialized,
      // so round 0 needs no Barrier of its own
      var edges = DedupArtifacts.pairs(s, d)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      for (_ <- 1 to 8) {
        val keep = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2).select("node")
        edges = graft.ops.Barrier(edges
          .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
      }
      edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .orderBy("node")
    }),

    // Degree distribution — the one-glance skew report for the
    // near-dup graph (a fat tail here predicts exactly the hub
    // blowups q119's orientation and q51's alternating stars guard
    // against): per-node degrees log2-bucketed via the floor-log
    // trick (length(bin(deg))), bucket-sized rollup. Shuffles carry
    // (long, long) degree pairs then ⌈log₂⌉-many groups.
    "q175_degree_dist" -> ((s, d) => {
      val pairs = DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
      pairs.select(col("doc_a").as("node"))
        .unionAll(pairs.select(col("doc_b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .groupBy(length(bin(col("deg"))).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .orderBy("bucket")
    }),

    // N-gram novelty — the memorization-risk proxy: what fraction of
    // a document's distinct 3-word shingles appear NOWHERE else in
    // the corpus? Low novelty = the doc restates the corpus (high
    // memorization pressure, low training value); the df=1 test is
    // exact, not a sketch. Shape: ONE barriered shingle explode feeds
    // both the df count (gram-keyed, map-side combined) and the
    // per-doc re-join — the same two-pass discipline as q46's
    // TF-IDF, shuffling (gram-hash, doc_id) pairs only.
    "q180_novelty" -> ((s, d) => {
      val sh = graft.ops.Barrier(Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.Functions.word_shingles3(
            trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
            .as("g")))
      val df = sh.groupBy("g").agg(count(lit(1)).as("df"))
      sh.join(df, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("df") === 1, 1)).as("n_unique"))
        .select(col("doc_id"), col("n_grams"), col("n_unique"),
          expr("(n_unique * 1000000) div n_grams").as("novelty_ppm"))
        .orderBy("doc_id")
    })
  )

  /** doc_id, lang, source, sorted distinct char-4-gram set + size.
    * Grams are packed one-per-Int by the native `gram4_codes`
    * expression (bijective for the normalized ASCII alphabet, so all
    * counts match the string-gram oracle): one byte pass + primitive
    * sort per doc instead of a per-gram UTF8String allocation +
    * object TimSort, and each candidate pair costs an O(na+nb)
    * merge walk over ints (`sorted_intersect_count`) with zero
    * allocation — the string HOF formulation measured ~5 s of
    * gram-building alone at sf0.1, ~20× slower than this end to
    * end. */
  private[graft] def gramSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("t"))
      .filter(length(col("t")) >= 4)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.Functions.gram4_codes(col("t")).as("gs"))
      .withColumn("ng", size(col("gs")).cast(LongType))

  /** Split gram sets by block size: one row per (lang, source) is
    * tiny at any corpus size, so the size table broadcasts. */
  private def splitByBlockSize(g2: DataFrame, maxBlock: Long): (DataFrame, DataFrame) = {
    val sizes = g2.groupBy("lang", "source").agg(count(lit(1)).as("bn"))
    val gg = g2.join(broadcast(sizes), Seq("lang", "source"))
    (gg.filter(col("bn") <= maxBlock), gg.filter(col("bn") > maxBlock))
  }

  /** LSH candidate pairs for the oversize blocks — the scale-killer
    * case, since block-internal pair count is quadratic and a real
    * corpus concentrates in an (en, web)-like block. q18's 12-minhash
    * machinery over the 4-gram hash domain, banded 4×3 (not q18's
    * 6×2): char-gram Jaccard runs much hotter than word-shingle
    * Jaccard on templated text (the sf corpus medians ~0.3), and
    * 2-row bands would admit ~40% of all pairs at J=0.3 vs ~3% for
    * 3-row bands — the S-curve must sit above the background
    * similarity. Recall at the 0.5 threshold: ~41% at J=0.5, 94% at
    * J=0.8, 100% for identical docs.
    *
    * The (block, band, sig) buckets are additionally BoundedPair-
    * guarded: on 0.3-background data a 3-row band still admits a
    * constant FRACTION of block pairs (measured r15: 94M candidates
    * at sf10 = 7.5% of 1.25e9 block pairs — quadratic with a smaller
    * constant, 566 s), so bucket membership must be a budget, not a
    * corpus artifact. Refinement bits are the parity bits of the
    * doc's own 12-minhash signature — (1+J)/2 per-bit agreement for
    * a J-similar pair (≥0.75 at the 0.5 gate), and identical docs
    * share every bit, so the dupes-subset invariant survives any
    * depth. Sub-banding engages only in buckets past 512 docs —
    * quiet at every sf ≤ 1 (max measured band bucket there is far
    * smaller) — and inside an engaged bucket retains ~0.75^e of
    * J=0.5 collisions: the documented BoundedPair recall trade,
    * bounding total candidate work at ~rows·512/2 per band.
    * Exposed (with [[ngramCandidates]]) for the degenerate-corpus
    * budget test. */
  private def lshRefined(big: DataFrame, carryGs: Boolean): DataFrame = {
    // gram codes are ints: xxhash64 spreads them over the minhash
    // domain (no oracle on this path — properties are spec-asserted)
    val mh = big
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .select(col("doc_id"), expr(s"pmod(xxhash64(g), $P)").as("hm"))
      .groupBy("doc_id")
      .agg(graft.Functions.minhash_agg(col("hm")).as("mh"))
    val carried = if (carryGs) Seq(col("gs"), col("ng")) else Seq.empty
    val bands = big.join(mh, "doc_id")
      .select(Seq(col("doc_id"), col("lang"), col("source"),
        expr("""aggregate(transform(sequence(0, 11), k ->
                  shiftleft(element_at(mh, k + 1) & 1L, k)), 0L, (a, b) -> a + b)""")
          .as("ref"),
        expr("""explode(transform(sequence(0, 3), j ->
                  struct(j as j, xxhash64(element_at(mh, 3*j+1), element_at(mh, 3*j+2), element_at(mh, 3*j+3)) as sig)))""")
          .as("b")) ++ carried: _*)
      .select(Seq(col("doc_id"), col("ref"),
        struct(col("lang"), col("source"), col("b.j").as("j"),
          col("b.sig").as("sig")).as("bkt")) ++ carried: _*)
    graft.ops.BoundedPair.refined(bands, "bkt", "ref", "pb", budget = 512L)
  }

  private def lshPairs(big: DataFrame): DataFrame = {
    val r = lshRefined(big, carryGs = false)
    r.as("a")
      .join(r.as("b"),
        col("a.pb") === col("b.pb") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Collision-time scoring for the oversize blocks: the band self-join
    * carries both gram sets and evaluates the exact merge walk in its
    * own projection — per-CANDIDATE set shipping eliminated (see the
    * call site in [[ngramScored]] for the r15 measurements). Emits one
    * scored row per band collision; callers dedup on (doc_a, doc_b). */
  private def lshScoredCollisions(big: DataFrame): DataFrame = {
    val r = lshRefined(big, carryGs = true)
    r.as("a")
      .join(r.as("b"),
        col("a.pb") === col("b.pb") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.Functions.sorted_intersect_count(col("a.gs"), col("b.gs")).as("inter"),
        col("a.ng").as("na"), col("b.ng").as("nb"))
  }

  /** Candidate pairs under the block-size guard: all-pairs inside
    * blocks of ≤ maxBlock docs, LSH collisions above. */
  def ngramCandidates(g2: DataFrame, maxBlock: Long): DataFrame = {
    val (small, big) = splitByBlockSize(g2, maxBlock)
    val smallPairs = small.as("a")
      .join(small.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    smallPairs.union(lshPairs(big))
  }

  /** Pre-barrier q21 scoring pipeline — `private[graft]` for plan
    * audits (the final q21 plan starts at the post-barrier checkpoint
    * scan and shows none of the joins). Under-guard blocks score
    * INLINE in the block self-join — one join, carrying both gram
    * arrays once — the measured-fast r2 shape; only LSH candidates
    * pay the two re-join-the-sets lookups.
    *
    * Hint discipline: exactly ONE merge hint per scoring-join input,
    * applied AFTER the block-census broadcast join (Catalyst's size
    * estimate for computed array columns derives from the tiny
    * parquet scan and would broadcast a multi-100MB gram relation —
    * measured 0.7 s vs 90 s). Hinting g2 itself (the r2-r4 shape)
    * stacked merge against the census broadcast hint and against
    * sets' own hint — Catalyst dropped one with a "Hint overridden"
    * warning, so the planned join was not the one the code asked for
    * (BENCH_r04 tail; PlanAuditSpec now pins it). */
  private[graft] def ngramScored(docs: DataFrame, maxBlock: Long): DataFrame = {
    // NO bitmap prune here, by measurement: char-4-gram sets (~280
    // grams) saturate the 128-bit map (W=2 pruned 0%), and the W=8
    // variant measured q21 sf1 7.7 → 10.7 s — the 8 per-doc HOF
    // bitmap builds cost ~3 s while the capped synthetic gram domain
    // leaves random pairs sharing too many grams for the bound to
    // separate near the J ≥ 0.5 gate. The bound family pays off on
    // SPARSE-overlap token spaces (q245/q18 word shingles); gram
    // blocks keep the plain guarded all-pairs + merge walk.
    val g2 = graft.ops.Barrier(gramSets(docs))
    val (small0, big) = splitByBlockSize(g2, maxBlock)
    val small = small0.hint("merge")
    val smallScored = small.as("a")
      .join(small.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.Functions.sorted_intersect_count(col("a.gs"), col("b.gs")).as("inter"),
        col("a.ng").as("na"), col("b.ng").as("nb"))
    // Big-block path: score AT COLLISION TIME — the gram sets ride the
    // band rows into the self-join (4 bands × corpus ≈ linear set
    // volume) and the merge walk runs in the join's own projection, so
    // no set ever ships per CANDIDATE. The r15 sf10 measurement that
    // forced this shape: 83.5M candidates × two set-attach joins moved
    // ~100 GB (269 s of a 566 s query); collision-time scoring ships
    // 2.2 GB and dedups the (compact, post-scoring) pair rows instead.
    // inter/na/nb are pure functions of the pair, so dropDuplicates
    // picks identical payloads — deterministic. The J ≥ 0.5 threshold
    // applies AT collision time, in the join's own stage: unlike the
    // small path (whose Barrier-then-filter discipline prevents the
    // filter from re-executing the upstream kernel), the collision rows
    // exist only inside this stage, so filtering here is one evaluation
    // per collision and cuts the dedup shuffle from every-candidate
    // (83.5M rows at sf10) to confirmed-pairs (~1M). The caller's
    // threshold re-check is idempotent on these rows.
    val bigScored = lshScoredCollisions(big)
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .dropDuplicates("doc_a", "doc_b")
    smallScored.union(bigScored)
  }

  /** Char-4-gram Jaccard near-dups with the block-size guard (exact
    * scoring on every candidate; LSH affects recall only, inside
    * oversize blocks only). Barriers (graft.ops.Barrier): gram sets
    * feed multiple consumers, and the threshold filter must not
    * collapse into the scoring join's condition (measured 30×
    * slower).
    *
    * maxBlock is a PAIR budget in disguise: an exact block costs
    * bn²/2 merge walks, so the cap bounds per-block work at
    * ~2048²/2 ≈ 2.1M pairs and total exact work at blocks × 2.1M —
    * growing with block COUNT (data diversity), not corpus size. The
    * old 10000 cap was sized when the largest measured block was
    * 1120 rows (sf1); at sf10 it admitted 7.6e8 in-block pairs and
    * q21 ran 1444 s (184×/decade — the round-15 full-suite sf10
    * sweep's worst cliff). 2048 keeps every sf ≤ 1 block exact
    * (sf1 max 1120 — results bit-identical there, oracle untouched)
    * and routes sf10's ≥2400-row blocks to the documented LSH
    * fallback, which is collision-bound. */
  def ngramNearDups(docs: DataFrame, maxBlock: Long = 2048L): DataFrame = {
    val scored = graft.ops.Barrier(ngramScored(docs, maxBlock))
    scored
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * 2 >= col("uni"))
      .orderBy("doc_a", "doc_b")
  }

  /** q18's near-dup pairs (Jaccard ≥ 0.6, integer compare), unordered
    * — shared by q18 (ordered pair listing) and q51 (connected-
    * component clustering). Same optimizer barrier as q21: keep the
    * intersect out of the join condition, evaluate it once per
    * candidate. The scoring pipeline lives in [[minhashScored]] so
    * plan audits can see the joins the barrier hides from the final
    * plan. */
  private[graft] def minhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val scored = graft.ops.Barrier(minhashScored(s, d, ubKeep = keepJaccard06))
    scored
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * 5 >= col("uni") * 3)
  }

  /** Pre-barrier q18 scoring pipeline: signatures → 6×2 band equi-join
    * → exact Jaccard intersect on candidates. `private[graft]` so plan
    * audits can inspect the join strategies (the final q18 plan starts
    * at the post-barrier checkpoint scan and shows none of them).
    *
    * Barrier (localCheckpoint / reliable checkpoint, see
    * graft.ops.Barrier): the signature table feeds FOUR consumers
    * (both sides of the band self-join, both set lookups) — without
    * the barrier the whole shingle+md5+minhash pipeline re-executes
    * for each, 4× the work. Signatures come from the scalar
    * minhash_array expression over the already-materialized shingle
    * array (one md5 + 12 mixes per shingle, mins in registers) —
    * no explode/shuffle/group-by/join-back; cross-validated against
    * the streaming minhash_agg aggregate in MinHashAggSpec.
    * sset arrives sorted from word_shingles3 — no re-sort needed. */
  /** q245's 128-bit token-bucket bitmap halves — an exact-safe
    * intersection UPPER bound usable as an in-join candidate prune:
    *   inter ≤ min(na − popcount(bma &~ bmb), nb − popcount(bmb &~ bma))
    * (every bucket set in a but clear in b holds ≥1 a-token b cannot
    * share). Shared by [[prefixJoin]] and [[minhashScored]]. */
  /** The 64·`words`-bit bucket bitmap as `words` separate long
    * columns bm0..bm{words−1} — separate COLUMNS, not an array,
    * so the pair-filter below stays plain codegen'd bitwise ops in
    * the join's hot loop (an array + zip_with HOF is interpreted per
    * PAIR — the repo's measured 6-12× pair-path penalty). Width is
    * sized to the set cardinality: a bitmap saturates (every bit set
    * → bound degrades to min(na, nb), prunes nothing) once sets
    * approach the bucket count — 128 bits fit ~100-token word-shingle
    * sets; ~280-gram char-4-gram sets need 512 (measured: W=2 pruned
    * 0% on q21's gram sets while cutting q245's shingle candidates
    * 3000×). */
  private def bitmapCols(setCol: String, words: Int): Seq[Column] =
    (0 until words).map { w =>
      expr(s"""aggregate($setCol, 0L, (acc, t) ->
        acc | CASE WHEN pmod(xxhash64(t), ${64 * words}) div 64 = $w
              THEN shiftleft(1L, cast(pmod(xxhash64(t), 64) as int))
              ELSE 0L END)""").as(s"bm$w")
    }

  /** The bitmap intersection bound over two aliased join sides (each
    * carrying `sizeCol` and bm0..bm{words−1}). */
  private def bitmapUb(a: String, b: String, sizeCol: String = "nset",
      words: Int = 2): Column = {
    def missed(x: String, y: String) = (0 until words).map { w =>
      bit_count(col(s"$x.bm$w").bitwiseAND(bitwise_not(col(s"$y.bm$w"))))
    }.reduce(_ + _)
    least(col(s"$a.$sizeCol") - missed(a, b), col(s"$b.$sizeCol") - missed(b, a))
  }

  private[graft] def minhashScored(
      s: SparkSession, d: String,
      pairPred: (Column, Column) => Column = _ < _,
      // per-CONSUMER candidate prune: given the exact-safe bitmap
      // upper bound on inter and the two set sizes, keep the pair iff
      // the consumer's own downstream threshold could still pass. Each
      // caller states its gate explicitly because the kernel cannot
      // know it (q18/q64 prune at Jaccard ≥ 0.6; q109 at containment
      // ≥ 0.9 — a 0.6-Jaccard prune here would eat q109's pairs).
      // Default keeps everything (the audit-faithful raw LSH surface).
      ubKeep: (Column, Column, Column) => Column = (_, _, _) => lit(true)): DataFrame = {
    val m = graft.ops.Barrier(shingleSets(s, d).select(Seq(col("doc_id"),
      col("sset"),
      size(col("sset")).cast(LongType).as("nset"),
      graft.Functions.minhash_array(col("sset")).as("mh"))
      ++ bitmapCols("sset", 2): _*))
    val bands = bandSignatures(m)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.j") === col("b.j") && col("a.sig") === col("b.sig")
          && pairPred(col("a.doc_id"), col("b.doc_id"))
          && ubKeep(bitmapUb("a", "b"), col("a.nset"), col("b.nset")))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    scorePairs(m, cand)
  }

  /** The Jaccard-≥-0.6 form of [[minhashScored]]'s candidate prune:
    * inter ≥ ⌈3(na+nb)/8⌉ ⟺ J ≥ 0.6. */
  private[graft] val keepJaccard06: (Column, Column, Column) => Column =
    (ub, na, nb) => ub * 8 >= (na + nb) * 3

  /** 6×2 band signatures of a barrier'd minhash frame: one row per
    * (doc, band), keyed by the band's two mixed rows folded into one
    * 64-bit signature. Shared by the q18 kernel ([[minhashScored]])
    * and the q208 per-band precision audit, so the banding definition
    * (band count, row grouping, P-mixing) can never drift between the
    * pipeline and the audit that tunes it. */
  private def bandSignatures(m: DataFrame, carrySets: Boolean = false): DataFrame = {
    // carry the candidate-prune columns ([[minhashScored]]'s ubKeep)
    // through the band explode when the caller computed them — 24
    // bytes per band row, no extra join. carrySets additionally rides
    // the shingle array on each band row for collision-time scoring
    // callers (q208); the q18 kernel keeps the narrow rows (its
    // bitmap prune makes the post-distinct scorePairs attach cheap,
    // and fattening its band exchange 6× would tax the common path
    // for nothing).
    val carry = (Seq("nset", "bm0", "bm1") ++ (if (carrySets) Seq("sset") else Nil))
      .filter(m.columns.contains).map(col)
    m.select(col("doc_id") +: carry
        :+ expr(s"""explode(transform(sequence(0, 5), j ->
                 struct(j as j, element_at(mh, 2*j+1) * ${P}L + element_at(mh, 2*j+2) as sig)))""")
          .as("b"): _*)
      .select(col("doc_id") +: col("b.j").as("j") +: col("b.sig").as("sig") +: carry: _*)
  }

  /** Exact-confirm tail shared by the self-join and history-probe
    * paths: join candidate (da, db) pairs back to the shingle sets
    * and compute the exact intersection. */
  private def scorePairs(m: DataFrame, cand: DataFrame): DataFrame = {
    // merge hint: same computed-array size underestimate as q21 —
    // don't let the fat shingle-set relation get broadcast.
    // (ssets were sorted once at the source for the merge-walk.)
    val sets = m.select(col("doc_id"), col("sset"), col("nset"))
      .hint("merge")
    cand
      .join(sets.select(col("doc_id").as("da"), col("sset").as("sa"), col("nset").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("sset").as("sb"), col("nset").as("nb")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        graft.Functions.sorted_intersect_count(col("sa"), col("sb")).as("inter"),
        col("na"), col("nb"))
  }

  /** q245's exact-enumeration pair budget: the prefix-token census
    * upper bound Σ_tok c·(c−1)/2 must stay under this or the query
    * REFUSES fast instead of running for hours. Exactness is the
    * query's point, so there is no recall-trading fallback to dial —
    * the only honest behaviors outside the envelope are a loud refusal
    * or a deliberate operator override (SPARK_GRAFT_Q245_BUDGET).
    *
    * Calibration: with the 128-bit bitmap filter pruning candidates
    * INSIDE the streamed join (see [[prefixJoin]]), enumeration costs
    * a measured ~1 µs·core per census-UB pair (sf10: 4.3e9 UB → 137 s
    * wall on local[32]; sf1: 4.1e7 UB → 8.1 s — both on the 8 GiB
    * bench heap, memory-flat, where the pre-bitmap shape GC-died at
    * sf10). 2^33 ≈ 8.6e9 admits the measured decades with 2× headroom
    * and refuses the next one (sf100 ≈ 4e11 UB ≈ 3.5 h wall) — past
    * that scale the exact join needs a deliberate override, a bigger
    * cluster, or q18's LSH recall trade. */
  private[graft] def prefixJoinBudget: Long =
    sys.env.get("SPARK_GRAFT_Q245_BUDGET").map(_.toLong).getOrElse(1L << 33)

  /** Pre-barrier prefix-token pipeline (doc_id, nset, rn, ptok) for a
    * barriered shingle frame: df rollup (partial-agg'd) → rarest-first
    * per-doc ordering window → prefix cut. `private[graft]` so plan
    * audits can inspect the rollup and the window the final
    * (post-barrier) q245 plan hides. */
  private[graft] def prefixTokensOf(m: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pass the per-doc filter bitmaps ([[prefixJoin]]) through the
    // explode when the caller computed them — they ride the source row,
    // so carrying them costs 16 bytes/row and no extra join
    val carry = Seq("bm0", "bm1").filter(m.columns.contains).map(col)
    val toks = m.select(col("doc_id") +: col("nset") +: carry
      :+ explode(col("sset")).as("tok"): _*)
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wDoc).cast(LongType))
      .filter(col("rn") <= col("nset") - expr("(3*nset + 4) div 5") + lit(1L))
      .select(col("doc_id") +: col("nset") +: col("rn")
        +: col("tok").as("ptok") +: carry: _*)
  }

  /** q245's gated exact prefix join: census the prefix tokens FIRST
    * (one cheap rollup over the barriered prefix table — the same
    * BoundedPair census shape) and refuse fast when the hot-token
    * mass exceeds [[prefixJoinBudget]]; otherwise run the exact
    * AllPairs/PPJoin enumeration. The census accumulates in
    * Decimal(38,0): hot-token c² exceeds Long at 100 TB. */
  private[graft] def prefixJoin(s: SparkSession, d: String,
      budget: Long = prefixJoinBudget): DataFrame = {
    // 128-bit token-bucket bitmaps ([[bitmapHalf]]): the exact-safe
    // intersection upper bound prunes candidates INSIDE the streamed
    // join, so completeness (and hence oracle parity) is untouched
    // while false candidates die before the distinct and before any
    // shingle array is shuffled. Measured at sf1: 10.53M distinct
    // candidates → 3.1k survivors (true pairs 2.5k) — 99.97% of the
    // exact-verify work removed (151.9 s → 8.1 s); sf10's exact
    // enumeration went from GC death to 137 s on the same heap. Long
    // docs saturate the bitmap and degrade gracefully to "verify
    // everything" (the bound approaches min(na, nb)), never to a
    // wrong answer.
    val m = graft.ops.Barrier(shingleSets(s, d).select(Seq(col("doc_id"),
      col("sset"), size(col("sset")).cast(LongType).as("nset"))
      ++ bitmapCols("sset", 2): _*))
    // Barrier: the prefix table feeds the census AND both join sides —
    // without it the df rollup + window re-run three times
    val pref = graft.ops.Barrier(prefixTokensOf(m))
    val ub2 = pref.groupBy("ptok").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("cast(c as decimal(38,0)) * (c - 1)")),
        lit(java.math.BigDecimal.ZERO)).as("ub2"))
      .collect()(0).getDecimal(0)
    val lim = new java.math.BigDecimal(budget).multiply(new java.math.BigDecimal(2))
    if (ub2.compareTo(lim) > 0)
      throw new IllegalStateException(
        s"q245_prefix_join refused: prefix-token hot mass admits up to " +
        s"${ub2.divide(new java.math.BigDecimal(2))} candidate pairs > " +
        s"exact-enumeration budget $budget. Exact AllPairs/PPJoin is " +
        "superquadratic when every posting list is hot (capped shingle " +
        "domains); use q18_minhash (LSH, probabilistic recall) at this " +
        "scale, or raise SPARK_GRAFT_Q245_BUDGET deliberately.")
    // the PPJoin POSITIONAL filter rides the join condition: a pair
    // matching at prefix positions (i, j) can still reach
    // inter ≥ ceil(3(na+nb)/8) (⟺ J ≥ 0.6) only if the suffixes
    // past those positions are long enough — 1 + min(na−i, nb−j)
    // bounds the intersection from above. Complete: the smallest
    // common token's row always satisfies it for a qualifying pair;
    // it prunes the high-df collision rows BEFORE the distinct and
    // the set-verify join, which is where a capped vocabulary
    // (synthetic testdata: ≤31³ shingle types) otherwise explodes.
    // bitmap bound ([[bitmapUb]]): cheapest-last conjunct order —
    // length and positional integer compares prune most rows before
    // the four bit_counts run; what survives all three is ~the true
    // pair set, so the distinct and the array-verify joins downstream
    // are tiny.
    val bmUb = bitmapUb("a", "b")
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.ptok") === col("b.ptok") && col("a.doc_id") < col("b.doc_id")
          && col("a.nset") * 5 >= col("b.nset") * 3
          && col("b.nset") * 5 >= col("a.nset") * 3
          && (lit(1L) + least(col("a.nset") - col("a.rn"),
              col("b.nset") - col("b.rn"))) * 8
            >= (col("a.nset") + col("b.nset")) * 3
          && bmUb * 8 >= (col("a.nset") + col("b.nset")) * 3)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    scorePairs(m, cand)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // Persisted incremental near-dup history (q64's 100 TB contract)
  // ---------------------------------------------------------------------

  /** Shingle sets of an arbitrary (doc_id, text) relation — the
    * [[shingleSets]] kernel decoupled from the corpus dir so the
    * incremental/streaming paths can featurize a new batch that
    * hasn't landed in any table yet. */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.Functions.word_shingles3(
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))).as("sset"))
      .filter(size(col("sset")) >= 1)

  /** Banded LSH (doc_id, bkey) rows for a shingle-set relation.
    * bkey is the FUSED "j:sig" string key (sig < P² ≈ 4.6e18 leaves
    * no headroom to pack the band index arithmetically into a long),
    * so the band table buckets and joins on ONE column. */
  private def bandKeysOf(sets: DataFrame): DataFrame =
    sets
      .select(col("doc_id"), graft.Functions.minhash_array(col("sset")).as("mh"))
      .select(col("doc_id"),
        expr(s"""explode(transform(sequence(0, 5), j ->
                   concat(j, ':', element_at(mh, 2*j+1) * ${P}L + element_at(mh, 2*j+2))))""")
          .as("bkey"))

  private def bandKeys(s: SparkSession, d: String, pred: Column): DataFrame =
    bandKeysOf(shingleSets(s, d).filter(pred))

  /** Persist the incremental-dedup HISTORY as a band table bucketed
    * (and per-bucket sorted) on bkey — the q64 scale contract in
    * code: the write pays one hash-distribution pass, after which
    * every batch probe reads history buckets directly with NO
    * Exchange on the history side (DedupHistorySpec pins the plan).
    * At 100 TB the history never moves again; only the (small) new
    * batch hashes to the bucket layout. */
  def writeNearDupHistory(s: SparkSession, d: String, table: String,
      buckets: Int = 8): Unit =
    Bucketing.writeBucketed(bandKeys(s, d, col("doc_id") % 10 < 8),
      table, "bkey", buckets)

  private def tombTable(table: String): String = s"${table}_tombs"

  /** Deletion lifecycle for the persisted band history — the
    * right-to-be-forgotten path on the incremental-dedup artifact.
    * A doc's band rows scatter across ALL bkey buckets, so per-request
    * rewrite is a full-table pass — wrong at 100 TB. Instead:
    * tombstones land in a tiny side table, every probe masks them
    * merge-on-read ([[nearDupsAgainstHistoryOf]]'s broadcast
    * anti-join), and [[compactNearDupHistory]] folds them in on a
    * schedule. Mirrors [[graft.ops.IvfIndex.delete]] — the
    * partitioned-index sibling where compaction CAN partition-prune. */
  def tombNearDupHistory(s: SparkSession, table: String, tombs: DataFrame): Unit =
    tombs.select(col("doc_id").cast(LongType)).repartition(1)
      .write.mode("append").format("parquet").saveAsTable(tombTable(table))

  /** Fold pending tombstones into the history: rewrite the bucketed
    * table minus tombstoned docs (Barrier materializes survivors
    * before the in-place drop), then clear the consumed tombstones. A
    * full rewrite by design — band rows hash by bkey, not doc — which
    * is exactly why the merge-on-read mask above carries the latency
    * and compaction runs on a schedule, amortized over many deletions.
    *
    * Concurrency contract (mirrors [[graft.ops.IvfIndex.compact]]):
    * the tombstone FILE set is snapshotted up front and only those
    * files are applied and removed — a [[tombNearDupHistory]] landing
    * while compaction runs (the streaming tombstone path) stays pending
    * for the next compact instead of being discarded unapplied, and
    * probes keep masking it throughout. The side table itself persists
    * (empty reads are a no-op broadcast in the probe mask). */
  // test seam: ForgetArtifactsSpec injects a concurrent tombstone land
  // between the snapshot and its consumption; receives the table name so
  // a spec can scope its injection to its own fixture (suites share the
  // JVM); never set outside tests
  private[graft] var afterSnapshotHook: Option[String => Unit] = None

  def compactNearDupHistory(s: SparkSession, table: String,
      buckets: Int = 8): Unit =
    if (s.catalog.tableExists(tombTable(table))) {
      val consumed = s.table(tombTable(table)).inputFiles
      afterSnapshotHook.foreach(f => f(table))
      if (consumed.nonEmpty) {
        val tombs = s.read.parquet(consumed.toIndexedSeq: _*)
        val survivors = graft.ops.Barrier(
          s.table(table).join(broadcast(tombs), Seq("doc_id"), "left_anti"))
        s.sql(s"DROP TABLE $table")
        Bucketing.writeBucketed(survivors, table, "bkey", buckets)
        // remove exactly the snapshot consumed above; later-arriving
        // tombstone files stay pending in the side table
        val conf = Shims.newHadoopConf(s)
        consumed.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).delete(p, false)
        }
        s.catalog.refreshTable(tombTable(table))
      }
    }

  /** Probe a new batch (doc_id % 10 >= 8, q64's split) against the
    * persisted history band table: bucket-local candidate join →
    * distinct pairs → exact confirm — same semantics and output as
    * q64_incneardup, minus the history-side shuffle. */
  def incNearDupsAgainstHistory(s: SparkSession, d: String,
      table: String): DataFrame =
    nearDupsAgainstHistoryOf(s,
      Tables.documents(s, d).filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "text"),
      d, table)
      .orderBy("new_doc", "hist_doc")

  /** The history probe for an ARBITRARY new (doc_id, text) batch —
    * the ingest-gate kernel behind both the q64 batch form and the
    * streaming form (StreamingNearDupSpec drives it per micro-batch
    * via foreachBatch, the production crawl-ingest pattern): new-side
    * featurize is map-only (native shingle/minhash kernels), the band
    * probe joins the persisted bucketed history with no Exchange on
    * the history side (DedupHistorySpec), and the exact confirm joins
    * the candidates' shingle sets only — O(batch + collisions) at any
    * history size. */
  def nearDupsAgainstHistoryOf(s: SparkSession, newDocs: DataFrame,
      d: String, table: String): DataFrame = {
    // merge-on-read deletion mask ([[tombNearDupHistory]]): pending
    // tombstones broadcast into a left-anti join on the history side —
    // a BroadcastHashJoin adds no Exchange, so the bucketed-history
    // no-shuffle contract (DedupHistorySpec) is untouched, and a
    // deleted document stops matching the moment its tombstone lands.
    val hist0 = s.table(table)
    val hist =
      if (s.catalog.tableExists(tombTable(table)))
        hist0.join(broadcast(s.table(tombTable(table))), Seq("doc_id"), "left_anti")
      else hist0
    val batchSets = graft.ops.Barrier(shingleSetsOf(newDocs)
      .select(col("doc_id"), col("sset"),
        size(col("sset")).cast(LongType).as("nset")))
    val cand = bandKeysOf(batchSets).as("b")
      .join(hist.as("h"), col("b.bkey") === col("h.bkey"))
      .select(col("h.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val histSets = shingleSets(s, d).filter(col("doc_id") % 10 < 8)
      .select(col("doc_id").as("da"), col("sset").as("sa"),
        size(col("sset")).cast(LongType).as("na"))
      .hint("merge") // see scorePairs: computed-array size underestimate
    cand
      .join(histSets, "da")
      .join(batchSets.select(col("doc_id").as("db"), col("sset").as("sb"),
        col("nset").as("nb")).hint("merge"), "db")
      .select(col("da").as("hist_doc"), col("db").as("new_doc"),
        graft.Functions.sorted_intersect_count(col("sa"), col("sb")).as("inter"),
        col("na"), col("nb"))
      .select(col("hist_doc"), col("new_doc"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * 5 >= col("uni") * 3)
  }

  // ---------------------------------------------------------------------
  // SimHash near-dup with the band-bucket size guard
  // ---------------------------------------------------------------------

  /** Banded (b, sig) rows for a (doc_id, simhash) table, joined with
    * the per-bucket population census. The census is ≤ 4 bands × 2^15
    * sigs = 131,072 rows at ANY corpus size, so it always broadcasts.
    * Barriered: the banded table feeds both sides of two self-joins
    * (small and oversize buckets) — without the barrier the census
    * aggregation and the upstream simhash pipeline re-run per consumer. */
  private def simdupBands(sim0: DataFrame): DataFrame = {
    val sim = graft.ops.Barrier(sim0)
    val bands = sim.select(col("doc_id"), col("simhash"),
      expr("explode(transform(sequence(0, 3), b -> struct(b as b, shiftright(simhash, 15*b) & 32767 as sig)))").as("x"))
      .select(col("doc_id"), col("simhash"), col("x.b").as("b"), col("x.sig").as("sig"))
    val sizes = bands.groupBy("b", "sig").agg(count(lit(1)).as("bn"))
    graft.ops.Barrier(bands.join(broadcast(sizes), Seq("b", "sig")))
  }

  /** Candidate pairs (doc_a, doc_b, hamming), distinct, BEFORE the
    * hamming filter — exposed for the degenerate-corpus budget test.
    *
    * Buckets ≤ maxBucket: plain bucket self-join (the classic 4×15
    * banding; a hamming-≤3 pair matches ≥1 band by pigeonhole).
    *
    * Buckets > maxBucket: exact-recall multi-index sub-banding. Every
    * doc in an oversize (b, sig) bucket already agrees on band b's 15
    * bits, so a hamming-≤3 pair differs in ≤3 of the REMAINING 45
    * bits; splitting those 45 bits into 4 sub-bands (12/12/12/9) means
    * ≥1 sub-band matches (3 diffs can touch at most 3 of 4), so the
    * join on (b, sig, j, sub) keeps 100% recall while cutting the
    * bucket's pair count from O(bn²) to collision-bound O(bn²/2^12).
    * Degenerate corpora (near-identical remaining bits) ARE genuinely
    * near-dup-dense — the candidates produced are real output, not
    * join waste. */
  def simdupCandidates(sim0: DataFrame, maxBucket: Long = 10000L): DataFrame = {
    val bb = simdupBands(sim0)
    def pairHamming(a: String, b: String) =
      bit_count(col(s"$a.simhash").bitwiseXOR(col(s"$b.simhash"))).cast(LongType)
    val smallB = bb.filter(col("bn") <= maxBucket)
    val smallPairs = smallB.as("a")
      .join(smallB.as("b"),
        col("a.b") === col("b.b") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        pairHamming("a", "b").as("hamming"))
    // rem = the 45 simhash bits OUTSIDE band b (high part shifted down
    // over the excised band, low part kept); sub-band j takes 12 bits
    // (9 for j=3) of rem.
    val sub = bb.filter(col("bn") > maxBucket)
      .select(col("doc_id"), col("simhash"), col("b"), col("sig"),
        expr("""explode(transform(sequence(0, 3), j -> struct(j as j,
                  shiftright(
                    shiftleft(shiftright(simhash, 15*(b+1)), 15*b)
                      | (simhash & (shiftleft(cast(1 as bigint), 15*b) - 1)),
                    12*j) & (CASE WHEN j < 3 THEN 4095 ELSE 511 END) as sub)))""").as("y"))
      .select(col("doc_id"), col("simhash"), col("b"), col("sig"),
        col("y.j").as("j"), col("y.sub").as("sub"))
    val bigPairs = sub.as("a")
      .join(sub.as("b"),
        col("a.b") === col("b.b") && col("a.sig") === col("b.sig")
          && col("a.j") === col("b.j") && col("a.sub") === col("b.sub")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        pairHamming("a", "b").as("hamming"))
    smallPairs.union(bigPairs).distinct()
  }

  /** SimHash near-dup pairs (hamming ≤ 3) under the bucket guard. The
    * guard changes the PLAN for oversize buckets, never the RESULT
    * (sub-banding is exact for hamming ≤ 3) — asserted by the
    * guarded-vs-unguarded parity test in DedupQueriesSpec. */
  def simdupNearDups(sim0: DataFrame, maxBucket: Long = 10000L): DataFrame =
    simdupCandidates(sim0, maxBucket)
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")

  val oracleSql: Map[String, String] = Map(
    "q183_lsh_recall" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         md AS (
           SELECT greatest(200, (count(*) + 249) // 250) m FROM documents),
         samp AS (
           SELECT doc_id, sset, nset,
                  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % md.m blk
           FROM hsv, md
           WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % md.m < 8),
         truth AS (
           SELECT a.blk, a.doc_id da, b.doc_id db
           FROM samp a JOIN samp b ON a.blk = b.blk AND a.doc_id < b.doc_id
           WHERE 5*len(list_intersect(a.sset, b.sset)) >= 3*(a.nset + b.nset - len(list_intersect(a.sset, b.sset)))),
         per AS (
           SELECT t.blk, CAST(count(*) AS BIGINT) true_pairs,
                  CAST(sum(CASE WHEN p.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) found_pairs
           FROM truth t LEFT JOIN pairs p ON t.da = p.da AND t.db = p.db
           GROUP BY t.blk),
         docs AS (SELECT blk, CAST(count(*) AS BIGINT) n_docs FROM samp GROUP BY blk)
         SELECT d.blk, d.n_docs,
                coalesce(per.true_pairs, 0) AS true_pairs,
                coalesce(per.found_pairs, 0) AS found_pairs
         FROM docs d LEFT JOIN per ON d.blk = per.blk
         ORDER BY d.blk""",
    "q63_incdedup" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) t
                    FROM documents),
          k AS (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' ')) bow
                FROM n)
          SELECT b.doc_id, b.bow IN (SELECT bow FROM k WHERE doc_id % 10 < 8) AS is_dup
          FROM k b WHERE b.doc_id % 10 >= 8 ORDER BY b.doc_id""",
    "q64_incneardup" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig
           WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8)
         SELECT da AS hist_doc, db AS new_doc,
                len(list_intersect(x.sset, y.sset)) AS inter,
                x.nset + y.nset - len(list_intersect(x.sset, y.sset)) AS uni
         FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
         WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))
         ORDER BY new_doc, hist_doc""",
    "q15_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash,
                count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    "q18_minhash" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id)
         SELECT da AS doc_a, db AS doc_b,
                len(list_intersect(x.sset, y.sset)) AS inter,
                x.nset + y.nset - len(list_intersect(x.sset, y.sset)) AS uni
         FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
         WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))
         ORDER BY doc_a, doc_b""",
    // q18's candidate chain + the threshold filter, joined to source
    // metadata and counted per unordered source pair.
    "q113_overlap" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         sp AS (
           SELECT least(a.source, b.source) source_x,
                  greatest(a.source, b.source) source_y
           FROM pairs JOIN documents a ON da = a.doc_id
                      JOIN documents b ON db = b.doc_id)
         SELECT source_x, source_y, CAST(count(*) AS BIGINT) n_pairs
         FROM sp GROUP BY 1, 2 ORDER BY 1, 2""",
    // q51's recursive-closure labels + the keep-best argmax window.
    // Per-source bottom-64 distinct shingle hashes replayed with a
    // rank window; the pairwise estimator re-derives the union sketch
    // with list functions — exact-integer parity with kmv_mins.
    "q117_kmv_overlap" ->
      """WITH w AS (
           SELECT doc_id, source, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT source, unnest(list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' '))) s
           FROM w WHERE len(words) >= 3),
         el AS (
           SELECT DISTINCT source, CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT) h FROM sh),
         r AS (
           SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) rn FROM el),
         sk AS (
           SELECT source, list(h ORDER BY h) mins FROM r WHERE rn <= 64 GROUP BY source),
         p AS (
           SELECT a.source source_x, b.source source_y, a.mins ma, b.mins mb
           FROM sk a JOIN sk b ON a.source < b.source),
         u AS (
           SELECT source_x, source_y, ma, mb,
                  list_sort(list_distinct(list_concat(ma, mb)))[1:64] uu FROM p)
         SELECT source_x, source_y,
                CAST(len(uu) AS BIGINT) k_u,
                CAST(len(list_filter(uu, x -> list_contains(ma, x) AND list_contains(mb, x))) AS BIGINT) n_common,
                (CAST(len(list_filter(uu, x -> list_contains(ma, x) AND list_contains(mb, x))) AS BIGINT) * 1000000)
                  // CAST(len(uu) AS BIGINT) AS jaccard_ppm
         FROM u ORDER BY source_x, source_y""",
    // q18's candidate chain kept at the CANDIDATE stage; per-pair
    // signature agreement out of 12 next to the exact Jaccard.
    "q126_minhash_est" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id)
         SELECT da AS doc_a, db AS doc_b,
                CAST(len(list_filter(range(1, 13), k -> x.mh[k] = y.mh[k])) AS BIGINT) est12,
                (CAST(len(list_filter(range(1, 13), k -> x.mh[k] = y.mh[k])) AS BIGINT) * 1000000) // 12 AS est_ppm,
                (CAST(len(list_intersect(x.sset, y.sset)) AS BIGINT) * 1000000)
                  // (x.nset + y.nset - len(list_intersect(x.sset, y.sset))) AS jac_ppm
         FROM cand JOIN m x ON da = x.doc_id JOIN m y ON db = y.doc_id
         ORDER BY doc_a, doc_b""",
    // q18's confirmed pairs (da < db) three-way self-joined: each
    // triangle appears exactly once as a < b < c — identical to the
    // oriented enumeration's sorted output.
    "q119_triangles" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset))))
         SELECT p1.da a, p1.db b, p2.db c
         FROM pairs p1 JOIN pairs p2 ON p2.da = p1.db
         JOIN pairs p3 ON p3.da = p1.da AND p3.db = p2.db
         ORDER BY a, b, c""",
    "q108_canonical" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         edges AS (
           SELECT da AS s, db AS t FROM pairs UNION SELECT db, da FROM pairs),
         reach(node, r) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node),
         labels AS (
           SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
         sel AS (
           SELECT d.doc_id, d.n_chars,
                  coalesce(l.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN labels l ON d.doc_id = l.node)
         SELECT doc_id, n_chars, cluster_id,
                CAST(CASE WHEN row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id) = 1
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM sel ORDER BY doc_id""",
    // q108's cluster labels, consumed as 1/cluster_size loss weights:
    // per-language raw vs effective tokens in exact millionth units.
    "q204_dup_weights" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         edges AS (
           SELECT da AS s, db AS t FROM pairs UNION SELECT db, da FROM pairs),
         reach(node, r) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node),
         labels AS (
           SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
         sel AS (
           SELECT d.doc_id, d.lang, d.n_chars // 4 AS toks,
                  coalesce(l.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
         cs AS (SELECT cluster_id, count(*) csz FROM sel GROUP BY 1)
         SELECT lang, count(*) AS n_docs,
                CAST(count(DISTINCT s.cluster_id) AS BIGINT) AS n_clusters,
                CAST(sum(toks) AS BIGINT) AS raw_toks,
                CAST(sum((toks * 1000000) // csz) AS BIGINT) AS eff_tok_millionths
         FROM sel s JOIN cs ON s.cluster_id = cs.cluster_id
         GROUP BY 1 ORDER BY 1""",
    // q18's confirmed pairs labeled by each end's q145 split gate —
    // the cross-split leakage matrix.
    "q215_split_leakage" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         spl AS (
           SELECT doc_id,
                  CASE WHEN hb < 80 THEN 'train' WHEN hb < 90 THEN 'valid'
                       ELSE 'test' END sp
           FROM (SELECT doc_id,
                        CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 hb
                 FROM documents))
         SELECT least(x.sp, y.sp) AS split_lo, greatest(x.sp, y.sp) AS split_hi,
                count(*) AS n_pairs,
                CAST(CASE WHEN least(x.sp, y.sp) <> greatest(x.sp, y.sp)
                     THEN 1 ELSE 0 END AS BIGINT) AS leak
         FROM pairs JOIN spl x ON da = x.doc_id
                    JOIN spl y ON db = y.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q108's cluster labels rolled into the component-size histogram
    // (singletons included).
    "q219_cluster_size_hist" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         edges AS (
           SELECT da AS s, db AS t FROM pairs UNION SELECT db, da FROM pairs),
         reach(node, r) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node),
         labels AS (
           SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
         sel AS (
           SELECT coalesce(l.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
         cs AS (SELECT cluster_id, count(*) csz FROM sel GROUP BY 1)
         SELECT CAST(csz AS BIGINT) AS csz, count(*) AS n_clusters
         FROM cs GROUP BY 1 ORDER BY 1""",
    // exact-integer 5-point Jaccard bins over the confirmed pairs.
    "q220_jaccard_hist" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         iu AS (
           SELECT len(list_intersect(x.sset, y.sset)) inter,
                  x.nset + y.nset - len(list_intersect(x.sset, y.sset)) uni
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset))))
         SELECT CAST(((inter * 100) // uni) // 5 * 5 AS BIGINT) AS j_bin,
                count(*) AS n_pairs
         FROM iu GROUP BY 1 ORDER BY 1""",
    // per-band candidate counts and exact-gate survival: the banding
    // precision profile.
    "q208_band_precision" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.j j, a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         sc AS (
           SELECT j,
                  CASE WHEN 5*len(list_intersect(x.sset, y.sset))
                            >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))
                       THEN 1 ELSE 0 END pass
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id)
         SELECT CAST(j AS BIGINT) AS band, count(*) AS n_cand,
                CAST(sum(pass) AS BIGINT) AS n_pass,
                CAST((sum(pass) * 1000000) // count(*) AS BIGINT) AS precision_ppm
         FROM sc GROUP BY 1 ORDER BY 1""",
    // q18's candidate chain scored by asymmetric containment of the
    // smaller shingle set, exact-integer ppm.
    "q109_containment" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         sc AS (
           SELECT da AS doc_a, db AS doc_b,
                  len(list_intersect(x.sset, y.sset)) AS inter,
                  least(x.nset, y.nset) AS n_small
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id)
         SELECT doc_a, doc_b, inter, n_small,
                CAST((inter * 1000000) // n_small AS BIGINT) AS cont_ppm
         FROM sc WHERE inter * 10 >= n_small * 9
         ORDER BY doc_a, doc_b""",
    // q18's pipeline up to the threshold filter, then connected
    // components as a recursive min-reachability closure: r reaches
    // itself; if r reaches x and x—t is an edge, r reaches t. UNION
    // (not UNION ALL) dedups the frontier so the recursion terminates
    // on cyclic components; min(r) per node = the component minimum.
    "q51_cluster" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         edges AS (
           SELECT da AS s, db AS t FROM pairs UNION SELECT db, da FROM pairs),
         reach(node, r) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node),
         labels AS (
           SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
         SELECT d.doc_id,
                coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                CAST(CASE WHEN coalesce(l.cluster_id, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
         ORDER BY doc_id""",
    "q238_chain_audit" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         edges AS (
           SELECT da AS s, db AS t FROM pairs UNION SELECT db, da FROM pairs),
         reach(node, r) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node),
         labels AS (
           SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
         cl AS (SELECT cluster_id, count(*) n FROM labels GROUP BY 1),
         cp AS (SELECT l.cluster_id, count(*) nconf
                FROM pairs c JOIN labels l ON c.da = l.node GROUP BY 1)
         SELECT cl.cluster_id, CAST(cl.n AS BIGINT) n_members,
                CAST((cl.n * (cl.n - 1)) // 2 AS BIGINT) n_possible,
                CAST(coalesce(cp.nconf, 0) AS BIGINT) n_confirmed,
                CAST((((cl.n * (cl.n - 1)) // 2 - coalesce(cp.nconf, 0)) * 1000000)
                     // ((cl.n * (cl.n - 1)) // 2) AS BIGINT) chain_ppm
         FROM cl LEFT JOIN cp USING (cluster_id)
         ORDER BY cluster_id""",
    "q244_dup_provenance" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         cls AS (
           SELECT (la.lang = lb.lang) same_lang, (la.source = lb.source) same_source
           FROM pairs
           JOIN documents la ON da = la.doc_id
           JOIN documents lb ON db = lb.doc_id),
         cells AS (
           SELECT same_lang, same_source, CAST(count(*) AS BIGINT) n_pairs
           FROM cls GROUP BY 1, 2),
         tot AS (SELECT sum(n_pairs) t FROM cells)
         SELECT same_lang, same_source, n_pairs,
                CAST((n_pairs * 1000000) // t AS BIGINT) share_ppm
         FROM cells, tot ORDER BY same_lang, same_source""",
    // q51's full-corpus labels (singletons self-labeled), a 'tomb:'
    // md5 gate (~2%) as the deletion list, then per touched cluster:
    // size before/after and the re-elected min surviving canonical
    // (NULL when wiped).
    "q262_forget" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         edges AS (
           SELECT da AS s, db AS t FROM pairs UNION SELECT db, da FROM pairs),
         reach(node, r) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.node),
         labels AS (
           SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
         lab AS (
           SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
                  (CAST(concat('0x', substr(md5('tomb:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 50 = 0) AS del
           FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
         tc AS (SELECT DISTINCT cluster_id FROM lab WHERE del)
         SELECT g.cluster_id,
                CAST(count(*) AS BIGINT) AS n_before,
                CAST(sum(CASE WHEN g.del THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
                CAST(count(*) - sum(CASE WHEN g.del THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
                min(CASE WHEN NOT g.del THEN g.doc_id END) AS new_keep
         FROM lab g JOIN tc ON g.cluster_id = tc.cluster_id
         GROUP BY 1 ORDER BY 1""",
    "q245_prefix_join" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (SELECT doc_id, list_distinct(shingles) sset FROM sh),
         sv AS (SELECT doc_id, sset, len(sset) nset FROM ss),
         tok AS (SELECT doc_id, nset, unnest(sset) s FROM sv),
         df AS (SELECT s, count(*) df FROM tok GROUP BY s),
         pr AS (
           SELECT t.doc_id, t.nset, t.s,
                  row_number() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.s) rn
           FROM tok t JOIN df USING (s)),
         pf AS (SELECT doc_id, nset, rn, s FROM pr
                WHERE rn <= nset - ((3*nset + 4) // 5) + 1),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM pf a JOIN pf b ON a.s = b.s AND a.doc_id < b.doc_id
             AND 5*a.nset >= 3*b.nset AND 5*b.nset >= 3*a.nset
             AND 8 * (1 + least(a.nset - a.rn, b.nset - b.rn))
                 >= 3 * (a.nset + b.nset))
         SELECT da AS doc_a, db AS doc_b,
                len(list_intersect(x.sset, y.sset)) AS inter,
                x.nset + y.nset - len(list_intersect(x.sset, y.sset)) AS uni
         FROM cand JOIN sv x ON da=x.doc_id JOIN sv y ON db=y.doc_id
         WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))
         ORDER BY doc_a, doc_b""",
    "q257_blocking_eval" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         uni AS (
           SELECT d.doc_id, d.lang, d.source
           FROM documents d JOIN w ON d.doc_id = w.doc_id
           WHERE len(w.words) >= 3),
         blk AS (SELECT lang, source, count(*) c FROM uni GROUP BY 1, 2),
         cen AS (SELECT CAST(sum(c) AS HUGEINT) n,
                        sum(CAST(c AS HUGEINT) * (c - 1)) cand2
                 FROM blk),
         tp AS (
           SELECT count(*) pairs_total,
                  SUM(CASE WHEN la.lang = lb.lang AND la.source = lb.source
                      THEN 1 ELSE 0 END) pairs_found
           FROM pairs JOIN documents la ON da = la.doc_id
                      JOIN documents lb ON db = lb.doc_id)
         SELECT CAST(n AS BIGINT) n_docs,
                CAST(cand2 // 2 AS BIGINT) cand_pairs,
                CAST((n * (n - 1)) // 2 AS BIGINT) total_pairs,
                CAST(((n * (n - 1) - cand2) * 1000000)
                     // (n * (n - 1)) AS BIGINT) reduction_ppm,
                CAST(pairs_total AS BIGINT) pairs_total,
                CAST(pairs_found AS BIGINT) pairs_found,
                CAST((pairs_found * 1000000) // pairs_total AS BIGINT)
                  completeness_ppm
         FROM cen, tp""",
    "q32_minhash_sig" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id,
                  [list_aggregate(list_transform(hs, hm ->
                     ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
                   for k in range(0,12)] AS mh
           FROM hsv)
         SELECT doc_id, k, mh[k+1] AS mh_k
         FROM m, unnest(range(0,12)) t(k)
         ORDER BY doc_id, k""",
    "q19_simhash" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' '))) sset
           FROM w WHERE len(words) >= 3),
         hs AS (
           SELECT doc_id, list_transform(sset, s -> CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)) hv FROM sh)
         SELECT doc_id,
                CAST(list_sum([CASE WHEN list_sum(list_transform(hv, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0,60)]) AS BIGINT) AS simhash
         FROM hs ORDER BY doc_id""",
    "q20_simdup" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' '))) sset
           FROM w WHERE len(words) >= 3),
         hs AS (
           SELECT doc_id, list_transform(sset, s -> CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)) hv FROM sh),
         sim AS (
           SELECT doc_id,
                  CAST(list_sum([CASE WHEN list_sum(list_transform(hv, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0,60)]) AS BIGINT) simhash
           FROM hs),
         bands AS (
           SELECT doc_id, simhash, b, (simhash >> (15*b)) & 32767 sig FROM sim, unnest(range(0,4)) t(b))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM bands a JOIN bands b ON a.b=b.b AND a.sig=b.sig AND a.doc_id<b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY doc_a, doc_b""",
    "q21_ngram" ->
      """WITH n AS (
           SELECT doc_id, lang, source, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) t FROM documents),
         g AS (
           SELECT doc_id, lang, source, list_distinct(list_transform(range(1, len(t)-2), i -> t[i:i+3])) gs
           FROM n WHERE len(t) >= 4)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len(list_intersect(a.gs, b.gs)) AS inter,
                len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS uni
         FROM g a JOIN g b ON a.lang=b.lang AND a.source=b.source AND a.doc_id<b.doc_id
         WHERE 2*len(list_intersect(a.gs, b.gs)) >= len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))
         ORDER BY doc_a, doc_b""",
    // winnowing replay: O(n·k) per-position hash recompute (the native
    // kernel rolls in O(n)); the packing h·2^21 + (2^20 − p) makes the
    // per-window argmin a plain min() — no tie rules to mirror
    "q101_winnow" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')) t
                    FROM documents),
         g AS (SELECT doc_id, t, length(t) - 7 AS m FROM n WHERE length(t) >= 8),
         kh AS (SELECT doc_id, i - 1 AS p,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(i, i + 8), j -> CAST(ascii(t[j:j]) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 2147483647) AS h
                FROM g, unnest(range(1, m + 1)) u(i)),
         c AS (SELECT doc_id, p, h * 2097152 + (1048575 - p) AS c FROM kh),
         wm AS (SELECT doc_id, p,
                  min(c) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s,
                  max(p) OVER (PARTITION BY doc_id) AS mp
                FROM c),
         sel AS (SELECT DISTINCT doc_id, s // 2097152 AS h
                 FROM wm WHERE p <= greatest(mp - 3, 0)),
         keeph AS (SELECT h FROM (SELECT h, count(*) df FROM sel GROUP BY h)
                   WHERE df <= 20),
         gated AS (SELECT sel.doc_id, sel.h FROM sel JOIN keeph USING (h))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM gated a JOIN gated b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
         HAVING count(*) >= 10
         ORDER BY doc_a, doc_b""",
    // q18's confirmed pairs as the edge set; 8 peel rounds unrolled
    // (same fixed count as the Spark side, so the result matches
    // converged or not), then the surviving nodes with degrees.
    "q149_kcore" -> {
      val peel = (1 to 8).map(i => s"""
         d$i AS MATERIALIZED (SELECT node, count(*) deg
                 FROM (SELECT u node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
                 GROUP BY 1),
         e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
                 WHERE u IN (SELECT node FROM d$i WHERE deg >= 2)
                   AND v IN (SELECT node FROM d$i WHERE deg >= 2))""").mkString(",")
      s"""WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         e0 AS MATERIALIZED (SELECT da u, db v FROM pairs),$peel
         SELECT node, CAST(count(*) AS BIGINT) degree
         FROM (SELECT u node FROM e8 UNION ALL SELECT v FROM e8)
         GROUP BY 1 ORDER BY node"""
    },
    // q18's pairs; per-node degrees; floor-log2 buckets.
    "q175_degree_dist" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')) shingles
           FROM w WHERE len(words) >= 3),
         ss AS (
           SELECT doc_id, list_distinct(shingles) sset FROM sh),
         hsv AS (
           SELECT doc_id, sset, len(sset) nset,
                  list_transform(sset, x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) % 2147483647) hs
           FROM ss),
         m AS (
           SELECT doc_id, sset, nset,
             [list_aggregate(list_transform(hs, hm ->
                ((CAST(1103515245 AS BIGINT) * (k+1) + 12345) % 2147483647 * hm + 977 * (k+1)) % 2147483647), 'min')
              for k in range(0,12)] mh
           FROM hsv),
         bands AS (
           SELECT doc_id, j, mh[2*j+1] * 2147483647 + mh[2*j+2] sig
           FROM m, unnest(range(0,6)) t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id da, b.doc_id db
           FROM bands a JOIN bands b ON a.j=b.j AND a.sig=b.sig AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT da, db
           FROM cand JOIN hsv x ON da=x.doc_id JOIN hsv y ON db=y.doc_id
           WHERE 5*len(list_intersect(x.sset, y.sset)) >= 3*(x.nset + y.nset - len(list_intersect(x.sset, y.sset)))),
         deg AS (
           SELECT node, count(*) deg
           FROM (SELECT da node FROM pairs UNION ALL SELECT db FROM pairs)
           GROUP BY 1)
         SELECT CAST(length(bin(deg)) AS BIGINT) bucket,
                count(*) n_nodes,
                CAST(min(deg) AS BIGINT) min_deg, CAST(max(deg) AS BIGINT) max_deg
         FROM deg GROUP BY 1 ORDER BY bucket""",
    // distinct 3-gram sets per doc; df=1 grams are corpus-unique.
    "q180_novelty" ->
      """WITH w AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') words
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, len(words)-1), i -> array_to_string(words[i:i+2],' ')))) g
           FROM w WHERE len(words) >= 3),
         df AS (SELECT g, count(*) df FROM sh GROUP BY 1)
         SELECT sh.doc_id, count(*) n_grams,
                count(CASE WHEN df.df = 1 THEN 1 END) n_unique,
                (count(CASE WHEN df.df = 1 THEN 1 END) * 1000000) // count(*) AS novelty_ppm
         FROM sh JOIN df USING (g)
         GROUP BY 1 ORDER BY doc_id"""
  )
}
