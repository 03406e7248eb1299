package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import TextQueries._

/** Language-ID, quality scoring/calibration, filter metrology and
  * scrubbing queries — split out of
  * [[TextQueries]] (round 15) purely for file size, with NO behavior
  * change: every entry is verbatim, shared kernels and scaladoc
  * context stay in [[TextQueries]], and [[TextQueries.queries]] /
  * [[TextQueries.oracleSql]] remain the single composed surface
  * SparkEntry consumes. */
object TextQualityQueries {

  /** q59's quality gate. The mean-token-length band is the
    * integer-division BETWEEN restated as pure integer inequalities
    * (300 ≤ (wc·100) div n ≤ 800 ⟺ 300n ≤ wc·100 < 801n for n > 0),
    * so it composes from Columns without an expr(). */
  private def qualityOk(nWords: Column, nStop: Column, nWordchars: Column): Column =
    nWords >= 30 && nStop * 10 <= nWords &&
      nWordchars * 100 >= nWords * 300 && nWordchars * 100 < nWords * 801

  /** q59's repetition gate (Gopher/C4-style): ≤30% duplicate words and
    * the dominant adjacent bigram ≤20%. */
  private def repOk(nWords: Column, nTypes: Column, topBigramN: Column): Column =
    (nWords - nTypes) * 100 <= nWords * 30 &&
      topBigramN * 100 <= greatest(nWords - 1, lit(1L)) * 20

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q17_text" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"), graft.Functions.text_stats(col("t")).as("st"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.n_bpe").as("n_bpe"), col("st.n_types").as("n_types"),
          col("st.n_wordchars").as("n_wordchars"), col("st.max_tok").as("max_tok"))
        .orderBy("doc_id")
    }),
    // Language-ID: marker-word score per language, deterministic
    // first-wins argmax (en > fr > de > es > zh on ties). ONE native
    // pass over the words for all five profiles (bigram_scores) —
    // the per-language size(filter(transform(...))) HOF chains were
    // interpreted, five passes per doc.
    "q24_lang" -> ((s, d) => {
      val spec = markers.map(_._2.mkString(",")).mkString(";")
      val scored = withWords(s, d)
        .withColumn("sc", graft.Functions.bigram_scores(col("words"), spec))
      val Seq(en, fr, de, es, zh) =
        (1 to markers.length).map(i => element_at(col("sc"), i))
      scored.select(
        col("doc_id"),
        en.as("s_en"), fr.as("s_fr"), de.as("s_de"), es.as("s_es"), zh.as("s_zh"),
        when(en >= fr && en >= de && en >= es && en >= zh, "en")
          .when(fr >= de && fr >= es && fr >= zh, "fr")
          .when(de >= es && de >= zh, "de")
          .when(es >= zh, "es")
          .otherwise("zh").as("predicted"))
        .orderBy("doc_id")
    }),
    // Quality scoring: length gate, stopword-ratio gate, scaled mean
    // token length, composite score — integers only.
    "q25_quality" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"),
          size(col("words")).cast(LongType).as("n_tokens"),
          length(regexp_replace(col("t"), " ", "")).cast(LongType).as("n_wordchars"),
          expr("size(filter(words, w -> w in ('the', 'a')))").cast(LongType).as("n_stop"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_stop"),
          (col("n_tokens") >= 30).as("len_ok"),
          (col("n_stop") * 10 <= col("n_tokens")).as("stop_ok"),
          expr("(n_wordchars * 100) div n_tokens").as("mean_tok_len_x100"),
          (when(col("n_tokens") >= 30, 1L).otherwise(0L)
            + when(col("n_stop") * 10 <= col("n_tokens"), 1L).otherwise(0L)
            + when(expr("(n_wordchars * 100) div n_tokens").between(300, 800), 1L)
              .otherwise(0L)).as("quality_score"))
        .orderBy("doc_id")
    }),
    // Model-based quality scoring — the fastText-style hashed linear
    // classifier a curation stack runs AFTER the heuristic gates
    // (q25): score = Σ_word weight[md5-bucket(word)] over hashed
    // unigram features, keep iff score > 0. Hashed features mean NO
    // vocabulary table and no shuffle — the whole model is 64 doubles
    // riding the plan as a literal (a production model is ~2M floats:
    // still a broadcast, same shape). Map-only; the left-to-right
    // aggregate keeps the float sum order engine-portable (the q16
    // pattern). Weights here are md5-derived stand-ins: deterministic
    // and re-derivable in the oracle, exactly like the LSH planes.
    "q84_quality_model" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"), size(col("words")).cast(LongType).as("n_tokens"),
          qmScore(col("words")).as("score"))
        .select(col("doc_id"), col("n_tokens"), col("score"),
          (col("score") > 0).as("kept"))
        .orderBy("doc_id")
    }),
    // Per-language CALIBRATED quality gate — the fairness fix for
    // model-based filters (a raw global threshold over-filters
    // whatever the model under-scores, classically non-English):
    // each language keeps its own top 60% by q84's hashed-linear
    // score, so the cut is a per-stratum percentile, not an absolute
    // score. rank·10 ≤ n_l·6 is the percentile test in exact integer
    // form; ranking ties break on doc_id, so the kept set is
    // engine-identical (scores are IEEE-identical by the q84 fold
    // discipline). Both windows share ONE lang exchange. At 100 TB
    // the full per-lang rank graduates to the q92 histogram sketch:
    // estimate each language's 60th-percentile score from mergeable
    // 64-bin sketches, then gate map-only against the threshold —
    // same decision, no corpus-wide rank.
    "q114_calib_quality" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wRank = Window.partitionBy("lang").orderBy(desc("score"), col("doc_id"))
      val wCnt = Window.partitionBy("lang")
      withWords(s, d)
        .select(col("doc_id"), col("lang"),
          qmScore(col("words")).as("score"))
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n_l", count(lit(1)).over(wCnt))
        .select(col("doc_id"), col("lang"), col("score"),
          (col("rn") * 10 <= col("n_l") * 6).as("kept"))
        .orderBy("doc_id")
    }),
    // Per-language quality DECILES — the reporting form of q114's
    // calibration: instead of one keep/drop cut, every document gets
    // its within-language decile by model score (ntile(10) over the
    // same deterministic (score DESC, doc_id) order), the table a
    // curation team reads to pick thresholds and a sampler (q105)
    // consumes as tier labels. ntile's even-split semantics are
    // engine-portable given a total order, and scores are
    // IEEE-identical by the q84 fold discipline, so the assignment
    // hash-matches. One lang exchange (same window family as q114);
    // the q116 histogram sketch remains the no-rank scale path.
    "q127_deciles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wRank = Window.partitionBy("lang").orderBy(desc("score"), col("doc_id"))
      withWords(s, d)
        .select(col("doc_id"), col("lang"),
          qmScore(col("words")).as("score"))
        .withColumn("decile", ntile(10).over(wRank).cast(LongType))
        .orderBy("doc_id")
    }),
    // q114's 100 TB SCALE VARIANT in code (the q79→q80 discipline:
    // the documented scale path must exist as an implemented,
    // oracle-gated surface): instead of ranking every document inside
    // a per-lang window (en ≈ half a real corpus → one straggler
    // task), the per-lang 40th-percentile score threshold comes off a
    // MERGEABLE 64-bin histogram sketch (hist_agg over the ×1000
    // integer-quantized score, the q92 kernel — 64 longs per lang
    // cross the wire), and the gate is a MAP-ONLY bucket compare
    // against the broadcast threshold table. Keep-fraction carries
    // bucket-width error (≤ one bin) — the documented sketch
    // trade-off; decisions replay exactly because every step is
    // integer arithmetic over IEEE-identical scores.
    "q116_calib_sketch" -> ((s, d) => {
      val scored = graft.ops.Barrier(withWords(s, d)
        .select(col("doc_id"), col("lang"),
          qmScore(col("words")).as("score"))
        .withColumn("sq", floor(col("score") * 1000).cast(LongType)))
      val th = scored.groupBy("lang")
        .agg(graft.Functions.hist_agg(col("sq"), -4000L, 4000L, 64).as("hist"))
        .withColumn("n", expr("aggregate(hist, 0L, (a, x) -> a + x)"))
        // smallest bucket whose running count reaches ceil(0.4·n):
        // everything strictly above it is kept (top ≤60% per lang)
        .withColumn("b40", expr(
          """array_min(filter(sequence(0, 63), b ->
             aggregate(slice(hist, 1, b + 1), 0L, (a, x) -> a + x)
               >= (2 * n + 4) div 5))"""))
        .select(col("lang"), col("b40"))
      scored.join(broadcast(th), "lang")
        .select(col("doc_id"), col("lang"), col("sq"),
          (expr("least(63L, greatest(0L, (sq + 4000) div 125))") > col("b40"))
            .as("kept"))
        .orderBy("doc_id")
    }),
    // Quality-weighted sampling — soft quality filtering (the
    // FineWeb/Gopher practice: DOWNSAMPLE low-quality strata instead
    // of dropping them, preserving diversity): q84's hashed-linear
    // score tiers each document (>0.5 → keep 100%, >0 → 50%, else
    // 10%), and the q41/q95 deterministic md5 hash gate applies the
    // tier's rate — reproducible, oracle-replayable, map-only
    // end-to-end (the model rides the plan as 64 literal doubles; the
    // gate needs no shuffle, no RNG state). Tier thresholds compare
    // IEEE-identical scores, so tiering is engine-exact.
    "q105_quality_sample" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"),
          qmScore(col("words")).as("score"))
        .select(col("doc_id"), col("score"),
          when(col("score") > 0.5d, 100L).when(col("score") > 0.0d, 50L)
            .otherwise(10L).as("keep_pct"))
        .withColumn("kept",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast(LongType), lit(100L)) < col("keep_pct"))
        .orderBy("doc_id")
    }),
    // Unigram-LM surprisal filter — the CCNet/RedPajama "perplexity
    // bucket" gate with an exact-integer surface: the LM is the
    // corpus's own unigram counts, surprisal(w) = floor(log2 T) −
    // floor(log2 cnt(w)) computed as length(bin(x)) differences —
    // bin() renders identically in Spark and DuckDB, so the integer
    // log2 quantization is engine-portable with NO float log. kept =
    // doc's mean surprisal below the corpus mean, cross-multiplied
    // (surp·T < G·n) in DECIMAL(38,0)/HUGEINT so the products pass
    // Long at 100 TB token counts (q98's discipline). Scale shape:
    // ONE corpus explode feeds both the vocab count and the scoring
    // join (Barrier); the count shuffle is vocab-sized with map-side
    // combine; per-term surprisal is computed once per TERM (vocab
    // rows), not per token; global (G, T) is a broadcast 1-row frame.
    "q106_lm_filter" -> ((s, d) => {
      val wx = graft.ops.Barrier(withWords(s, d)
        .select(col("doc_id"), explode(col("words")).as("term")))
      val cnts = graft.ops.Barrier(
        wx.groupBy("term").agg(count(lit(1)).as("cnt")))
      val tot = cnts.agg(sum(col("cnt")).as("tt"))
      val surpT = cnts.crossJoin(broadcast(tot))
        .select(col("term"),
          (length(bin(col("tt"))) - length(bin(col("cnt"))))
            .cast(LongType).as("surp"))
      // broadcast: surpT is VOCAB-sized (a unigram LM is bounded by
      // its vocabulary, not the corpus), but it descends from a
      // Barrier, whose RDD-backed stats make Spark assume
      // corpus-sized and sort-merge — which shuffled AND sorted the
      // whole token stream against a tiny dict (measured sf10:
      // 43.2 -> 8.0 s from this hint alone). The token stream now
      // never crosses an exchange: explode -> broadcast probe ->
      // partial-agg'd doc rollup.
      val perDoc = graft.ops.Barrier(wx.join(broadcast(surpT), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("surp")).as("surp")))
      val glob = perDoc.agg(sum(col("surp")).as("gs"),
        sum(col("n_tokens")).as("gn"))
      val dec = DecimalType(38, 0)
      perDoc.crossJoin(broadcast(glob))
        .select(col("doc_id"), col("n_tokens"), col("surp"),
          (col("surp").cast(dec) * col("gn").cast(dec)
            < col("gs").cast(dec) * col("n_tokens").cast(dec)).as("kept"))
        .orderBy("doc_id")
    }),
    // Per-source lexical diversity — the corpus-health metric that
    // catches templated/spun content near-dup filters miss (a source
    // can be 0% duplicate yet use the same 200 bigrams everywhere):
    // bigram type-token ratio per source, exact integers + ppm. Scale
    // shape: the distinct count is the standard two-level aggregate —
    // partial distinct on (source, shingle) map-side, then a
    // source-keyed count — so the exchange carries distinct bigrams
    // per source, never the token stream; the 100 TB estimation path
    // is IMPLEMENTED as q131 (hll_agg over the same grouping:
    // sketches merge map-side, 64 bytes per source cross the wire).
    "q121_diversity" -> ((s, d) => {
      // ALL adjacent pairs, not the distinct set word_shingles builds
      // (TTR's denominator is occurrences): index-zipped transform
      // over the words array, exploded once.
      val sh = Tables.documents(s, d)
        .select(col("source"),
          split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
            .as("words"))
        .filter(size(col("words")) >= 2)
        .select(col("source"), explode(expr(
          "transform(slice(words, 1, size(words)-1), (w, i) -> concat(w, ' ', element_at(words, i+2)))"))
          .as("sh"))
      sh.groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("sh")).as("n_distinct"))
        .select(col("source"), col("n_bigrams"), col("n_distinct"),
          expr("(n_distinct * 1000000) div n_bigrams").as("ttr_ppm"))
        .orderBy("source")
    }),
    // q121's 100 TB SCALE VARIANT (the q114→q116 / q79→q80
    // discipline: a documented scale path must exist as an
    // oracle-gated surface): the exact distinct-bigram count ranks a
    // (source, bigram)-keyed exchange whose payload grows with the
    // vocabulary; here the distinct count comes off the q102
    // HyperLogLog sketch instead — the per-source shuffle payload is
    // 64 one-byte registers + one long, CONSTANT at any corpus size.
    // The emitted register sum is exact-integer (oracle-replayable);
    // the estimate carries HLL's ~13% error at b=6 — the documented
    // sketch trade-off; q121 remains the exact form.
    "q131_diversity_sketch" -> ((s, d) => {
      val sh = Tables.documents(s, d)
        .select(col("source"),
          split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
            .as("words"))
        .filter(size(col("words")) >= 2)
        .select(col("source"), explode(expr(
          "transform(slice(words, 1, size(words)-1), (w, i) -> concat(w, ' ', element_at(words, i+2)))"))
          .as("sh"))
        .select(col("source"),
          conv(substring(md5(col("sh")), 1, 15), 16, 10).cast(LongType).as("h"))
      sh.groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"),
          graft.Functions.hll_agg(col("h"), 6).as("hll_s"))
        .select(col("source"), col("n_bigrams"), col("hll_s"),
          (lit(0.709d) * lit(4096.0d) * lit(3.6028797018963968e16d)
            / col("hll_s").cast("double")).as("est"))
        .orderBy("source")
    }),
    // Hashed importance resampling — the DSIR recipe (Xie et al.,
    // "Data Selection for Language Models via Importance Resampling",
    // NeurIPS 2023) in exact-integer form: score every raw document
    // by how much more likely its hashed-unigram features are under a
    // TARGET domain's distribution than under the raw corpus's own,
    // then keep documents that look like the target. Here the target
    // is the src0 slice (the curated-domain stand-in, as doc_id % 97
    // stands in for the eval split in q55); log-probabilities are
    // floor-log2 integers via length(bin(cnt+1)) — the q106 trick, so
    // weight = Σ_tokens [log2 p_t(b) − log2 p_r(b)] is an exact
    // integer both engines reproduce bit-for-bit (+1 is the Laplace
    // smoothing that keeps unseen buckets finite). Scale shape: ONE
    // token explode feeds both distributions (Barrier); the bucket
    // tables are 64 rows (hashing means NO vocabulary shuffle —
    // DSIR's own point); scoring is a broadcast join + partial-agg'd
    // per-doc sum. kept = w > 0, the deterministic resampling gate.
    "q120_dsir" -> ((s, d) => {
      val bucket: Column => Column = w =>
        pmod(conv(substring(md5(w), 1, 15), 16, 10).cast(LongType), lit(64L))
      val wx = graft.ops.Barrier(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
            .as("words"))
        .select(col("doc_id"), col("source"), explode(col("words")).as("term"))
        .withColumn("b", bucket(col("term")))
        .withColumn("is_t", (col("source") === "src0").cast(LongType)))
      val bc = graft.ops.Barrier(wx.groupBy("b").agg(
        sum(col("is_t")).as("ct"),
        sum(lit(1L) - col("is_t")).as("cr")))
      val tot = bc.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
      val wtab = bc.crossJoin(broadcast(tot))
        .select(col("b"),
          ((length(bin(col("ct") + 1)) - length(bin(col("cr") + 1)))
            + (length(bin(col("tr"))) - length(bin(col("tt")))))
            .cast(LongType).as("s"))
      wx.filter(col("is_t") === 0L)
        .join(broadcast(wtab), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("w"))
        .select(col("doc_id"), col("n_tokens"), col("w"), (col("w") > 0L).as("kept"))
        .orderBy("doc_id")
    }),
    // Repetition filtering — the Gopher/C4-style gate against
    // templated/boilerplate text: duplicate-word fraction and
    // top-word/top-bigram concentration, all integers, from ONE
    // native pass (repetition_stats). Map-only: the explode +
    // groupBy(doc, token) alternative shuffles a row per TOKEN.
    // rep_ok mirrors the published thresholds in spirit: ≤30%
    // duplicate words and the dominant bigram ≤20% of all bigrams.
    "q45_repetition" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"), graft.Functions.repetition_stats(col("t")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.n_types").as("n_types"),
          col("r.top_word_n").as("top_word_n"),
          col("r.top_bigram_n").as("top_bigram_n"))
        .select(col("doc_id"), col("n_words"), col("n_types"),
          col("top_word_n"), col("top_bigram_n"),
          expr("(100 * (n_words - n_types)) div n_words").as("dup_word_pct"),
          ((col("n_words") - col("n_types")) * 100 <= col("n_words") * 30
            && col("top_bigram_n") * 100 <= greatest(col("n_words") - 1, lit(1L)) * 20)
            .as("rep_ok"))
        .orderBy("doc_id")
    }),
    // Repetition SCRUB — the rewrite counterpart of q45's gate:
    // collapse every run of consecutively repeated tokens to one
    // occurrence ("batch batch batch" → "batch"), the cheap
    // degenerate-repetition cleanup applied before tokenization (a
    // stuck generator or template expansion repeats in place; cross-
    // doc boilerplate is q89's job). One indexed filter HOF per row —
    // map-only, codegen'd, no shuffle; the cleaned text travels as an
    // md5 witness so the corpus-sized result stays 3 longs + 32 hex
    // chars per doc at any scale.
    "q241_rep_scrub" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"), col("words"),
          expr("filter(words, (x, i) -> i = 0 OR x != element_at(words, i))")
            .as("kept"))
        .select(col("doc_id"),
          size(col("words")).cast(LongType).as("n_words"),
          (size(col("words")) - size(col("kept"))).cast(LongType).as("n_removed"),
          md5(array_join(col("kept"), " ").cast(BinaryType)).as("scrub_md5"))
        .orderBy("doc_id")
    }),
    // The curation funnel — the queries above composed into the final
    // keep/drop manifest a pretraining corpus build emits, one row per
    // document with every gate's verdict:
    //   keep_exact   canonical-text exact dedup (earliest doc_id per
    //                md5 wins; the ONLY shuffle — 16-byte keys, not
    //                bodies),
    //   not_eval     the eval split itself never trains,
    //   decontam_ok  no shingle overlap with the eval split (q55's
    //                broadcast probe),
    //   quality_ok   q25's integer gates all pass,
    //   rep_ok       q45's repetition gate.
    // Near-dup clustering composes the same way via q51's keep-list
    // (kept out here so the funnel stays one cheap pass + one
    // broadcast probe). Everything except the md5 window is map-local;
    // at 100 TB this runs as one job whose shuffle carries
    // (md5, doc_id, 5 booleans).
    "q59_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = withWords(s, d)
        .select(col("doc_id"), col("t"),
          graft.Functions.repetition_stats(col("t")).as("r"),
          expr("cast(size(filter(words, w -> w in ('the', 'a'))) as bigint)").as("n_stop"),
          length(regexp_replace(col("t"), " ", "")).cast(LongType).as("n_wordchars"))
        .select(col("doc_id"), col("t"),
          col("r.n_words").as("n_words"), col("r.n_types").as("n_types"),
          col("r.top_bigram_n").as("top_bigram_n"), col("n_stop"), col("n_wordchars"))
      val hits = evalOverlap(s, d, 3)
        .select(col("doc_id")).distinct()
        .withColumn("hit", lit(true))
      val wMd5 = Window.partitionBy(md5(col("t").cast(BinaryType)))
      base
        .withColumn("keep_exact", col("doc_id") === min(col("doc_id")).over(wMd5))
        .join(broadcast(hits), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("keep_exact"),
          (col("doc_id") % 97 =!= 0).as("not_eval"),
          col("hit").isNull.as("decontam_ok"),
          qualityOk(col("n_words"), col("n_stop"), col("n_wordchars"))
            .as("quality_ok"),
          repOk(col("n_words"), col("n_types"), col("top_bigram_n"))
            .as("rep_ok"))
        .withColumn("kept",
          col("keep_exact") && col("not_eval") && col("decontam_ok")
            && col("quality_ok") && col("rep_ok"))
        .orderBy("doc_id")
    }),
    // Denylist redaction — the PII-scrub shape (dictionary-driven
    // token replacement + audit count + content pin): map-only, one
    // HOF pass over the word array, no shuffle except the
    // presentation ORDER BY. Word-set matching instead of regex keeps
    // the oracle surface engine-exact (Java regex vs RE2 word
    // boundaries diverge); a production denylist of thousands of
    // terms compiles the same shape to the Aho-Corasick native
    // kernel (`Functions.ac_count`, exercised by q99).
    "q57_scrub" -> ((s, d) => {
      val inList = "'customer','supplier','key'"
      withWords(s, d)
        .select(col("doc_id"),
          expr(s"cast(size(filter(words, x -> x in ($inList))) as bigint)")
            .as("n_redacted"),
          md5(expr(s"array_join(transform(words, x -> CASE WHEN x in ($inList) THEN '<PII>' ELSE x END), ' ')")
            .cast(BinaryType)).as("red_md5"))
        .orderBy("doc_id")
    }),
    // Per-source capping — the "domain cap" every web corpus applies
    // (no single site dominates training data): keep at most 20
    // documents per source, chosen by a deterministic content-
    // independent hash rank so every engine/run/shard keeps the same
    // ones. The rank window rides WindowGroupLimit push-down (as
    // q53): each map task keeps ≤20 rows per source BEFORE the
    // window exchange, so the shuffle is O(sources × cap) at any
    // corpus size — never a full per-source sort.
    "q62_capsource" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hk = expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
      val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("hk", hk)
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 20)
        .select("doc_id", "source", "rk")
        .orderBy("doc_id")
    }),
    // Character-concentration junk screen — the gibberish/mash gate a
    // curation stack runs beside q25's token heuristics: a document
    // whose single most frequent character dominates its body (spaces
    // excluded) is keyboard mash, filler, or decode garbage, not
    // prose. Map-only and SINGLE-PASS: the native `char_bag` kernel
    // scans the string once into a 37-slot count array (the q146
    // build kernel), and every statistic reads that tiny array —
    // indices 0..35 are the space-free body. (A first cut ran the
    // census as HOF lambdas over split(b, ''); CollapseProject
    // re-inlined the split into every lambda and the sf1 rehearsal
    // measured 48× at 10× data — the one-pass kernel restored ~1×.)
    // No shuffle except the presentation ORDER BY; exact integer ppm;
    // the junk test cross-multiplies (top·1e6 > 300000·n) so no
    // division rounding is in the decision path.
    "q186_charjunk" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"), graft.Functions.char_bag(col("t")).as("bag"))
        .select(col("doc_id"),
          expr("aggregate(slice(bag, 1, 36), 0L, (a, x) -> a + x)").as("n_body"),
          expr("cast(size(filter(slice(bag, 1, 36), x -> x > 0L)) as bigint)")
            .as("n_alpha"),
          expr("array_max(slice(bag, 1, 36))").as("top_char_n"))
        .select(col("doc_id"), col("n_body"), col("n_alpha"), col("top_char_n"),
          expr("CASE WHEN n_body = 0 THEN 0L ELSE (top_char_n * 1000000) div n_body END")
            .as("conc_ppm"),
          (col("n_body") === 0L ||
            col("top_char_n") * 1000000L > lit(300000L) * col("n_body"))
            .as("junk"))
        .orderBy("doc_id")
    }),
    // Normalization-ablation dedup — the measurement behind the
    // "normalize before you dedup" pipeline decision: per source, how
    // many exact-dup documents exist on the RAW bytes vs after the
    // engine's canonical text form (lower → strip non-alnum → collapse
    // whitespace, the q24/q108 shingle normalization), and the ppm of
    // extra duplicates normalization surfaces. Both censuses group by
    // a 32-byte md5 — text never reaches a shuffle; the two dup-hash
    // frames join back hash-keyed; gain_ppm is exact integer division
    // (norm dups ⊇ raw dups by construction, so it's non-negative).
    "q205_norm_dedup" -> ((s, d) => {
      val per = Tables.documents(s, d)
        .select(col("source"),
          md5(col("text").cast(BinaryType)).as("h_raw"),
          md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
            .cast(BinaryType)).as("h_norm"))
      def dups(c: String, out: String) = per
        .groupBy(col(c).as("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select(col("h").as(out))
      per
        .join(dups("h_raw", "dr"), col("h_raw") === col("dr"), "left")
        .join(dups("h_norm", "dn"), col("h_norm") === col("dn"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("dr")).as("raw_dups"),
          count(col("dn")).as("norm_dups"))
        .select(col("source"), col("n_docs"), col("raw_dups"), col("norm_dups"),
          expr("((norm_dups - raw_dups) * 1000000) div n_docs").as("gain_ppm"))
        .orderBy("source")
    }),
    // Language-ID confusion matrix — the classifier AUDIT the q24
    // predictor needs before it gates a corpus: per (labeled, ?
    // predicted) cell, counts and the row-normalized share in exact
    // ppm (the diagonal is per-language recall). Same native
    // bigram_scores pass as q24 — run ONCE: the per-language totals
    // are sum(n) over the ~|langs|² matrix itself (a window on the
    // already-aggregated frame), not a second corpus scan; text never
    // shuffles.
    "q217_lang_confusion" -> ((s, d) => {
      val spec = markers.map(_._2.mkString(",")).mkString(";")
      val scored = withWords(s, d)
        .withColumn("sc", graft.Functions.bigram_scores(col("words"), spec))
      val Seq(en, fr, de, es, zh) =
        (1 to markers.length).map(i => element_at(col("sc"), i))
      val pred = scored.select(col("lang"),
        when(en >= fr && en >= de && en >= es && en >= zh, "en")
          .when(fr >= de && fr >= es && fr >= zh, "fr")
          .when(de >= es && de >= zh, "de")
          .when(es >= zh, "es")
          .otherwise("zh").as("predicted"))
      pred.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .select(col("lang"), col("predicted"), col("n"),
          expr("(n * 1000000) div sum(n) over (partition by lang)")
            .as("cell_ppm"))
        .orderBy("lang", "predicted")
    }),
    // Duplication × quality association — "are duplicates junk?": the
    // q25/q200 heuristic pass rate among near-dup cluster members vs
    // singleton documents. A strong association justifies dropping
    // whole clusters; independence says dedup and quality gates earn
    // their keep separately. Dup membership is the distinct union of
    // q18's confirmed pair ends ((long) ids only); the quality score
    // rides the text scan; the 2-row report is exact ppm.
    "q218_quality_vs_dup" -> ((s, d) => {
      val pairs = DedupArtifacts.pairs(s, d)
        .select("doc_a", "doc_b")
      val dup = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        .withColumn("is_dup", lit(1L))
      withWords(s, d)
        .select(col("doc_id"),
          (when(size(col("words")) >= 30, 1L).otherwise(0L)
            + when(expr("size(filter(words, x -> x in ('the', 'a'))) * 10")
                <= size(col("words")), 1L).otherwise(0L)
            + when(expr("(length(replace(t, ' ', '')) * 100) div size(words)")
                .between(300, 800), 1L).otherwise(0L)).as("score"))
        .join(dup, Seq("doc_id"), "left")
        .select(coalesce(col("is_dup"), lit(0L)).as("is_dup"),
          when(col("score") >= 2, 1L).otherwise(0L).as("pass"))
        .groupBy("is_dup")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pass")).cast(org.apache.spark.sql.types.LongType).as("n_pass"))
        .withColumn("pass_ppm", expr("(n_pass * 1000000) div n_docs"))
        .orderBy("is_dup")
    }),
    // Quality-model ROC AUC vs near-dup membership — the THRESHOLD-
    // FREE evaluation of the q84 scorer that q218's fixed-cut 2×2
    // can't give: exact Mann-Whitney U with midrank ties over the
    // milli-quantized score, auc = P(score_dup > score_clean) + ½
    // P(=). Pairs never materialize: group docs by quantized score
    // (domain-bounded — the 64-weight model keeps scores in a fixed
    // range, so buckets are ~1e5 regardless of corpus size), then
    // U×2 = Σ_s n_pos(s)·(2·#neg_below(s) + n_neg(s)) via one
    // cumulative window over the bucket rollup — corpus-sized work is
    // ONE partial-agg'd groupBy; the window state is score-range-
    // bounded. Counts cross-multiply in Decimal(38,0): P·N overflows
    // Long at ~10^10 docs. An AUC near 0.5 means quality and
    // duplication are independent signals (filter them separately);
    // far from 0.5 means one subsumes the other.
    "q246_quality_auc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = DedupArtifacts.pairs(s, d).select("doc_a", "doc_b")
      val dup = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        .withColumn("is_dup", lit(1L))
      val cells = withWords(s, d)
        .select(col("doc_id"),
          floor(qmScore(col("words")) * lit(1000.0d)).cast(LongType).as("sq"))
        .join(dup, Seq("doc_id"), "left")
        .select(col("sq"), coalesce(col("is_dup"), lit(0L)).as("is_dup"))
        .groupBy("sq")
        .agg(sum(col("is_dup")).as("n_pos"),
          sum(lit(1L) - col("is_dup")).as("n_neg"))
      val wCum = Window.orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, -1)
      cells
        .withColumn("cneg", coalesce(sum(col("n_neg")).over(wCum), lit(0L)))
        .agg(sum("n_pos").cast(LongType).as("n_pos"),
          sum("n_neg").cast(LongType).as("n_neg"),
          sum(col("n_pos").cast(DecimalType(38, 0))
            * (col("cneg") * 2 + col("n_neg"))).as("u2"))
        .select(col("n_pos"), col("n_neg"),
          expr("""cast((u2 * 1000000) div (2 * cast(n_pos as decimal(38,0))
                       * cast(n_neg as decimal(38,0))) as bigint)""").as("auc_ppm"))
    }),
    // Inter-filter agreement (Cohen's kappa) — heuristic gate (q25's
    // score ≥ 2) vs model gate (q84's score > 0): how much do the two
    // quality filters agree BEYOND chance? κ near 1 means the cheap
    // heuristic can pre-filter for the model (cascade saves the model
    // pass on most docs); κ near 0 means they fire on different docs
    // and both gates carry signal. One corpus scan computes both
    // verdicts (the scorers share the words array), one partial-agg'd
    // 2×2 census, then exact integers: κ = 2(ad−bc) /
    // ((a+b)(b+d)+(a+c)(c+d)) in Decimal(38,0) (a·d overflows Long at
    // ~10^10 docs), ppm with explicit sign handling so Spark's
    // truncating `div` and DuckDB's flooring `//` agree on negatives.
    "q247_filter_kappa" -> ((s, d) => {
      val verdicts = withWords(s, d)
        .select(
          (when(size(col("words")) >= 30, 1L).otherwise(0L)
            + when(expr("size(filter(words, x -> x in ('the', 'a'))) * 10")
                <= size(col("words")), 1L).otherwise(0L)
            + when(expr("(length(replace(t, ' ', '')) * 100) div size(words)")
                .between(300, 800), 1L).otherwise(0L) >= 2L).as("hpass"),
          (qmScore(col("words")) > 0).as("mpass"))
      verdicts
        .agg(
          sum(when(col("hpass") && col("mpass"), 1L).otherwise(0L))
            .cast(DecimalType(38, 0)).as("a"),
          sum(when(col("hpass") && !col("mpass"), 1L).otherwise(0L))
            .cast(DecimalType(38, 0)).as("b"),
          sum(when(!col("hpass") && col("mpass"), 1L).otherwise(0L))
            .cast(DecimalType(38, 0)).as("c"),
          sum(when(!col("hpass") && !col("mpass"), 1L).otherwise(0L))
            .cast(DecimalType(38, 0)).as("dd"))
        .select(
          col("a").cast(LongType).as("both_pass"),
          col("b").cast(LongType).as("heur_only"),
          col("c").cast(LongType).as("model_only"),
          col("dd").cast(LongType).as("neither"),
          expr("""cast(case when 2*(a*dd - b*c) < 0 then -1 else 1 end
                       * ((abs(2*(a*dd - b*c)) * 1000000)
                          div ((a+b)*(b+dd) + (a+c)*(c+dd))) as bigint)""")
            .as("kappa_ppm"))
    }),
    // Source quality triage with Wilson lower bounds — ranking
    // sources by RAW pass rate over-trusts small sources (a 3-doc
    // source at 3/3 is not better evidence than 9,000/10,000); the
    // Wilson score interval's lower bound (z = 1.96) is the standard
    // small-sample-corrected ranking statistic. Exact integer (n, k)
    // per source from one partial-agg'd rollup; the bound itself is
    // a fixed IEEE expression of (n, k) — engine-identical — floored
    // to ppm so the output stays integer. At 100 TB the rollup is
    // sources-sized; the triage decision (drop / sample / keep per
    // source) feeds q62's cap table.
    "q248_wilson" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"),
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("t"))
        .withColumn("words", split(col("t"), " "))
        .select(col("source"),
          (when(size(col("words")) >= 30, 1L).otherwise(0L)
            + when(expr("size(filter(words, x -> x in ('the', 'a'))) * 10")
                <= size(col("words")), 1L).otherwise(0L)
            + when(expr("(length(replace(t, ' ', '')) * 100) div size(words)")
                .between(300, 800), 1L).otherwise(0L)).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= 2, 1L).otherwise(0L)).as("n_pass"))
        .select(col("source"), col("n_docs"), col("n_pass"),
          expr("cast((n_pass * 1000000) div n_docs as bigint)").as("pass_ppm"),
          {
            // explicit double lits: a bare 1.9208 parses as DECIMAL in
            // both engines' SQL and would take the decimal-division
            // path in one and not the other — the Column form pins
            // every step to IEEE doubles, mirrored 1:1 in the oracle
            val nD = col("n_docs").cast(DoubleType)
            val p = col("n_pass").cast(DoubleType) / nD
            val lb = (p + lit(1.9208d) / nD
              - lit(1.96d) * sqrt((p * (lit(1.0d) - p) + lit(0.9604d) / nD) / nD)) /
              (lit(1.0d) + lit(3.8416d) / nD)
            floor(lit(1000000.0d) * lb).cast(LongType).as("wilson_lb_ppm")
          })
        .orderBy("source")
    }),
    // Shingle-vocabulary coverage ladder — the vocabulary-budget
    // curve: what share of all 3-word-shingle OCCURRENCES do the
    // top-100 / top-1k / top-10k most frequent shingle TYPES cover?
    // Steep coverage (few types dominate) signals template/boiler-
    // plate density (q89's scrub targets); flat coverage means
    // genuinely diverse text. The type rollup partial-aggregates;
    // ranking uses DistributedRank (never a one-partition corpus
    // window); the cumulative window then runs over the top-10k
    // SUBSET only (rung-bounded state at any corpus size) and each
    // rung reads its exact rank row. The 1-row occurrence total
    // broadcasts back for the exact ppm share.
    "q249_coverage_ladder" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = graft.ops.Barrier(withWords(s, d)
        .filter(size(col("words")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(words) - 2), i -> array_join(slice(words, i, 3), ' '))"))
          .as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("cnt")))
      val tot = counts.agg(sum(col("cnt")).cast(LongType).as("total"))
      val ranked = graft.ops.DistributedRank.rowNumber(
          counts, "r", Seq.empty, Seq(col("cnt").desc, col("sh")))
        .filter(col("r") <= 10000L)
      val wCum = Window.orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .withColumn("covered", sum(col("cnt")).over(wCum).cast(LongType))
        .filter(col("r").isin(100L, 1000L, 10000L))
        .crossJoin(broadcast(tot))
        .select(col("r").as("top_v"), col("covered"), col("total"),
          expr("cast((covered * 1000000) div total as bigint)")
            .as("coverage_ppm"))
        .orderBy("top_v")
    }),
    // Poisson-bootstrap confidence interval — the distributed
    // bootstrap: classical resampling needs n draws WITH replacement
    // per replicate (a global operation), but Poisson(1) multiplicities
    // per (row, replicate) approximate it row-LOCALLY, which is the
    // standard way to bootstrap a 100 TB metric in one scan. Each of
    // B = 100 replicates assigns every doc a multiplicity from the
    // exact inverse-CDF ppm ladder over the md5 gate (deterministic —
    // the oracle replays every draw; tail capped at 9, P < 2e-6), one
    // partial-agg'd rollup lands B (Σm·x, Σm) rows, replicate means
    // are one IEEE division each, and the 95% CI reads nearest-rank
    // order statistics 3 and 98 from a B-row window. Reported against
    // the full-corpus point estimate (1-row broadcast). The metric
    // here is mean chars/doc; any per-row metric slots into the same
    // harness.
    "q252_bootstrap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val means = docs
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(99))).as("b"))
        .withColumn("u", expr("""pmod(cast(conv(substring(md5(concat('boot:',
          cast(b as string), ',', cast(doc_id as string))), 1, 15), 16, 10)
          as bigint), 1000000)"""))
        .withColumn("m",
          (col("u") >= 367879).cast(LongType) + (col("u") >= 735758).cast(LongType)
            + (col("u") >= 919698).cast(LongType) + (col("u") >= 981011).cast(LongType)
            + (col("u") >= 996340).cast(LongType) + (col("u") >= 999405).cast(LongType)
            + (col("u") >= 999916).cast(LongType) + (col("u") >= 999989).cast(LongType)
            + (col("u") >= 999998).cast(LongType))
        .groupBy("b")
        .agg(sum(col("m") * col("n_chars")).as("sx"), sum(col("m")).as("sm"))
        .select(col("b"),
          (col("sx").cast(DoubleType) / col("sm").cast(DoubleType)).as("mean_b"))
      val ci = means
        .withColumn("r", row_number().over(Window.orderBy(col("mean_b"), col("b"))))
        .filter(col("r") === 3 || col("r") === 98)
        .agg(min(col("mean_b")).as("ci_lo"), max(col("mean_b")).as("ci_hi"))
      docs.agg((sum(col("n_chars")).cast(DoubleType)
          / count(lit(1)).cast(DoubleType)).as("mean_chars"))
        .crossJoin(broadcast(ci))
    }),
    // Neyman allocation — the survey-sampling OPTIMAL split of a
    // labeling/eval budget across strata: n_h ∝ N_h·σ_h (allocating
    // by size alone oversamples homogeneous strata; variance-
    // proportional allocation minimizes the estimator variance for a
    // fixed budget). Per-language exact integer moments give
    // SS_h = m·Σx² − (Σx)² in Decimal(38,0) (char-count squares sum
    // past Long at corpus scale), N_h·σ_h = √SS_h since N_h = m_h,
    // budget B = 1000 splits by largest-remainder rounding (floor +
    // rank-by-remainder top-up — allocations sum to B EXACTLY, ties
    // break on lang). One partial-agg'd corpus rollup; every window
    // after runs on the languages-sized table.
    "q256_neyman" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tot = Window.partitionBy(lit(1))
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("m"),
          sum(col("n_chars").cast(DecimalType(38, 0))).as("sx"),
          sum((col("n_chars") * col("n_chars")).cast(DecimalType(38, 0)))
            .as("sxx"))
        .withColumn("ss", expr("cast(m as decimal(38,0)) * sxx - sx * sx"))
        .withColumn("w", sqrt(col("ss").cast(DoubleType)))
        .withColumn("frac",
          col("w") * lit(1000.0d) / sum(col("w")).over(tot))
        .withColumn("base", floor(col("frac")).cast(LongType))
        .withColumn("rem", col("frac") - col("base").cast(DoubleType))
        .withColumn("leftover", lit(1000L) - sum(col("base")).over(tot))
        .withColumn("rk", row_number()
          .over(Window.orderBy(desc("rem"), col("lang"))).cast(LongType))
        .select(col("lang"), col("m").as("n_docs"),
          col("ss").cast(LongType).as("ss"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy("lang")
    }),

    // Per-language length-distribution quantiles from the MERGEABLE
    // quantile sketch (qsample_agg) — the sketch family's missing
    // member next to HLL/KMV/CMS/Misra-Gries/hist_agg. A bottom-k-by-
    // hash row sample (k = 128, keyed by the engine's md5-prefix hash
    // with doc_id as the unique tiebreak) is a uniform sample fixed by
    // the data, not the partitioning, so p50/p90/p99 read off the
    // sample's order statistics bit-identically in any engine — where
    // KLL/t-digest are compaction-order-dependent and could never sit
    // under the hash-match gate. Index arithmetic is exact-integer
    // (1 + (p·(n−1)) div 100), never a float rank. Scale shape: one
    // partial-agg'd groupBy — each map task emits ≤ k triples per
    // language, so a 100 TB per-language distribution costs a
    // languages-sized shuffle, never a sort or a corpus window
    // (contrast q137's percentile_cont, which is exact but sorts).
    "q264_qsketch" -> ((s, d) => {
      val h = expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
      def pick(p: Int, as: String) = expr(
        s"element_at(samp, cast(1 + ($p * (size(samp) - 1)) div 100 as int))")
        .as(as)
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"), h.as("h"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          graft.Functions.qsample_agg(col("h"), col("doc_id"),
            col("n_chars"), 128).as("samp"))
        .select(col("lang"), col("n_docs"),
          size(col("samp")).cast(LongType).as("n_sample"),
          pick(50, "p50"), pick(90, "p90"), pick(99, "p99"))
        .orderBy("lang")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q116_calib_sketch" ->
      s"""WITH n AS (SELECT doc_id, lang, $normDuck t FROM documents),
          w AS (SELECT doc_id, lang, string_split(t, ' ') words FROM n),
          wt AS (SELECT list_transform(range(0, 64), k ->
                   CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                     / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
          scored AS (
            SELECT doc_id, lang,
                   list_sum(list_transform(words, x ->
                     ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) AS score
            FROM w, wt),
          sq AS (SELECT doc_id, lang,
                   CAST(floor(score * 1000) AS BIGINT) sq FROM scored),
          hb AS (SELECT doc_id, lang, sq,
                   least(63, greatest(0, (sq + 4000) // 125)) b FROM sq),
          hist AS (SELECT lang, b, count(*) c FROM hb GROUP BY 1, 2),
          nl AS (SELECT lang, count(*) n FROM hb GROUP BY 1),
          cm AS (SELECT h.lang, h.b,
                   sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.b) cum, nl.n
                 FROM hist h JOIN nl USING (lang)),
          b40 AS (SELECT lang, min(b) b40 FROM cm
                  WHERE cum >= (2 * n + 4) // 5 GROUP BY lang)
         SELECT doc_id, hb.lang, sq, hb.b > b40.b40 AS kept
         FROM hb JOIN b40 ON hb.lang = b40.lang
         ORDER BY doc_id""",
    "q84_quality_model" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          wt AS (SELECT list_transform(range(0, 64), k ->
                   CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                     / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
          scored AS (
            SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
                   list_sum(list_transform(words, x ->
                     ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) AS score
            FROM w, wt)
          SELECT doc_id, n_tokens, score, score > 0 AS kept
          FROM scored ORDER BY doc_id""",
    // same score replay as q114; ntile(10) over the same total order.
    "q127_deciles" ->
      s"""WITH n AS (SELECT doc_id, lang, $normDuck t FROM documents),
          w AS (SELECT doc_id, lang, string_split(t, ' ') words FROM n),
          wt AS (SELECT list_transform(range(0, 64), k ->
                   CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                     / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
          scored AS (
            SELECT doc_id, lang,
                   list_sum(list_transform(words, x ->
                     ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) AS score
            FROM w, wt)
          SELECT doc_id, lang, score,
                 CAST(ntile(10) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT) AS decile
          FROM scored ORDER BY doc_id""",
    "q114_calib_quality" ->
      s"""WITH n AS (SELECT doc_id, lang, $normDuck t FROM documents),
          w AS (SELECT doc_id, lang, string_split(t, ' ') words FROM n),
          wt AS (SELECT list_transform(range(0, 64), k ->
                   CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                     / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
          scored AS (
            SELECT doc_id, lang,
                   list_sum(list_transform(words, x ->
                     ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) AS score
            FROM w, wt)
          SELECT doc_id, lang, score,
                 row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
                   * 10 <= count(*) OVER (PARTITION BY lang) * 6 AS kept
          FROM scored ORDER BY doc_id""",
    "q105_quality_sample" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          wt AS (SELECT list_transform(range(0, 64), k ->
                   CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                     / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
          scored AS (
            SELECT doc_id,
                   list_sum(list_transform(words, x ->
                     ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) AS score
            FROM w, wt),
          tiered AS (
            SELECT doc_id, score,
                   CASE WHEN score > 0.5 THEN 100
                        WHEN score > 0.0 THEN 50
                        ELSE 10 END AS keep_pct
            FROM scored)
          SELECT doc_id, score, CAST(keep_pct AS BIGINT) AS keep_pct,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 100 < keep_pct AS kept
          FROM tiered ORDER BY doc_id""",
    // 2-word shingles per source; distinct and total counts + ppm.
    "q121_diversity" ->
      s"""WITH n AS (SELECT doc_id, source, $normDuck t FROM documents),
          wd AS (SELECT source, string_split(t, ' ') words FROM n),
          sh AS (SELECT source,
                   unnest(list_transform(range(1, len(words)), i -> array_to_string(words[i:i+1], ' '))) s
                 FROM wd WHERE len(words) >= 2)
          SELECT source, CAST(count(*) AS BIGINT) n_bigrams,
                 CAST(count(DISTINCT s) AS BIGINT) n_distinct,
                 (CAST(count(DISTINCT s) AS BIGINT) * 1000000) // count(*) AS ttr_ppm
          FROM sh GROUP BY source ORDER BY source""",
    // the q121 bigram stream hashed; HLL registers replayed as the
    // q102 (source, j) max-rho GROUP BY and the exact-integer sum.
    "q131_diversity_sketch" ->
      s"""WITH n AS (SELECT doc_id, source, $normDuck t FROM documents),
          wd AS (SELECT source, string_split(t, ' ') words FROM n),
          sh AS (SELECT source,
                   unnest(list_transform(range(1, len(words)), i -> array_to_string(words[i:i+1], ' '))) s
                 FROM wd WHERE len(words) >= 2),
          hh AS (SELECT source, CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT) h FROM sh),
          tot AS (SELECT source, CAST(count(*) AS BIGINT) n_bigrams FROM hh GROUP BY source),
          dh AS (SELECT DISTINCT source, h FROM hh),
          regs AS (
            SELECT source, h % 64 AS j,
                   max(CASE WHEN h // 64 = 0 THEN 55
                            ELSE 55 - length(bin(h // 64)) END) AS r
            FROM dh GROUP BY source, j),
          s AS (
            SELECT source,
                   CAST(sum(CAST(1 AS BIGINT) << (55 - r)) +
                        (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS hll_s
            FROM regs GROUP BY source)
          SELECT s.source, tot.n_bigrams, s.hll_s,
                 0.709 * 4096.0 * CAST(36028797018963968 AS DOUBLE)
                   / CAST(s.hll_s AS DOUBLE) AS est
          FROM s JOIN tot USING (source)
          ORDER BY source""",
    // DSIR weights replayed: 64-bucket target/raw counts, floor-log2
    // ratios via length(bin(cnt+1)), per-doc sums over raw docs only.
    "q120_dsir" ->
      s"""WITH n AS (SELECT doc_id, source, $normDuck t FROM documents),
          wd AS (SELECT doc_id, source, string_split(t, ' ') words FROM n),
          wx AS (SELECT doc_id, source, unnest(words) term FROM wd),
          bx AS (SELECT doc_id,
                   CAST(concat('0x', substr(md5(term),1,15)) AS BIGINT) % 64 b,
                   CASE WHEN source = 'src0' THEN 1 ELSE 0 END is_t
                 FROM wx),
          bc AS (SELECT b, CAST(sum(is_t) AS BIGINT) ct,
                   CAST(sum(1 - is_t) AS BIGINT) cr FROM bx GROUP BY b),
          tot AS (SELECT CAST(sum(ct) AS BIGINT) tt, CAST(sum(cr) AS BIGINT) tr FROM bc),
          wt AS (SELECT b, CAST((length(bin(ct + 1)) - length(bin(cr + 1)))
                   + (length(bin(tr)) - length(bin(tt))) AS BIGINT) s
                 FROM bc, tot),
          pd AS (SELECT doc_id, count(*) n_tokens, CAST(sum(s) AS BIGINT) w
                 FROM bx JOIN wt USING (b) WHERE is_t = 0 GROUP BY doc_id)
          SELECT doc_id, n_tokens, w, w > 0 AS kept FROM pd ORDER BY doc_id""",
    "q106_lm_filter" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          wx AS (SELECT doc_id, unnest(words) term FROM w),
          c AS (SELECT term, count(*) cnt FROM wx GROUP BY term),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) tt FROM c),
          sp AS (SELECT term,
                   CAST(length(bin(tt)) - length(bin(cnt)) AS BIGINT) surp
                 FROM c, tot),
          pd AS (SELECT doc_id, count(*) n_tokens,
                   CAST(sum(surp) AS BIGINT) surp
                 FROM wx JOIN sp USING (term) GROUP BY doc_id),
          g AS (SELECT CAST(sum(surp) AS HUGEINT) gs,
                  CAST(sum(n_tokens) AS HUGEINT) gn FROM pd)
          SELECT doc_id, n_tokens, surp,
                 CAST(surp AS HUGEINT) * gn < gs * CAST(n_tokens AS HUGEINT)
                   AS kept
          FROM pd, g ORDER BY doc_id""",
    "q17_text" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, t, string_split(t, ' ') words FROM n)
          SELECT doc_id,
                 len(words) AS n_tokens,
                 len(regexp_extract_all(t, '[a-z]+|[0-9]')) AS n_bpe,
                 len(list_distinct(words)) AS n_types,
                 length(replace(t, ' ', '')) AS n_wordchars,
                 list_max(list_transform(words, w -> length(w))) AS max_tok
          FROM w ORDER BY doc_id""",
    "q24_lang" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          sc AS (SELECT doc_id,
                 ${markers.map { case (l, ws) => s"${scoreDuck(ws)} AS s_$l" }.mkString(", ")}
                 FROM w)
          SELECT doc_id, s_en, s_fr, s_de, s_es, s_zh,
                 CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh THEN 'en'
                      WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
                      WHEN s_de >= s_es AND s_de >= s_zh THEN 'de'
                      WHEN s_es >= s_zh THEN 'es'
                      ELSE 'zh' END AS predicted
          FROM sc ORDER BY doc_id""",
    "q25_quality" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, t, string_split(t, ' ') words FROM n),
          m AS (SELECT doc_id,
                  len(words) AS n_tokens,
                  length(replace(t, ' ', '')) AS n_wordchars,
                  len(list_filter(words, x -> x in ('the', 'a'))) AS n_stop
                FROM w)
          SELECT doc_id, n_tokens, n_stop,
                 n_tokens >= 30 AS len_ok,
                 n_stop * 10 <= n_tokens AS stop_ok,
                 (n_wordchars * 100) // n_tokens AS mean_tok_len_x100,
                 (CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END
                  + CASE WHEN n_stop * 10 <= n_tokens THEN 1 ELSE 0 END
                  + CASE WHEN (n_wordchars * 100) // n_tokens BETWEEN 300 AND 800 THEN 1 ELSE 0 END) AS quality_score
          FROM m ORDER BY doc_id""",
    "q45_repetition" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          base AS (SELECT doc_id, len(words) n_words,
                          len(list_distinct(words)) n_types FROM w),
          wx AS (SELECT doc_id, unnest(words) w FROM w),
          twc AS (SELECT doc_id, max(c) top_word_n FROM
                    (SELECT doc_id, w, count(*) c FROM wx GROUP BY doc_id, w)
                  GROUP BY doc_id),
          bg AS (SELECT doc_id, words[i] || ' ' || words[i+1] b
                 FROM w, unnest(range(1, len(words))) t(i)),
          tbc AS (SELECT doc_id, max(c) top_bigram_n FROM
                    (SELECT doc_id, b, count(*) c FROM bg GROUP BY doc_id, b)
                  GROUP BY doc_id)
          SELECT base.doc_id, n_words, n_types, top_word_n,
                 coalesce(top_bigram_n, 0) AS top_bigram_n,
                 (100 * (n_words - n_types)) // n_words AS dup_word_pct,
                 ((n_words - n_types) * 100 <= n_words * 30
                   AND coalesce(top_bigram_n, 0) * 100 <= greatest(n_words - 1, 1) * 20) AS rep_ok
          FROM base
          JOIN twc ON base.doc_id = twc.doc_id
          LEFT JOIN tbc ON base.doc_id = tbc.doc_id
          ORDER BY base.doc_id""",
    "q241_rep_scrub" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          k AS (SELECT doc_id, words,
                       list_filter(words, (x, i) -> i = 1 OR words[i-1] <> x) kept
                FROM w)
          SELECT doc_id, CAST(len(words) AS BIGINT) n_words,
                 CAST(len(words) - len(kept) AS BIGINT) n_removed,
                 md5(array_to_string(kept, ' ')) scrub_md5
          FROM k ORDER BY doc_id""",
    "q59_funnel" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, t, string_split(t, ' ') words FROM n),
          base AS (SELECT doc_id, t, len(words) n_words,
                     len(list_distinct(words)) n_types,
                     len(list_filter(words, x -> x in ('the', 'a'))) n_stop,
                     length(replace(t, ' ', '')) n_wordchars
                   FROM w),
          bg AS (SELECT doc_id, words[i] || ' ' || words[i+1] b
                 FROM w, unnest(range(1, len(words))) t(i)),
          tbc AS (SELECT doc_id, max(c) top_bigram_n FROM
                    (SELECT doc_id, b, count(*) c FROM bg GROUP BY doc_id, b)
                  GROUP BY doc_id),
          sh AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, len(words)-1),
                     i -> array_to_string(words[i:i+2], ' '))) spans
                 FROM w WHERE len(words) >= 3),
          ev AS (SELECT DISTINCT unnest(spans) span FROM sh WHERE doc_id % 97 = 0),
          corp AS (SELECT doc_id, unnest(spans) span FROM sh WHERE doc_id % 97 <> 0),
          hits AS (SELECT DISTINCT corp.doc_id FROM corp JOIN ev ON corp.span = ev.span),
          g AS (SELECT b.doc_id,
                  b.doc_id = min(b.doc_id) OVER (PARTITION BY md5(b.t)) AS keep_exact,
                  b.doc_id % 97 <> 0 AS not_eval,
                  h.doc_id IS NULL AS decontam_ok,
                  (b.n_words >= 30 AND b.n_stop * 10 <= b.n_words
                    AND (b.n_wordchars * 100) // b.n_words BETWEEN 300 AND 800) AS quality_ok,
                  ((b.n_words - b.n_types) * 100 <= b.n_words * 30
                    AND coalesce(tbc.top_bigram_n, 0) * 100
                        <= greatest(b.n_words - 1, 1) * 20) AS rep_ok
                FROM base b
                LEFT JOIN tbc ON b.doc_id = tbc.doc_id
                LEFT JOIN hits h ON b.doc_id = h.doc_id)
          SELECT doc_id, keep_exact, not_eval, decontam_ok, quality_ok, rep_ok,
                 (keep_exact AND not_eval AND decontam_ok
                   AND quality_ok AND rep_ok) AS kept
          FROM g ORDER BY doc_id""",
    "q57_scrub" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n)
          SELECT doc_id,
                 len(list_filter(words, x -> x in ('customer','supplier','key'))) AS n_redacted,
                 md5(array_to_string(list_transform(words, x ->
                   CASE WHEN x in ('customer','supplier','key') THEN '<PII>' ELSE x END), ' ')) AS red_md5
          FROM w ORDER BY doc_id""",
    "q62_capsource" ->
      """WITH r AS (SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                 doc_id) rk
             FROM documents)
         SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 20 ORDER BY doc_id""",
    // per-doc char census over the space-stripped normalized body.
    "q186_charjunk" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          b AS (SELECT doc_id, replace(t, ' ', '') AS b FROM n),
          c AS (SELECT doc_id, unnest(string_split(b, '')) AS ch FROM b WHERE length(b) > 0),
          g AS (SELECT doc_id, ch, count(*) AS nc FROM c GROUP BY 1, 2),
          m AS (SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n_body,
                       CAST(count(*) AS BIGINT) AS n_alpha,
                       CAST(max(nc) AS BIGINT) AS top_char_n
                FROM g GROUP BY 1)
          SELECT b.doc_id,
                 coalesce(m.n_body, 0) AS n_body,
                 coalesce(m.n_alpha, 0) AS n_alpha,
                 coalesce(m.top_char_n, 0) AS top_char_n,
                 CASE WHEN coalesce(m.n_body, 0) = 0 THEN 0
                      ELSE (m.top_char_n * 1000000) // m.n_body END AS conc_ppm,
                 (coalesce(m.n_body, 0) = 0
                  OR coalesce(m.top_char_n, 0) * 1000000 > 300000 * m.n_body) AS junk
          FROM b LEFT JOIN m ON b.doc_id = m.doc_id
          ORDER BY b.doc_id""",
    // raw-bytes vs canonical-form exact-dup census per source; gain
    // in exact ppm (integer division).
    "q205_norm_dedup" ->
      s"""WITH per AS (
            SELECT source, md5(text) h_raw, md5($normDuck) h_norm
            FROM documents),
          dr AS (SELECT h_raw h FROM per GROUP BY 1 HAVING count(*) >= 2),
          dn AS (SELECT h_norm h FROM per GROUP BY 1 HAVING count(*) >= 2)
          SELECT source, count(*) AS n_docs,
                 CAST(count(dr.h) AS BIGINT) AS raw_dups,
                 CAST(count(dn.h) AS BIGINT) AS norm_dups,
                 CAST(((count(dn.h) - count(dr.h)) * 1000000) // count(*) AS BIGINT) AS gain_ppm
          FROM per LEFT JOIN dr ON per.h_raw = dr.h
                   LEFT JOIN dn ON per.h_norm = dn.h
          GROUP BY 1 ORDER BY 1""",
    // q24's predictor grouped into the (labeled, predicted) confusion
    // matrix with row-share ppm.
    "q217_lang_confusion" ->
      s"""WITH n AS (SELECT doc_id, lang, $normDuck t FROM documents),
          w AS (SELECT doc_id, lang, string_split(t, ' ') words FROM n),
          sc AS (SELECT doc_id, lang,
                 ${markers.map { case (l, ws) => s"${scoreDuck(ws)} AS s_$l" }.mkString(", ")}
                 FROM w),
          p AS (SELECT lang,
                 CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh THEN 'en'
                      WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
                      WHEN s_de >= s_es AND s_de >= s_zh THEN 'de'
                      WHEN s_es >= s_zh THEN 'es'
                      ELSE 'zh' END AS predicted
                FROM sc),
          tot AS (SELECT lang, count(*) m FROM p GROUP BY 1)
          SELECT p.lang, predicted, count(*) AS n,
                 CAST((count(*) * 1000000) // max(m) AS BIGINT) AS cell_ppm
          FROM p JOIN tot ON p.lang = tot.lang
          GROUP BY 1, 2 ORDER BY 1, 2""",
    // near-dup membership (q18 pair ends) × q25/q200 quality pass,
    // exact ppm per membership class.
    "q218_quality_vs_dup" ->
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
         dup AS (
           SELECT DISTINCT doc_id
           FROM (SELECT da AS doc_id FROM pairs UNION ALL SELECT db FROM pairs)),
         nq AS (SELECT doc_id, $normDuck t FROM documents),
         wq AS (SELECT doc_id, t, string_split(t, ' ') words FROM nq),
         per AS (
           SELECT doc_id,
                  (CASE WHEN len(words) >= 30 THEN 1 ELSE 0 END
                   + CASE WHEN len(list_filter(words, x -> x in ('the', 'a'))) * 10
                               <= len(words) THEN 1 ELSE 0 END
                   + CASE WHEN (length(replace(t, ' ', '')) * 100) // len(words)
                               BETWEEN 300 AND 800 THEN 1 ELSE 0 END) score
           FROM wq)
         SELECT CAST(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
                count(*) AS n_docs,
                CAST(count(CASE WHEN score >= 2 THEN 1 END) AS BIGINT) AS n_pass,
                CAST((count(CASE WHEN score >= 2 THEN 1 END) * 1000000) // count(*) AS BIGINT) AS pass_ppm
         FROM per LEFT JOIN dup ON per.doc_id = dup.doc_id
         GROUP BY 1 ORDER BY 1""",
    // q18 pair chain → dup labels, q84 scoring → milli-quantized
    // buckets, Mann-Whitney U over the bucket rollup (ties = midrank).
    "q246_quality_auc" ->
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
         dup AS (
           SELECT DISTINCT doc_id
           FROM (SELECT da AS doc_id FROM pairs UNION ALL SELECT db FROM pairs)),
         nq AS (SELECT doc_id, $normDuck t FROM documents),
         wq AS (SELECT doc_id, string_split(t, ' ') words FROM nq),
         wt AS (SELECT list_transform(range(0, 64), k ->
                  CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                    / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
         scored AS (
           SELECT doc_id, CAST(floor(list_sum(list_transform(words, x ->
                    ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1]))
                    * CAST(1000 AS DOUBLE)) AS BIGINT) sq
           FROM wq, wt),
         lab AS (
           SELECT sq, CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END is_dup
           FROM scored LEFT JOIN dup ON scored.doc_id = dup.doc_id),
         cells AS (
           SELECT sq, SUM(is_dup) n_pos, SUM(1 - is_dup) n_neg
           FROM lab GROUP BY sq),
         cum AS (
           SELECT sq, n_pos, n_neg,
                  COALESCE(SUM(n_neg) OVER (ORDER BY sq
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cneg
           FROM cells)
         SELECT CAST(SUM(n_pos) AS BIGINT) n_pos,
                CAST(SUM(n_neg) AS BIGINT) n_neg,
                CAST((SUM(n_pos * (2*cneg + n_neg)) * 1000000)
                     // (2 * SUM(n_pos) * SUM(n_neg)) AS BIGINT) auc_ppm
         FROM cum""",
    // one scan, both gate verdicts, 2×2 census, exact-integer kappa
    // with explicit sign handling (floor ≡ truncate only when ≥ 0).
    "q247_filter_kappa" ->
      s"""WITH nq AS (SELECT doc_id, $normDuck t FROM documents),
         wq AS (SELECT doc_id, t, string_split(t, ' ') words FROM nq),
         wt AS (SELECT list_transform(range(0, 64), k ->
                  CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                    / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
         per AS (
           SELECT (CASE WHEN len(words) >= 30 THEN 1 ELSE 0 END
                   + CASE WHEN len(list_filter(words, x -> x in ('the', 'a'))) * 10
                               <= len(words) THEN 1 ELSE 0 END
                   + CASE WHEN (length(replace(t, ' ', '')) * 100) // len(words)
                               BETWEEN 300 AND 800 THEN 1 ELSE 0 END) >= 2 hpass,
                  list_sum(list_transform(words, x ->
                    ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) > 0 mpass
           FROM wq, wt),
         cells AS (
           SELECT SUM(CASE WHEN hpass AND mpass THEN 1 ELSE 0 END) a,
                  SUM(CASE WHEN hpass AND NOT mpass THEN 1 ELSE 0 END) b,
                  SUM(CASE WHEN NOT hpass AND mpass THEN 1 ELSE 0 END) c,
                  SUM(CASE WHEN NOT hpass AND NOT mpass THEN 1 ELSE 0 END) dd
           FROM per)
         SELECT CAST(a AS BIGINT) both_pass, CAST(b AS BIGINT) heur_only,
                CAST(c AS BIGINT) model_only, CAST(dd AS BIGINT) neither,
                CAST((CASE WHEN 2*(a*dd - b*c) < 0 THEN -1 ELSE 1 END)
                     * ((abs(2*(a*dd - b*c)) * 1000000)
                        // ((a+b)*(b+dd) + (a+c)*(c+dd))) AS BIGINT) kappa_ppm
         FROM cells""",
    // sources-sized rollup; the Wilson bound is a fixed IEEE-double
    // expression of (n_pass, n_docs), every literal cast to DOUBLE.
    "q248_wilson" ->
      s"""WITH nq AS (SELECT doc_id, source, $normDuck t FROM documents),
         wq AS (SELECT doc_id, source, t, string_split(t, ' ') words FROM nq),
         per AS (
           SELECT source,
                  (CASE WHEN len(words) >= 30 THEN 1 ELSE 0 END
                   + CASE WHEN len(list_filter(words, x -> x in ('the', 'a'))) * 10
                               <= len(words) THEN 1 ELSE 0 END
                   + CASE WHEN (length(replace(t, ' ', '')) * 100) // len(words)
                               BETWEEN 300 AND 800 THEN 1 ELSE 0 END) score
           FROM wq),
         g AS (
           SELECT source, count(*) n_docs,
                  SUM(CASE WHEN score >= 2 THEN 1 ELSE 0 END) n_pass
           FROM per GROUP BY 1),
         g2 AS (
           SELECT source, n_docs, n_pass,
                  CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) p,
                  CAST(n_docs AS DOUBLE) nd
           FROM g)
         SELECT source, CAST(n_docs AS BIGINT) n_docs,
                CAST(n_pass AS BIGINT) n_pass,
                CAST((n_pass * 1000000) // n_docs AS BIGINT) pass_ppm,
                CAST(floor(CAST(1000000 AS DOUBLE) * (
                  (p + CAST(1.9208 AS DOUBLE) / nd
                   - CAST(1.96 AS DOUBLE) * sqrt((p * (CAST(1.0 AS DOUBLE) - p)
                       + CAST(0.9604 AS DOUBLE) / nd) / nd))
                  / (CAST(1.0 AS DOUBLE) + CAST(3.8416 AS DOUBLE) / nd)))
                  AS BIGINT) wilson_lb_ppm
         FROM g2 ORDER BY source""",
    // occurrence-weighted shingle-type ranking; the cumulative window
    // runs over the top-10k subset only; rungs read their rank row.
    "q249_coverage_ladder" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
         sh AS (
           SELECT unnest(list_transform(range(1, len(words)-1),
                    i -> array_to_string(words[i:i+2],' '))) s
           FROM w WHERE len(words) >= 3),
         c AS (SELECT s, count(*) cnt FROM sh GROUP BY s),
         r AS (SELECT s, cnt, row_number() OVER (ORDER BY cnt DESC, s) r FROM c),
         cum AS (
           SELECT r, SUM(cnt) OVER (ORDER BY r
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) covered
           FROM r WHERE r <= 10000),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) total FROM c)
         SELECT r AS top_v, CAST(covered AS BIGINT) covered, total,
                CAST((covered * 1000000) // total AS BIGINT) coverage_ppm
         FROM cum, tot WHERE r IN (100, 1000, 10000) ORDER BY top_v""",
    // per-(doc, replicate) Poisson multiplicities from the same md5
    // ppm ladder; replicate means; nearest-rank order statistics.
    "q252_bootstrap" ->
      """WITH reps AS (
           SELECT b, doc_id, n_chars,
                  CAST(concat('0x', substr(md5(concat('boot:', CAST(b AS VARCHAR),
                    ',', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000 u
           FROM documents, unnest(range(0, 100)) t(b)),
         mm AS (
           SELECT b, n_chars,
                  (CAST(u >= 367879 AS BIGINT) + CAST(u >= 735758 AS BIGINT)
                   + CAST(u >= 919698 AS BIGINT) + CAST(u >= 981011 AS BIGINT)
                   + CAST(u >= 996340 AS BIGINT) + CAST(u >= 999405 AS BIGINT)
                   + CAST(u >= 999916 AS BIGINT) + CAST(u >= 999989 AS BIGINT)
                   + CAST(u >= 999998 AS BIGINT)) m
           FROM reps),
         g AS (SELECT b, sum(m * n_chars) sx, sum(m) sm FROM mm GROUP BY b),
         means AS (SELECT b, CAST(sx AS DOUBLE) / CAST(sm AS DOUBLE) mean_b FROM g),
         rk AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) r FROM means),
         ci AS (SELECT min(mean_b) ci_lo, max(mean_b) ci_hi FROM rk WHERE r IN (3, 98)),
         est AS (SELECT CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   mean_chars FROM documents)
         SELECT mean_chars, ci_lo, ci_hi FROM est, ci""",
    // exact per-lang moments → √SS weights → largest-remainder split.
    "q256_neyman" ->
      """WITH g AS (
           SELECT lang, count(*) m, sum(CAST(n_chars AS HUGEINT)) sx,
                  sum(CAST(n_chars AS HUGEINT) * n_chars) sxx
           FROM documents GROUP BY 1),
         s AS (SELECT lang, m, CAST(m AS HUGEINT) * sxx - sx * sx ss FROM g),
         w AS (SELECT lang, m, ss, sqrt(CAST(ss AS DOUBLE)) w FROM s),
         f AS (SELECT lang, m, ss,
                 (w * CAST(1000 AS DOUBLE)) / SUM(w) OVER () frac FROM w),
         b AS (SELECT lang, m, ss, frac, CAST(floor(frac) AS BIGINT) base,
                 frac - CAST(CAST(floor(frac) AS BIGINT) AS DOUBLE) rem FROM f),
         r AS (SELECT lang, m, ss, base, rem,
                 1000 - SUM(base) OVER () leftover,
                 row_number() OVER (ORDER BY rem DESC, lang) rk FROM b)
         SELECT lang, CAST(m AS BIGINT) n_docs, CAST(ss AS BIGINT) ss,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) alloc
         FROM r ORDER BY lang""",
    // bottom-128-by-hash sample per language, order-statistic quantiles
    // at exact-integer ranks — replays qsample_agg as two row_number
    // windows.
    "q264_qsketch" ->
      """WITH h AS (
           SELECT lang, doc_id, n_chars,
                  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) hv
           FROM documents),
         r AS (SELECT lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) rn
               FROM h),
         s AS (SELECT lang, n_chars FROM r WHERE rn <= 128),
         o AS (SELECT lang, n_chars,
                 row_number() OVER (PARTITION BY lang ORDER BY n_chars) orn,
                 count(*) OVER (PARTITION BY lang) ns
               FROM s),
         q AS (SELECT lang, max(ns) n_sample,
                 max(CASE WHEN orn = 1 + (50 * (ns - 1)) // 100 THEN n_chars END) p50,
                 max(CASE WHEN orn = 1 + (90 * (ns - 1)) // 100 THEN n_chars END) p90,
                 max(CASE WHEN orn = 1 + (99 * (ns - 1)) // 100 THEN n_chars END) p99
               FROM o GROUP BY lang),
         c AS (SELECT lang, count(*) n_docs FROM documents GROUP BY lang)
         SELECT c.lang, c.n_docs, q.n_sample, q.p50, q.p90, q.p99
         FROM c JOIN q USING (lang) ORDER BY lang""",
  )
}
