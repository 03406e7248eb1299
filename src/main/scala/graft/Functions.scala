package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshim.Shims

import graft.functions.{EnvelopeDecode, EnvelopeJson, EnvelopeProtoDecode, EnvelopeProtoEncode, HllMode, HllSketch, KmvMins, MinHashAgg, RollingHash, SortedIntersectCount, SurrogateEnvelope, UuidStr}

/** Custom scalar functions (native Catalyst expressions, codegen-able)
  * + their SQL registration. Column-API entry points below; SQL names
  * registered per-session via [[register]] (idempotent).
  */
object Functions {

  /** uuid_str(low, high): little-endian 128-bit UUID formatting —
    * reference kafka.go:214-219. */
  def uuid_str(low: Column, high: Column): Column =
    Shims.column(UuidStr(Shims.expression(low), Shims.expression(high)))

  /** envelope_json(struct): canonical byte-exact Envelope JSON —
    * reference encoder.go:15-18 semantics. */
  def envelope_json(env: Column): Column =
    Shims.column(EnvelopeJson(Shims.expression(env)))

  /** surrogate_envelope(event_id, ts_ns, user_id, event_type, value,
    * props): one surrogate event as a canonical Envelope struct, built
    * by one node (the nozzle's envelope assembly). */
  def surrogate_envelope(eventId: Column, tsNs: Column, userId: Column,
      eventType: Column, value: Column, props: Column): Column =
    Shims.column(SurrogateEnvelope(
      Seq(eventId, tsNs, userId, eventType, value, props).map(Shims.expression)))

  /** envelope_decode(json): parse canonical Envelope JSON back to the
    * struct; malformed → NULL (DROPMALFORMED, async.go:274-280). */
  def envelope_decode(json: Column): Column =
    Shims.column(EnvelopeDecode(Shims.expression(json)))

  /** envelope_proto(struct): dropsonde protobuf wire encoding of an
    * Envelope (sonde-go field numbers). */
  def envelope_proto(env: Column): Column =
    Shims.column(EnvelopeProtoEncode(Shims.expression(env)))

  /** envelope_proto_decode(bytes): the reference's true O2 input —
    * protobuf wire frame → Envelope struct; malformed → NULL
    * (proto.Unmarshal skip policy, async.go:274-280). */
  def envelope_proto_decode(bytes: Column): Column =
    Shims.column(EnvelopeProtoDecode(Shims.expression(bytes)))

  /** sorted_intersect_count(a, b): merge-walk |A∩B| over sorted,
    * deduped string arrays — the near-dup Jaccard hot path. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    Shims.column(SortedIntersectCount(Shims.expression(a), Shims.expression(b)))

  /** minhash_agg(h): streaming k-minima MinHash signature aggregate
    * over exploded shingle hashes — fixed 12-long state per group. */
  def minhash_agg(h: Column): Column =
    Shims.column(MinHashAgg(Shims.expression(h)).toAggregateExpression())

  /** minhash_array(shingles): the same 12-long signature as a scalar
    * expression over a materialized per-doc shingle array — no
    * explode/shuffle/join-back. */
  def minhash_array(shingles: Column): Column =
    Shims.column(graft.functions.MinHashArray(Shims.expression(shingles)))

  /** simhash60(shingles): 60-bit SimHash of a per-doc shingle array —
    * map-only, register-accumulated. */
  def simhash60(shingles: Column): Column =
    Shims.column(graft.functions.SimHash60(Shims.expression(shingles)))

  /** text_stats(t): token/type/length/BPE-ish statistics of a
    * normalized string in one byte pass. */
  def text_stats(t: Column): Column =
    Shims.column(graft.functions.TextStats(Shims.expression(t)))

  /** repetition_stats(t): word/type counts plus top word and top
    * adjacent-bigram occurrence counts in one pass — the Gopher-style
    * repetition-filter kernel. */
  def repetition_stats(t: Column): Column =
    Shims.column(graft.functions.RepetitionStats(Shims.expression(t)))

  /** bigram_scores(words, "a1,a2;b1,b2;..."): per-profile counts of
    * words starting with a profile bigram — the language-ID kernel,
    * one pass for all profiles. */
  def bigram_scores(words: Column, spec: String): Column =
    Shims.column(graft.functions.BigramScores(Shims.expression(words),
      org.apache.spark.sql.catalyst.expressions.Literal(spec)))

  /** kmv_kth(h, k): k-th minimum distinct hash — the KMV
    * distinct-count sketch statistic (estimator (k-1)*M/h_k). It is
    * element k of the ascending [[kmv_mins]], NULL when the group has
    * fewer than k distinct hashes. */
  def kmv_kth(h: Column, k: Int): Column =
    Shims.column(kmvKth(Shims.expression(h), k))

  /** kmv_mins(h, k): the KMV sketch as a SET — ascending bottom-k
    * distinct hashes, the mergeable state behind the set-operation
    * estimators (Jaccard/overlap between groups from fixed-size
    * sketches; see [[graft.functions.KmvMins]]). */
  def kmv_mins(h: Column, k: Int): Column =
    Shims.column(KmvMins(Shims.expression(h), k).toAggregateExpression())

  /** cms_agg(h, depth, width): Count-Min sketch counters over the
    * 60-bit md5-prefix hash domain — mergeable depth·width longs; a
    * point query is the min of `depth` element_at reads (see
    * [[graft.functions.CmsAgg]]). */
  def cms_agg(h: Column, depth: Int, width: Int): Column =
    Shims.column(graft.functions.CmsAgg(Shims.expression(h), depth, width)
      .toAggregateExpression())

  /** qsample_agg(h, tie, v, k): mergeable quantile sketch — the k
    * values whose (h, tie) key is smallest, ascending by value;
    * quantile p is `element_at(result, 1 + floor(p * (size - 1)))`
    * (see [[graft.functions.QsampleAgg]]). */
  def qsample_agg(h: Column, tie: Column, v: Column, k: Int): Column =
    Shims.column(graft.functions.QsampleAgg(Shims.expression(h),
      Shims.expression(tie), Shims.expression(v), k).toAggregateExpression())

  /** rolling_hash(s): 31-polynomial byte hash mod 2^31-1 (document
    * fingerprinting). */
  def rolling_hash(s: Column): Column =
    Shims.column(RollingHash(Shims.expression(s)))

  /** vec_dot(a, b): sequential-fold dot product of float/double
    * arrays — the embedding-similarity hot path, bit-identical to the
    * HOF formulation it replaces. */
  def vec_dot(a: Column, b: Column): Column =
    Shims.column(graft.functions.VecDot(Shims.expression(a), Shims.expression(b)))

  /** centroid_topk(emb, codebook, k): ids of the k nearest-by-dot
    * codebook centroids (ties to the smallest cid) — the map-only IVF
    * coarse-quantizer assignment over a broadcast codebook. */
  def centroid_topk(emb: Column, codebook: Column, k: Int): Column =
    Shims.column(graft.functions.CentroidTopK(
      Shims.expression(emb), Shims.expression(codebook), k))

  /** pq_codes(emb, codebook, subDim): per-subspace argmin-L2 PQ
    * encoding — one call returns all emb.length/subDim codes; same
    * sequential-fold arithmetic and (d2, cid) tie order as the HOF
    * formulation it replaces (see [[graft.functions.PqCodes]]). */
  def pq_codes(emb: Column, codebook: Column, subDim: Int): Column =
    Shims.column(graft.functions.PqCodes(
      Shims.expression(emb), Shims.expression(codebook), subDim))

  /** pq_adc(qv, codebook, codes, subDim, nSub): asymmetric-distance
    * lookup-and-sum for a PQ search — per subspace, squared L2 between
    * the query slice and the cid-matched centroid's slice, summed in
    * subspace order; same sequential-fold arithmetic and null
    * poisoning as the HOF formulation it replaces (see
    * [[graft.functions.PqAdc]]). */
  def pq_adc(qv: Column, codebook: Column, codes: Column,
             subDim: Int, nSub: Int): Column =
    Shims.column(graft.functions.PqAdc(
      Shims.expression(qv), Shims.expression(codebook),
      Shims.expression(codes), subDim, nSub))

  /** any_null(arr): true iff the array has a NULL element — the
    * native form of the `exists(arr, isnull)` pre-filter (one
    * null-bitmap sweep instead of one interpreted lambda call per
    * element per row; see [[graft.functions.AnyNullElement]]). */
  def any_null(arr: Column): Column =
    Shims.column(graft.functions.AnyNullElement(Shims.expression(arr)))

  /** vec_quant8(emb): symmetric int8 quantization (floor(x·127/maxabs))
    * — the embedding storage/compression step, integer outputs. */
  def vec_quant8(emb: Column): Column =
    Shims.column(graft.functions.VecQuant8(Shims.expression(emb)))

  /** vec_dot_int(a, b): exact integer dot product of ARRAY<BIGINT>
    * vectors — the quantized-ANN ranking kernel. */
  def vec_dot_int(a: Column, b: Column): Column =
    Shims.column(graft.functions.VecDotInt(Shims.expression(a), Shims.expression(b)))

  /** vec_l1_int(a, b): exact integer L1 distance of ARRAY<BIGINT>
    * vectors — the bag-distance edit-prefilter kernel. */
  def vec_l1_int(a: Column, b: Column): Column =
    Shims.column(graft.functions.VecL1Int(Shims.expression(a), Shims.expression(b)))

  /** char_bag(s): one-pass [a-z0-9 ] character counts (37 longs) —
    * the bag-signature build kernel for the edit-distance prefilter. */
  def char_bag(s: Column): Column =
    Shims.column(graft.functions.CharBag(Shims.expression(s)))

  /** cdc_bounds(s, k, d): content-defined chunk boundaries — end
    * positions whose k-byte window hash ≡ 0 (mod d). */
  def cdc_bounds(s: Column, k: Int, d: Int): Column =
    Shims.column(graft.functions.CdcBounds(Shims.expression(s), k, d))

  /** misra_gries(word, capacity): Misra-Gries frequent-items summary —
    * capacity-bounded mergeable state; output is a guaranteed superset
    * of items with frequency > N/(capacity+1). */
  def misra_gries(word: Column, capacity: Int): Column =
    Shims.column(graft.functions.MisraGries(Shims.expression(word), capacity)
      .toAggregateExpression())

  /** bloom_agg(h, numBits, numHashes): order-independent bloom-filter
    * build over BIGINT keys — the broadcastable small side of the
    * bloom semi-join (wire format [k: 1 byte][bitset]). */
  def bloom_agg(h: Column, numBits: Int, numHashes: Int = 7): Column =
    Shims.column(graft.functions.BloomAgg(Shims.expression(h), numBits, numHashes)
      .toAggregateExpression())

  /** bloom_contains(b, key): map-side bloom probe — never a false
    * negative, so exact-join re-filtering preserves semi-join results. */
  def bloom_contains(b: Column, key: Column): Column =
    Shims.column(graft.functions.BloomContains(Shims.expression(b), Shims.expression(key)))

  /** gram4_codes(t): sorted distinct char-4-gram set of a normalized
    * ASCII string, packed one gram per Int — the n-gram dedup hot
    * path. */
  def gram4_codes(t: Column): Column =
    Shims.column(graft.functions.Gram4Codes(Shims.expression(t)))

  /** word_shingles3(t): sorted distinct 3-word shingles — the
    * MinHash/SimHash shingling hot path; an alias of
    * `word_shingles(t, 3)`. */
  def word_shingles3(t: Column): Column = word_shingles(t, 3)

  /** word_shingles(t, k): the parameterized k-word shingle set —
    * decontamination's production span widths (k = 8-13) with the
    * same zero-copy kernel. */
  def word_shingles(t: Column, k: Int): Column =
    Shims.column(graft.functions.WordShinglesK(Shims.expression(t), k))

  /** char_ngrams(t, n): native GENERATOR (the UDTF tier) — one
    * (pos, gram) row per overlapping character n-gram, iterated by
    * GenerateExec like posexplode. */
  def char_ngrams(t: Column, n: Int): Column =
    Shims.column(graft.functions.CharNgrams(Shims.expression(t), n))

  /** One-pass multi-pattern occurrence count over a compiled
    * Aho-Corasick automaton (see [[graft.functions.AcCount]]): the
    * dictionary-size-independent scan the q57/q89 IN-set probes
    * graduate to. */
  def ac_count(t: Column, patterns: Seq[String]): Column =
    Shims.column(graft.functions.AcCount(Shims.expression(t), patterns))

  /** winnow(t, k, w): the MOSS winnowing fingerprint set (see
    * [[graft.functions.Winnow]]) — per-window minima over rolling
    * k-gram hashes, packed (hash, position), map-only. */
  def winnow(t: Column, k: Int, w: Int): Column =
    Shims.column(graft.functions.Winnow(Shims.expression(t), k, w))

  /** bow_counts(t, n): hashed bag-of-words count vector over the
    * md5-prefix bucket domain (see [[graft.functions.BowCounts]]) —
    * the q107 featurize kernel. */
  def bow_counts(t: Column, n: Int): Column =
    Shims.column(graft.functions.BowCounts(Shims.expression(t), n))

  /** Morton (Z-order) clustering key (see [[graft.functions.ZOrder2]]):
    * sort or repartitionByRange by this before a parquet write to get
    * min/max page pruning on BOTH dimensions. */
  def zorder2(a: Column, b: Column): Column =
    Shims.column(graft.functions.ZOrder2(Shims.expression(a), Shims.expression(b)))

  /** Mergeable fixed-width histogram sketch (see [[graft.functions.HistAgg]]):
    * constant nbins-long state per group, the 100 TB path for per-group
    * distribution stats where exact rank-select (q56) would sort. */
  def hist_agg(v: Column, lo: Long, hi: Long, nbins: Int): Column =
    Shims.column(graft.functions.HistAgg(Shims.expression(v), lo, hi, nbins)
      .toAggregateExpression())

  /** gram3_agg(t): exact char-trigram counts over the normalized
    * [a-z0-9 ] alphabet as ARRAY<BIGINT>(37³) — one byte walk per row,
    * array-indexed bumps, element-wise-add merge (see
    * [[graft.functions.Gram3Agg]]). */
  def gram3_agg(t: Column): Column =
    Shims.column(graft.functions.Gram3Agg(Shims.expression(t))
      .toAggregateExpression())

  /** hll_agg(h, b): HyperLogLog registers over the 60-bit md5-prefix
    * hash domain, 2^b-byte mergeable state; returns the exact-integer
    * register sum S (see [[graft.functions.HllSketch]] — the estimate
    * is a pure function of S). */
  def hll_agg(h: Column, b: Int): Column =
    Shims.column(HllSketch(Shims.expression(h), b, HllMode.Agg)
      .toAggregateExpression())

  /** md5prefix60(bytes): the engine's portable 60-bit hash computed
    * natively from the MD5 digest (see [[graft.functions.Md5Prefix60]]
    * and the [[graft.plans.Md5PrefixFold]] rule that rewrites the
    * spelled hex-conv form to this kernel). */
  def md5prefix60(bytes: Column): Column =
    Shims.column(graft.functions.Md5Prefix60(Shims.expression(bytes)))

  /** hll_regs(h, b): the register ARRAY itself as the aggregate value
    * (see [[graft.functions.HllSketch]]) — land per-partition
    * sketches, roll them up later with [[hll_union]] without
    * rescanning. */
  def hll_regs(h: Column, b: Int): Column =
    Shims.column(HllSketch(Shims.expression(h), b, HllMode.Regs)
      .toAggregateExpression())

  /** hll_union(regs, b): fold [[hll_regs]] sketches by register max
    * into the exact-integer S ([[graft.functions.HllSketch]]);
    * union-of-sketches ≡ sketch-of-union, bit for bit. */
  def hll_union(regs: Column, b: Int): Column =
    Shims.column(HllSketch(Shims.expression(regs), b, HllMode.Union)
      .toAggregateExpression())

  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TryElementAt}

  /** `kmv_kth` is not a kernel of its own: element k of `kmv_mins`. */
  private def kmvKth(h: Expression, k: Int): Expression =
    new TryElementAt(KmvMins(h, k).toAggregateExpression(), Literal(k))

  /** Extract a foldable integer literal argument (k, capacity, bits). */
  private def intLit(fn: String, what: String)(e: Expression): Int =
    scala.util.Try(e.eval()).toOption match {
      case Some(i: Int) => i
      case Some(l: Long) => l.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn $what must be an integer literal, got: $e")
    }

  /** Extract a foldable array-of-strings literal argument (pattern
    * dictionaries). */
  private def strsLit(fn: String, what: String)(e: Expression): Seq[String] =
    scala.util.Try(e.eval()).toOption match {
      case Some(a: org.apache.spark.sql.catalyst.util.ArrayData) =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
          .toSeq
      case _ => throw new IllegalArgumentException(
        s"$fn $what must be an array-of-strings literal, got: $e")
    }

  /** Extract a foldable long literal argument (histogram bounds). */
  private def longLit(fn: String, what: String)(e: Expression): Long =
    scala.util.Try(e.eval()).toOption match {
      case Some(i: Int) => i.toLong
      case Some(l: Long) => l
      case _ => throw new IllegalArgumentException(
        s"$fn $what must be an integer literal, got: $e")
    }

  /** `hll_agg`/`hll_regs`/`hll_union(x, b)`: b must be an integer literal. */
  private def hll(mode: HllMode)(exprs: Seq[Expression]): Expression =
    HllSketch(exprs(0), intLit(mode.name, "b")(exprs(1)), mode).toAggregateExpression()

  /** The SQL function surface — one source of truth consumed by both
    * [[register]] (temp functions on an existing session) and
    * [[GraftExtensions]] (`spark.sql.extensions` injection, the
    * cluster-deploy path that needs no driver code). */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "uuid_str" -> (exprs => UuidStr(exprs(0), exprs(1))),
    "envelope_json" -> (exprs => EnvelopeJson(exprs.head)),
    "envelope_decode" -> (exprs => EnvelopeDecode(exprs.head)),
    "envelope_proto" -> (exprs => EnvelopeProtoEncode(exprs.head)),
    "envelope_proto_decode" -> (exprs => EnvelopeProtoDecode(exprs.head)),
    "sorted_intersect_count" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
    "minhash_agg" -> (exprs => MinHashAgg(exprs.head).toAggregateExpression()),
    // kmv_kth(h, 16): k must be a foldable integer literal
    "kmv_kth" -> (exprs => kmvKth(exprs(0), intLit("kmv_kth", "k")(exprs(1)))),
    // kmv_mins(h, 64): k must be a foldable integer literal
    "kmv_mins" -> (exprs =>
      KmvMins(exprs(0), intLit("kmv_mins", "k")(exprs(1))).toAggregateExpression()),
    // cms_agg(h, 4, 512): depth/width must be foldable integer literals
    "cms_agg" -> (exprs =>
      graft.functions.CmsAgg(exprs(0), intLit("cms_agg", "depth")(exprs(1)),
        intLit("cms_agg", "width")(exprs(2))).toAggregateExpression()),
    // qsample_agg(h, tie, v, 128): k must be a foldable integer literal
    "qsample_agg" -> (exprs =>
      graft.functions.QsampleAgg(exprs(0), exprs(1), exprs(2),
        intLit("qsample_agg", "k")(exprs(3))).toAggregateExpression()),
    "rolling_hash" -> (exprs => RollingHash(exprs.head)),
    // centroid_topk(e, cb, 2): k must be a foldable integer literal
    "pq_codes" -> (exprs =>
      graft.functions.PqCodes(exprs(0), exprs(1),
        intLit("pq_codes", "subDim")(exprs(2)))),
    "centroid_topk" -> (exprs =>
      graft.functions.CentroidTopK(exprs(0), exprs(1),
        intLit("centroid_topk", "k")(exprs(2)))),
    // pq_adc(qv, cb, codes, 16, 4): subDim/nSub integer literals
    "pq_adc" -> (exprs =>
      graft.functions.PqAdc(exprs(0), exprs(1), exprs(2),
        intLit("pq_adc", "subDim")(exprs(3)),
        intLit("pq_adc", "nSub")(exprs(4)))),
    "vec_dot" -> (exprs => graft.functions.VecDot(exprs(0), exprs(1))),
    "gram4_codes" -> (exprs => graft.functions.Gram4Codes(exprs.head)),
    "word_shingles3" -> (exprs => graft.functions.WordShinglesK(exprs.head, 3)),
    // word_shingles(t, 8): k must be a foldable integer literal
    "word_shingles" -> (exprs =>
      graft.functions.WordShinglesK(exprs(0), intLit("word_shingles", "k")(exprs(1)))),
    // char_ngrams(t, 3): generator — n must be a foldable integer literal
    "char_ngrams" -> (exprs =>
      graft.functions.CharNgrams(exprs(0), intLit("char_ngrams", "n")(exprs(1)))),
    "minhash_array" -> (exprs => graft.functions.MinHashArray(exprs.head)),
    "simhash60" -> (exprs => graft.functions.SimHash60(exprs.head)),
    "bigram_scores" -> (exprs => graft.functions.BigramScores(exprs(0), exprs(1))),
    "text_stats" -> (exprs => graft.functions.TextStats(exprs.head)),
    "repetition_stats" -> (exprs => graft.functions.RepetitionStats(exprs.head)),
    "any_null" -> (exprs => graft.functions.AnyNullElement(exprs.head)),
    "vec_quant8" -> (exprs => graft.functions.VecQuant8(exprs.head)),
    "vec_dot_int" -> (exprs => graft.functions.VecDotInt(exprs(0), exprs(1))),
    "vec_l1_int" -> (exprs => graft.functions.VecL1Int(exprs(0), exprs(1))),
    "char_bag" -> (exprs => graft.functions.CharBag(exprs(0))),
    // bloom_agg(h, 1048576[, 7]): numBits/numHashes integer literals;
    // numHashes defaults to 7 like the Scala API
    "bloom_agg" -> (exprs => {
      if (exprs.length < 2 || exprs.length > 3)
        throw new IllegalArgumentException(
          s"bloom_agg expects (key, numBits[, numHashes]), got ${exprs.length} arguments")
      val hashes =
        if (exprs.length == 3) intLit("bloom_agg", "numHashes")(exprs(2)) else 7
      graft.functions.BloomAgg(exprs(0),
        intLit("bloom_agg", "numBits")(exprs(1)), hashes).toAggregateExpression()
    }),
    "bloom_contains" -> (exprs => graft.functions.BloomContains(exprs(0), exprs(1))),
    // misra_gries(w, 4000): capacity must be a foldable integer literal
    "misra_gries" -> (exprs =>
      graft.functions.MisraGries(exprs(0),
        intLit("misra_gries", "capacity")(exprs(1))).toAggregateExpression()),
    "zorder2" -> (exprs => graft.functions.ZOrder2(exprs(0), exprs(1))),
    // winnow(t, 8, 4): k and w must be foldable integer literals
    "winnow" -> (exprs => graft.functions.Winnow(exprs(0),
      intLit("winnow", "k")(exprs(1)), intLit("winnow", "w")(exprs(2)))),
    // bow_counts(t, 16): bucket count must be an integer literal
    "bow_counts" -> (exprs => graft.functions.BowCounts(exprs(0),
      intLit("bow_counts", "n")(exprs(1)))),
    // cdc_bounds(t, 8, 64): window size and divisor must be literals
    "cdc_bounds" -> (exprs => graft.functions.CdcBounds(exprs(0),
      intLit("cdc_bounds", "k")(exprs(1)), intLit("cdc_bounds", "d")(exprs(2)))),
    // hll_agg(h, 6): register-count exponent must be an integer literal
    "hll_agg" -> hll(HllMode.Agg),
    // accepts strings too: the identity/string→binary cast resolves in
    // the analyzer (AbstractDataType is sql-private, so no
    // ImplicitCastInputTypes here)
    "md5prefix60" -> (exprs => graft.functions.Md5Prefix60(
      org.apache.spark.sql.catalyst.expressions.Cast(
        exprs(0), org.apache.spark.sql.types.BinaryType))),
    "hll_regs" -> hll(HllMode.Regs),
    "hll_union" -> hll(HllMode.Union),
    // ac_count(t, array('p1', …)): dictionary must be a foldable literal
    "ac_count" -> (exprs => graft.functions.AcCount(exprs(0),
      strsLit("ac_count", "patterns")(exprs(1)))),
    // hist_agg(v, lo, hi, nbins): bounds/bins must be integer literals
    "hist_agg" -> (exprs =>
      graft.functions.HistAgg(exprs(0),
        longLit("hist_agg", "lo")(exprs(1)),
        longLit("hist_agg", "hi")(exprs(2)),
        intLit("hist_agg", "nbins")(exprs(3))).toAggregateExpression()),
    "gram3_agg" -> (exprs =>
      graft.functions.Gram3Agg(exprs(0)).toAggregateExpression())
  )

  /** Registers, as temp functions, every [[sqlBuilders]] name the
    * session does not already resolve to graft's own builder (from an
    * earlier call or from [[GraftExtensions]]). The check is by builder
    * identity, not by name: Spark ships a built-in `hll_union` that the
    * graft one must replace. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      if (!reg.lookupFunctionBuilder(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)).exists(_ eq builder))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
