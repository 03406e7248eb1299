package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Functions, Tables}
import graft.model.EnvelopeSchema.{envelopeStruct, logMessageStruct}

/** Batch-relational embodiment of the reference pipeline's operators
  * (SURVEY.md §2.1/§2.3), over the driver's `events` table — the
  * firehose surrogate. Event types in the testdata are
  * {click, error, purchase, signup, view}; the routing table below
  * mirrors the reference's topic config semantics
  * (kafka.go:305-340 route switch, kafka.go:183-188 templating,
  * config.go:70-80 topic table):
  *
  *   click    -> fixed topic "click-topic"
  *   view     -> fixed topic "view-topic"
  *   signup   -> fixed topic "signup-topic"
  *   purchase -> templated "purchase-%s" on user_id  (LogMessageFmt analogue)
  *   error    -> no topic configured => DROP ("Ignored", kafka.go:311-315)
  *
  * Every query is deterministic: total ORDER BY on a unique key, and
  * double aggregates computed exactly via DECIMAL then cast back to
  * DOUBLE so the DuckDB oracle hash-matches bit-for-bit.
  */
object EventQueries {

  /** Exact double aggregation: cast to DECIMAL(28,10) (exact, order-
    * independent sum, scale comfortably beyond the data's 2-decimal
    * precision so near-midpoint rounding can never diverge from the
    * oracle), then back to DOUBLE for a stable output type. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 10)))

  /** Epoch-second bucket from the raw nanosecond long. Integer `div`
    * keeps the math exact — long/long `/` promotes to DOUBLE, whose
    * 53-bit mantissa rounds ~1.7e18 ns values to ~256 ns granularity
    * and can misplace events within ~128 ns of a second boundary. */
  private def secondBucket: Column = expr("ts_ns div 1000000000")

  private def nullOf(t: org.apache.spark.sql.types.DataType): Column =
    lit(null).cast(t)

  /** The canonical LogMessage-envelope JSON for an events row — the
    * flagship serialize step (O8) used by entry() and q14. */
  def logMessageJson(tsNs: Column = col("ts_ns")): Column = {
    val lm = logMessageStruct(col("props").cast(BinaryType), tsNs,
      concat(lit("app-"), col("user_id")))
    Functions.envelope_json(envelopeStruct(
      concat(lit("ev-"), col("event_type")), lit(5), tsNs, lm = lm))
  }

  private val routedTypes = Seq("click", "view", "signup", "purchase")

  /** The q227/q233 label-propagation kernel: (doubled edge list,
    * 2-round LPA labels) over the user–day bipartite graph (q97's
    * graph). Mode over neighbor labels PLUS the node's own label
    * (the self-inclusion variant — neighbor-only LPA on a bipartite
    * graph just swaps side labels every round and never forms a
    * community), (count DESC, label) argmax — deterministic under
    * any partitioning; Barrier per round. */
  private def lpaLabels(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val dpairs = Tables.events(s, d)
      .select(col("user_id").as("u"),
        (expr("(ts_ns div 1000) div 86400000000") + 2000000L).as("v"))
      .distinct()
    val edges = graft.ops.Barrier(
      dpairs.select(col("u").as("a"), col("v").as("b"))
        .union(dpairs.select(col("v").as("a"), col("u").as("b"))))
    var lab = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (_ <- 1 to 2) {
      val w = Window.partitionBy("a").orderBy(desc("cnt"), col("lab"))
      val votes = edges.join(lab.withColumnRenamed("node", "b"), Seq("b"))
        .select(col("a"), col("lab"))
        .union(lab.select(col("node").as("a"), col("lab")))
      lab = graft.ops.Barrier(
        votes.groupBy("a", "lab").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("a").as("node"), col("lab")))
    }
    (edges, lab)
  }

  /** O5/O6: the 5-way route switch as a single `when` chain. */
  def topicExpr(eventType: Column, userId: Column): Column =
    when(eventType === "click", lit("click-topic"))
      .when(eventType === "view", lit("view-topic"))
      .when(eventType === "signup", lit("signup-topic"))
      .when(eventType === "purchase",
        // fmtTopic, kafka.go:183-188. NULL-guarded: format_string on a
        // NULL arg prints the literal "null". Deliberate divergence in
        // this BATCH analogue only: the reference Sprintf's a Go
        // zero-value "" (streaming fmtTopic mirrors that), but this
        // analogue's template arg is a BIGINT with no zero-value
        // string form, so the declared oracle contract pins
        // NULL => drop on both engines (no NULL user_ids exist in the
        // testdata; the branch is a guard, not a behavior).
        when(userId.isNull, lit(null).cast(StringType))
          .otherwise(format_string("purchase-%d", userId)))
      .otherwise(lit(null).cast(StringType))

  // ---------------------------------------------------------------------
  // queries: name -> (spark, sfDir) => DataFrame
  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1/O2 — source scan + projection (column pruning reaches parquet).
    "q01_scan" -> ((s, d) => {
      Tables.events(s, d)
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id").limit(100)
    }),

    // O5 — type-based router (disjoint multi-way filter + projection).
    "q02_route" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.select(col("event_id"),
          topicExpr(col("event_type"), col("user_id")).as("topic"))
        .filter(col("topic").isNotNull)
        .orderBy("event_id").limit(1000)
    }),

    // O5 — drop rule accounting, kafka.go:305-340: Unknown counts
    // unrecognized types at the switch default, and Ignored counts
    // EVERY empty-topic drop afterwards — unknowns land in both
    // (kafka_test.go:290 asserts Ignored==1 && ConsumeUnknown==1).
    "q03_drop" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.agg(
        count(when(!col("event_type").isin(routedTypes: _*), 1)).as("ignored"),
        count(when(!col("event_type").isin(("error" +: routedTypes): _*), 1))
          .as("unknown"))
    }),

    // O4 — slow-consumer detector: 3-way conjunctive predicate
    // (detector.go:116-124 analogue).
    "q04_detect" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type") === "error"
          && col("value") < 10.0
          // Anchored so "k": 60..69 / "k": 6.5 don't match — the
          // detector analogue means k == 6 exactly.
          && (col("props").like("""%"k": 6,%""")
            || col("props").like("""%"k": 6}%""")))
        .agg(count(lit(1)).as("alerts"))
    }),

    // O6 — topic-name templating as a scalar string function.
    "q05_template" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          when(col("user_id").isNull, lit(null).cast(StringType))
            .otherwise(format_string("purchase-%d", col("user_id")))
            .as("topic"))
        .orderBy("event_id").limit(100)
    }),

    // O12 — per-event-type consume counters (stats.go:125-138).
    "q06_type_counts" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // O12 — global counters: consume / forwarded / ignored
    // (stats.go:40-74); ignored = every non-forwarded row, unknown
    // types included (kafka.go:333-336).
    "q07_counters" -> ((s, d) => {
      Tables.events(s, d).agg(
        count(lit(1)).as("consume"),
        count(when(col("event_type").isin(routedTypes: _*), 1)).as("forwarded"),
        count(when(!col("event_type").isin(routedTypes: _*), 1)).as("ignored"))
    }),

    // O13 — 1s tumbling-window counts (stats.go:98-111 rate base).
    // Output epoch-seconds as BIGINT to sidestep ns/us timestamp
    // precision mismatches between engines.
    "q08_persec" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(secondBucket.as("w_s"))
        .agg(count(lit(1)).as("per_sec"))
        .orderBy("w_s").limit(500)
    }),

    // O14 — derived lag metric: Delay = Forwarded - (Publish + PublishFail)
    // (stats.go:93-96).
    "q09_delay" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type") === "click")
        .agg(
          count(lit(1)).as("f"),
          count(when(col("value") >= 20.0, 1)).as("p"),
          count(when(col("value") < 20.0, 1)).as("pf"))
        .select((col("f") - (col("p") + col("pf"))).as("delay"))
    }),

    // O8 — omit-if-absent projection semantics (easyjson field omission).
    "q10_omission" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          when(col("props").isNull || col("props") === "", lit(null).cast(StringType))
            .otherwise(col("props")).as("props"))
        .orderBy("event_id").limit(100)
    }),

    // O7 — uuid2str as a native codegen expression (kafka.go:214-219):
    // synthesize 128-bit ids from (user_id=low, event_id=high) per
    // SURVEY §2.3 Q11; oracle composes the identical little-endian
    // hex/lpad string in SQL.
    "q11_uuid" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("event_id"),
          graft.Functions.uuid_str(col("user_id"), col("event_id")).as("uuid"))
        .orderBy("event_id").limit(100)
    }),

    // O8 — the canonical byte-exact JSON encoder over ALL SIX payload
    // shapes per row: LogMessage (base64 message, snake_case,
    // omit-if-absent), ValueMetric (Go float formatting), CounterEvent
    // (unsigned 64-bit), HttpStartStop (UUID {low,high} structs, the
    // 44-value method enum, forwarded array — kafka_test.go:560-575),
    // Error (easyjson string escaping of the props payload),
    // ContainerMetric (unsigned u64 quotas incl. the -1 →
    // 18446744073709551615 wrap). Oracle reconstructs identical
    // strings in SQL.
    "q14_encode" -> ((s, d) => {
      val vm = struct(
        col("event_type").as("name"),
        col("value").as("value"),
        lit("ms").as("unit"))
      val ce = struct(
        col("event_type").as("name"),
        col("user_id").as("delta"),
        col("event_id").as("total"))
      val origin = concat(lit("ev-"), col("event_type"))
      // µs-truncated ns: DuckDB reads parquet TIMESTAMP(NANOS) at µs
      // resolution, so the oracle can only reconstruct µs*1000.
      val tsq = expr("(ts_ns div 1000) * 1000")
      val hss = struct(
        tsq.as("startTimestamp"),
        (tsq + 1000000L).as("stopTimestamp"),
        struct(col("user_id").as("low"), col("event_id").as("high")).as("requestId"),
        (pmod(col("event_id"), lit(2)) + 1).cast(IntegerType).as("peerType"),
        (pmod(col("event_id"), lit(44)) + 1).cast(IntegerType).as("method"),
        concat(lit("http://"), col("event_type"), lit("/"), col("event_id")).as("uri"),
        nullOf(StringType).as("remoteAddress"),
        nullOf(StringType).as("userAgent"),
        (pmod(col("event_id"), lit(4)) * 100 + 200).cast(IntegerType).as("statusCode"),
        col("user_id").as("contentLength"),
        struct(col("event_id").as("low"), (col("event_id") * 31).as("high")).as("applicationId"),
        pmod(col("event_id"), lit(4)).cast(IntegerType).as("instanceIndex"),
        nullOf(StringType).as("instanceId"),
        array(concat(lit("10.0.0."), pmod(col("event_id"), lit(256))),
          concat(lit("192.168.0."), pmod(col("event_id"), lit(100)))).as("forwarded"))
      val er = struct(
        col("event_type").as("source"),
        pmod(col("event_id"), lit(100)).cast(IntegerType).as("code"),
        col("props").as("message"))
      val cm = struct(
        concat(lit("cm-"), col("event_type")).as("applicationId"),
        pmod(col("event_id"), lit(8)).cast(IntegerType).as("instanceIndex"),
        col("value").as("cpuPercentage"),
        (col("event_id") * 1024).as("memoryBytes"),
        col("event_id").as("diskBytes"),
        lit(-1L).as("memoryBytesQuota"), // u64 max, printed unsigned
        lit(2147483648L).as("diskBytesQuota"))
      // Top-k FIRST, encode the survivors: the sort key needs no
      // computed column, so a distributed TakeOrderedAndProject picks
      // the 100 rows and the six encoders run 100 times, not 6×|table|
      // (Catalyst keeps projections below an orderBy, so inlining the
      // encodes would evaluate them corpus-wide). Full-table encoder
      // throughput stays measured by q39's all-rows round-trip.
      Tables.events(s, d)
        .filter(col("event_type").isNotNull)
        .orderBy("event_id").limit(100)
        .select(col("event_id"),
          logMessageJson(tsq).as("lm_json"),
          Functions.envelope_json(
            envelopeStruct(origin, lit(6), tsq, vm = vm)).as("vm_json"),
          Functions.envelope_json(
            envelopeStruct(origin, lit(7), tsq, ce = ce)).as("ce_json"),
          Functions.envelope_json(
            envelopeStruct(origin, lit(4), tsq, hss = hss)).as("hss_json"),
          Functions.envelope_json(
            envelopeStruct(origin, lit(8), tsq, er = er)).as("err_json"),
          Functions.envelope_json(
            envelopeStruct(origin, lit(9), tsq, cm = cm)).as("cm_json"))
        .orderBy("event_id")
    }),

    // O13 variant — per-second rate as the delta vs the previous second
    // (Q12 of SURVEY §2.3; stats.go:98-111 computes exactly this 1s
    // delta). Implemented as an equi-self-join on w_s-1 over the
    // *aggregated* series instead of an unpartitioned window: a global
    // Window.orderBy funnels the whole series through ONE task (a year
    // of seconds = ~31M rows single-threaded at scale), while the join
    // shuffles on w_s and stays fully parallel; no second in the prior
    // bucket => rate NULL.
    "q12_rate" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(secondBucket.as("w_s"))
        .agg(count(lit(1)).as("n"))
      val prev = per.select((col("w_s") + 1).as("w_s"), col("n").as("n_prev"))
      per.join(prev, Seq("w_s"), "left")
        .select(col("w_s"), col("n"), (col("n") - col("n_prev")).as("rate"))
        .orderBy("w_s").limit(500)
    }),

    // Gap-based sessionization — the classic clickstream reshape
    // (and the batch mirror of streaming session windows): a user's
    // events belong to one session until a silence longer than the
    // gap threshold (6h here; the testdata's median per-user gap is
    // ~7.3h, so sessions genuinely split AND merge). session_id =
    // running count of gap breaks per user, all exact nanosecond
    // integers. Scale shape: the window partitions by user_id —
    // millions of bounded partitions, never a global funnel — and
    // the session aggregate reuses the same (user) exchange. Tied
    // timestamps can't flip results: a zero gap is never a break, so
    // tie order affects neither session ids nor the aggregates.
    "q88_sessions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val gapNs = 6L * 3600L * 1000000000L
      val w = Window.partitionBy("user_id").orderBy("ts_ns")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        // micro-truncated like q39/q14: DuckDB reads the parquet
        // TIMESTAMP(NANOS) at microsecond precision
        .select(col("user_id"), expr("(ts_ns div 1000) * 1000").as("ts_ns"))
        .withColumn("brk",
          when(lag(col("ts_ns"), 1).over(w).isNull
            || col("ts_ns") - lag(col("ts_ns"), 1).over(w) > gapNs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(run))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_ns")).as("start_ns"),
          max(col("ts_ns")).as("end_ns"))
        .withColumn("dur_ns", col("end_ns") - col("start_ns"))
        .orderBy("user_id", "session_id")
    }),

    // Ordered-step funnel — the conversion query every event store
    // ships: of all users, how many ever VIEWed; of those, how many
    // CLICKed strictly after their first view; of those, how many
    // PURCHASEd strictly after that click. t2 depends on t1 (and t3
    // on t2), so the steps are three stacked whole-partition window
    // minima — all keyed on user_id, so the three Window operators
    // AND the per-user collapse share ONE hash exchange (PlanAudit
    // pin). Strictly-after uses exact (micro-truncated) integer
    // nanoseconds: both engines compare identical values, so tie
    // behavior is identical by construction. Scale: millions of
    // small user partitions; the final count is a 1-row aggregate.
    "q90_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("(ts_ns div 1000) * 1000").as("ts_ns"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts_ns"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts_ns") > col("t1"),
            col("ts_ns"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts_ns") > col("t2"),
            col("ts_ns"))).over(w))
        .groupBy("user_id")
        .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
          max(col("t3")).as("t3"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t1")).as("n_view"),
          count(col("t2")).as("n_click_after"),
          count(col("t3")).as("n_purchase_after"))
    }),

    // Retention cohorts — the other canonical event-store reshape:
    // users grouped by first-active day, counted on each later active
    // day. Two exchanges, both narrow: (1) groupBy(user) with
    // map-side-combined min + collect_set — the per-user day set is
    // bounded by CALENDAR DAYS, not events, so state stays tiny at
    // any corpus size; (2) the (cohort, offset) count, whose key
    // space is days². Because (user, day) is distinct after pass 1,
    // count(*) IS distinct users — no countDistinct expansion.
    "q91_retention" -> ((s, d) => {
      val usDay = 86400000000L // microseconds per day
      Tables.events(s, d)
        .select(col("user_id"), expr(s"(ts_ns div 1000) div $usDay").as("day"))
        .groupBy("user_id")
        .agg(min(col("day")).as("cohort"), collect_set(col("day")).as("days"))
        .select(col("cohort"), explode(col("days")).as("day"))
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_off"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "day_off")
    }),

    // Co-occurrence mining — the market-basket view of user behavior
    // (A-priori's support-counting pass): which event-type PAIRS
    // appear together in a user's history, with support as an exact
    // user-count and ppm share. q138 measures temporal co-movement of
    // volumes; this measures set co-occurrence within a user. Scale
    // shape: the per-user distinct (user, type) table is the only
    // corpus-sized work (two-level partial agg); pair generation is a
    // per-user self-join bounded by the TYPE DICTIONARY (≤ |T|²/2
    // pairs per user, |T| small by construction), and the support
    // rollup is types²-sized with map-side combine; the user total
    // broadcasts as one row.
    "q141_cooccur" -> ((s, d) => {
      val ut = graft.ops.Barrier(Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct())
      val nu = ut.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("nu"))
      val pairs = ut.toDF("user_id", "x").join(ut.toDF("user_id", "y"), "user_id")
        .filter(col("x") < col("y"))
      pairs.groupBy("x", "y").agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(nu))
        .filter(col("support") * 20 >= col("nu")) // ≥5% support floor
        .select(col("x"), col("y"), col("support"),
          expr("(support * 1000000) div nu").as("support_ppm"))
        .orderBy("x", "y")
    }),

    // Daily co-movement — covariance between event types' daily
    // volumes in EXACT integer form: cov·m² ∝ m·Σxy − Σx·Σy over the
    // gap-filled day grid (zeros matter: a day one type is silent IS
    // negative co-movement), the q98 cross-multiplication discipline
    // so no float variance enters the gate. Pairs come from a
    // types-sized self-join on day — the only corpus-sized work is
    // the one daily rollup feeding it (Barrier). At 100 TB daily
    // counts the products graduate to DECIMAL(38,0) (q98's note);
    // test-SF magnitudes sit far inside Long.
    "q138_comovement" -> ((s, d) => {
      val daily = graft.ops.Barrier(Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n")))
      val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val types = daily.select(col("event_type")).distinct()
      val grid = types.crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("day"))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      val a = grid.toDF("type_x", "day", "nx")
      val b = grid.toDF("type_y", "day", "ny")
      a.join(b, Seq("day")).filter(col("type_x") < col("type_y"))
        .groupBy("type_x", "type_y")
        .agg(count(lit(1)).as("m"), sum(col("nx")).as("sx"),
          sum(col("ny")).as("sy"), sum(col("nx") * col("ny")).as("sxy"))
        .select(col("type_x"), col("type_y"), col("m"),
          (col("m") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
          (col("m") * col("sxy") > col("sx") * col("sy")).as("is_pos"))
        .orderBy("type_x", "type_y")
    }),

    // Cumulative reach — "unique users to date" per day WITHOUT a
    // running distinct (which would hold every user id in window
    // state): a user contributes to reach exactly once, at their
    // FIRST day, so reach(d) = running sum of first-seen counts — a
    // per-user min aggregate, a days-sized rollup, and a window over
    // the days axis (bounded by the calendar, not the corpus). The
    // standard distributed form of the DAU/MAU reach curve.
    "q139_reach" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val firstDay = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(expr("(ts_ns div 1000) div 86400000000")).as("day"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
        .withColumn("reach", sum(col("n_new")).over(w))
        .orderBy("day")
    }),

    // Interpolated percentiles — the CONTINUOUS quantile surface next
    // to q56's discrete rank-select: percentile() sorts each group
    // and linearly interpolates (type-7, index p·(n−1)), the form
    // dashboards and SLO reports expect. Parity is engineered the
    // usual way: both engines compute lower + (upper−lower)·frac over
    // the same doubles, so the result hash-matches. Exact percentile
    // holds the whole group sorted — the scale path for corpus-sized
    // groups is the q92 mergeable histogram sketch; this surface is
    // for group counts that fit a task (types × values here).
    "q137_quantile_cont" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(value, 0.5d)").as("med"),
          expr("percentile(value, 0.9d)").as("p90"))
        .orderBy("event_type")
    }),

    // Calendar-spine gap fill — the resampling step every time-series
    // report needs before rates/averages are comparable: a (type ×
    // day) grid generated from the observed bounds, left-joined to
    // the daily rollup so absent days read 0 instead of vanishing
    // (a day with no 'error' events IS a datum). Scale shape: the
    // daily rollup is the only corpus-sized work (partial-agg'd);
    // the spine is |types|·|days| rows built from a broadcast 1-row
    // bounds frame and a types-sized distinct — grid construction
    // never touches the event stream again.
    "q136_gapfill" -> ((s, d) => {
      val daily = graft.ops.Barrier(Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n")))
      val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val types = daily.select(col("event_type")).distinct()
      val spine = types.crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("day"))
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "day")
    }),

    // Volume anomaly detection — the monitoring gate the reference's
    // slow-consumer detector (O4) generalizes to: flag days whose
    // event count deviates more than 2σ from the mean. The z-score
    // test runs EXACTLY: (x − μ)² > k²σ² cross-multiplies to
    // (m·x − S1)² > k²·(m·S2 − S1²) — pure integer algebra, no float
    // σ. Operands are cast to DECIMAL(38,0) BEFORE multiplying (the
    // squares overflow Long at 100 TB daily volumes: (365·1e12)² ≈
    // 1e29; DECIMAL(38,0) and the oracle's HUGEINT both hold it).
    // Stats are a days-sized aggregate broadcast as one row; the flag
    // is map-only over the daily rollup.
    "q98_anomaly" -> ((s, d) => {
      def daily = Tables.events(s, d)
        .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = Tables.events(s, d)
        .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("m"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
      daily.crossJoin(broadcast(stats))
        .withColumn("dev", expr(
          "cast(m as decimal(38,0)) * cast(n as decimal(38,0)) " +
            "- cast(s1 as decimal(38,0))"))
        .withColumn("var_m2", expr(
          "cast(m as decimal(38,0)) * cast(s2 as decimal(38,0)) " +
            "- cast(s1 as decimal(38,0)) * cast(s1 as decimal(38,0))"))
        .select(col("day"), col("n").as("n_events"),
          (col("dev") * col("dev") > lit(4) * col("var_m2")).as("is_anom"))
        .orderBy("day")
    }),

    // CUSUM changepoint detection — the SUSTAINED-shift companion to
    // q98's pointwise z-test (a 20% drift that never leaves the 2σ
    // band is invisible to q98 but accumulates here): per event type,
    // S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k)) flags upward mean
    // shifts, S⁻ the mirrored drops, slack k = μ/2, decision bar
    // h = 2μ. The recursion has the classic closed form S_t = P_t −
    // min(0, min_{j≤t} P_j) over prefix sums P of the deviations —
    // so the sequential-looking detector is TWO stacked windows
    // (cumsum, then running min) over the per-type daily rollup, all
    // partitioned by event_type (days-bounded state, any corpus
    // size). Exact integers throughout: deviations scale by 2m
    // (d̃⁺ = 2mn − 3T, d̃⁻ = T − 2mn, bar = 4T) in Decimal(38,0) —
    // the m-day prefix of 2mn terms overflows Long for decade-long
    // 100 TB streams. One corpus-sized partial-agg'd rollup; the
    // (m, T) stats table broadcasts.
    "q250_cusum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("m"), sum(col("n")).as("tot"))
      val wCum = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val zero = lit(0).cast(DecimalType(38, 0))
      daily.join(broadcast(stats), Seq("event_type"))
        .withColumn("dup", expr("""cast(2 as decimal(38,0)) * m * n
                                   - cast(3 as decimal(38,0)) * tot"""))
        .withColumn("ddn", expr("""cast(1 as decimal(38,0)) * tot
                                   - cast(2 as decimal(38,0)) * m * n"""))
        .withColumn("pup", sum(col("dup")).over(wCum))
        .withColumn("pdn", sum(col("ddn")).over(wCum))
        .withColumn("cup", col("pup") - least(min(col("pup")).over(wCum), zero))
        .withColumn("cdn", col("pdn") - least(min(col("pdn")).over(wCum), zero))
        .select(col("event_type"), col("day"), col("n").as("n_events"),
          col("cup").cast(LongType).as("cusum_up_x2m"),
          col("cdn").cast(LongType).as("cusum_dn_x2m"),
          (col("cup") > expr("cast(4 as decimal(38,0)) * tot")).as("shift_up"),
          (col("cdn") > expr("cast(4 as decimal(38,0)) * tot")).as("shift_dn"))
        .orderBy("event_type", "day")
    }),

    // Per-type volume trend — the SLOPE companion to q250's CUSUM
    // (CUSUM says "a shift happened"; the OLS slope says how fast
    // volume is drifting, the capacity-planning number): least-squares
    // over (day-rank, daily count) in EXACT integers — slope =
    // (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²) as Decimal(38,0) cross-
    // products (m·Σxy overflows Long for multi-year 1e12/day streams),
    // reported ×10⁶ with explicit sign handling (negative dividends
    // truncate vs floor differently across engines). Day RANKS (0..m−1
    // per type, a type-partitioned days-bounded window) rather than
    // raw epoch days keep the sums small and make the slope invariant
    // to the epoch origin. One partial-agg'd daily rollup; everything
    // after is types-sized.
    "q255_trend" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("x", (row_number().over(wOrd) - 1).cast(LongType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .filter(col("m") >= 2)
        .select(col("event_type"), col("m").as("n_days"),
          expr("""cast(case when cast(m as decimal(38,0)) * sxy
                              - cast(sx as decimal(38,0)) * sy < 0
                       then -1 else 1 end
                  * ((abs(cast(m as decimal(38,0)) * sxy
                          - cast(sx as decimal(38,0)) * sy) * 1000000)
                     div (cast(m as decimal(38,0)) * sxx
                          - cast(sx as decimal(38,0)) * sx)) as bigint)""")
            .as("slope_ppm"))
        .orderBy("event_type")
    }),

    // Survival life table — churn analytics done right: naive "avg
    // days active" is biased because users still active at the
    // observation edge haven't finished their lifetimes; the life
    // table separates churn EVENTS (last activity > 7 days before the
    // corpus edge) from CENSORED users and reports the at-risk count
    // and exact hazard d_t/n_t per lifetime day — the Kaplan-Meier
    // input (S(t) itself is a trivial client-side fold over these
    // rows; keeping the table exact-integer beats shipping a
    // float-product column). Shape: one partial-agg'd per-user
    // (first, last) rollup, the 1-row corpus edge broadcasts, the
    // at-risk count is total − cum(lifetimes < t) over the lifetime-
    // days-bounded rollup — no corpus-sized window anywhere.
    "q258_lifetable" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val users = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(expr("(ts_ns div 1000) div 86400000000")).as("d0"),
          max(expr("(ts_ns div 1000) div 86400000000")).as("d1"))
      val edge = users.agg(max(col("d1")).as("mm"))
      val lt = users.crossJoin(broadcast(edge))
        .select((col("d1") - col("d0")).as("t"),
          (col("d1") < col("mm") - 7).as("churned"))
        .groupBy("t")
        .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d_churn"),
          sum(when(!col("churned"), 1L).otherwise(0L)).as("c_censored"))
      val wAll = Window.partitionBy(lit(1))
      val wBefore = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
      lt
        .withColumn("total", sum(col("d_churn") + col("c_censored")).over(wAll))
        .withColumn("before",
          coalesce(sum(col("d_churn") + col("c_censored")).over(wBefore), lit(0L)))
        .select(col("t").as("t_days"),
          (col("total") - col("before")).as("n_risk"),
          col("d_churn"), col("c_censored"),
          expr("cast((d_churn * 1000000) div (total - before) as bigint)")
            .as("hazard_ppm"))
        .orderBy("t_days")
    }),

    // PageRank centrality — iterative graph compute beyond connected
    // components (q51), over the user–day bipartite activity graph
    // (the user-item shape recsys curation ranks): node = user or
    // day (+2e6 offset), edge = "user active that day". EXACT
    // INTEGER iteration in the KMeans/Bpe discipline: ranks are ppm
    // longs, contribution = r div deg (integer floor), update =
    // 150000 + (850·Σ) div 1000 — sums of longs are commutative, so
    // the fixpoint is bit-identical under any partitioning and the
    // oracle replays all 3 rounds as unrolled CTEs. Scale shape:
    // shuffles carry only (long, long) pairs; each round is one
    // join + one partial-agg'd sum keyed on node id; Barrier
    // truncates lineage per round (the q51 pattern). Isolated nodes
    // never arise (every node in the graph has degree ≥ 1).
    "q97_pagerank" -> ((s, d) => {
      val dpairs = Tables.events(s, d)
        .select(col("user_id").as("u"),
          (expr("(ts_ns div 1000) div 86400000000") + 2000000L).as("v"))
        .distinct()
      val edges = graft.ops.Barrier(
        dpairs.select(col("u").as("a"), col("v").as("b"))
          .union(dpairs.select(col("v").as("a"), col("u").as("b"))))
      val deg = graft.ops.Barrier(
        edges.groupBy("a").agg(count(lit(1)).as("dg")))
      var r = deg.select(col("a").as("node"), lit(1000000L).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(r.withColumnRenamed("node", "a"), Seq("a"))
          .join(deg, Seq("a"))
          .select(col("b"), expr("r div dg").as("c"))
          .groupBy("b").agg(sum(col("c")).as("s"))
        r = graft.ops.Barrier(
          deg.select(col("a").as("node"))
            .join(contrib.withColumnRenamed("b", "node"), Seq("node"), "left")
            .select(col("node"),
              (lit(150000L) + expr("(850 * coalesce(s, 0L)) div 1000")).as("r")))
      }
      r.select(col("node"),
          when(col("node") < 2000000L, "user").otherwise("day").as("kind"),
          col("r").as("rank_ppm"))
        .orderBy(desc("rank_ppm"), col("node")).limit(20)
    }),

    // Z-order layout audit — the data-layout operator for 100 TB
    // scans: `zorder2` interleaves (user bucket, day) into a Morton
    // key, and sorting the write by it co-locates rows close in BOTH
    // dimensions, so parquet min/max page stats prune predicates on
    // either column (a lexicographic sort serves only its leading
    // column). The audit groups by 8×8 z-tile (zkey div 64 — the low
    // 6 bits encode x%8, y%8) and emits each tile's bounding box:
    // every box is provably ≤ 8×8, the locality the layout buys.
    // Map-only key computation (native codegen expression), one
    // tile-keyed aggregate exchange.
    "q93_zorder" -> ((s, d) => {
      Tables.events(s, d)
        .select(expr("pmod(user_id, 1024)").as("x"),
          expr("((ts_ns div 1000) div 86400000000) % 1024").as("y"))
        .withColumn("zkey", graft.Functions.zorder2(col("x"), col("y")))
        .groupBy(expr("zkey div 64").as("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy("tile")
    }),

    // Semi-structured extraction — the JSON-path surface over the
    // props payload column (`get_json_object`, Jackson-backed and
    // codegen-friendly): extract a typed field from per-event JSON
    // and aggregate it. Map-side extraction + partial aggregation:
    // the shuffle carries (event_type, 4 longs), never the JSON. At
    // 100 TB repeated multi-field extraction graduates to one
    // `from_json` with an explicit schema (single parse per row).
    "q68_json" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("props").isNotNull && col("props") =!= "")
        // Validity gate mirrored in the oracle's `json_valid(props)
        // AND trim(props) <> 'null'`: get_json_object(x, '$') is NULL
        // both for malformed JSON AND for the well-formed root `null`
        // document, while DuckDB's json_valid('null') is true — the
        // oracle excludes root-null explicitly so both engines drop
        // the same rows by construction (DuckDB's json_extract would
        // otherwise RAISE where Spark silently NULLs).
        .filter(get_json_object(col("props"), "$").isNotNull)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // O12+O14 — grouped double aggregates, exact via DECIMAL.
    "q13_agg" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          dsum(col("value")).cast(DoubleType).as("sv"),
          count(lit(1)).as("n"))
        // No round() on doubles: Spark rounds the shortest-decimal repr
        // (BigDecimal HALF_UP) while DuckDB rounds the binary value —
        // they disagree near midpoints. sv is exact (decimal sum), and
        // sv/n is a single IEEE op, bit-identical in both engines.
        .select(col("event_type"), col("sv"),
          (col("sv") / col("n")).as("av"), col("n"))
        .orderBy("event_type")
    }),

    // O2+O8 round-trip — the codec contract as a hard oracle signal:
    // encode→decode→re-encode must be byte-identical for every row,
    // and a corrupted payload must decode to NULL (DROPMALFORMED,
    // async.go:274-280). Runs through the SQL-registered function
    // names, proving every custom function is SQL-reachable.
    "q39_codec" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type").isNotNull)
        .select(logMessageJson(expr("(ts_ns div 1000) * 1000")).as("j"),
          // unbalanced brace -> malformed JSON (props "{\"k\": n}")
          concat(lit("{\"origin\": "), col("props")).as("bad"))
        .selectExpr(
          "CAST(envelope_json(envelope_decode(j)) = j AS INT) AS rt",
          "CAST(envelope_decode(bad) IS NULL AS INT) AS mal")
        .agg(sum("rt").as("n_roundtrip"), sum("mal").as("n_malformed_null"))
    }),

    // Markov transition matrix — P(next event type | current) from
    // per-user event sequences: the behavioral model that powers
    // next-action prediction and journey analysis. The lag window is
    // partitioned by user_id (per-user state, never a global sort);
    // the transition rollup and the from-type totals are both
    // |types|²-bounded with map-side combine, and probabilities stay
    // exact as ppm integer division. Ties in ts break on event_id so
    // the sequence — and the oracle's — is total-ordered.
    "q142_markov" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val t = graft.ops.Barrier(Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("nxt"))
        .agg(count(lit(1)).as("n")))
      val totals = t.groupBy("prev").agg(sum(col("n")).as("n_from"))
      t.join(broadcast(totals), Seq("prev"))
        .select(col("prev"), col("nxt"), col("n"),
          expr("(n * 1000000) div n_from").as("p_ppm"))
        .orderBy("prev", "nxt")
    }),

    // Last-touch attribution — for every purchase, credit the user's
    // most recent NON-purchase event strictly before it (the standard
    // marketing-attribution join). One ignore-nulls last() window per
    // user replaces the per-purchase as-of join: state is a single
    // string per user, the shuffle is the per-user repartition the
    // sequence analysis already needs, and purchases with no prior
    // touch fall out as the explicit 'none' bucket instead of
    // silently dropping. Revenue stays exact (decimal sum, q13's
    // discipline).
    "q143_attrib" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("lt",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("lt"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("purchases"),
          dsum(col("value")).cast(DoubleType).as("revenue"))
        .orderBy("touch")
    }),

    // Robust outlier days — q98's z-score gate falls to a single
    // heavy day inflating σ; the median/MAD form doesn't. Everything
    // stays integer by carrying medians at fixed scale: med2 = 2×
    // median (odd group → doubled middle value, even → sum of the
    // two central ranks), dev2 = |2n − med2|, mad4 = 2× median of
    // dev2 — so the Hampel test |n−med| > 3·MAD is the integer
    // predicate 2·dev2 > 3·mad4, no float ever enters the gate.
    // Scale shape: the daily rollup is the only corpus-sized work;
    // the rank windows partition by event_type over calendar-bounded
    // groups, and both median aggregates are |types|-sized.
    "q144_mad" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = graft.ops.Barrier(Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n")))
      def med2(df: DataFrame, v: String, out: String): DataFrame = {
        val w = Window.partitionBy("event_type").orderBy(col(v), col("day"))
        df.withColumn("r", row_number().over(w))
          .withColumn("m", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(sum(when(col("r") * 2 === col("m") + 1, col(v) * 2)
            .when(col("r") * 2 === col("m"), col(v))
            .when(col("r") * 2 === col("m") + 2, col(v))
            .otherwise(lit(0L))).as(out))
      }
      val m = med2(daily, "n", "med2")
      val dev = daily.join(broadcast(m), Seq("event_type"))
        .withColumn("dev2", abs(col("n") * 2 - col("med2")))
      val mad = med2(dev, "dev2", "mad4")
      dev.join(broadcast(mad), Seq("event_type"))
        .filter(col("dev2") * 2 > col("mad4") * 3)
        .select(col("event_type"), col("day"), col("n"), col("dev2"))
        .orderBy("event_type", "day")
    }),

    // Diurnal-pattern gate — does an event type have a time-of-day
    // rhythm, or is it flat? Pearson chi-square against the uniform
    // 24-bin expectation, EXACTLY: X = Σ_h (24·n_h − N)² never forms
    // N/24, and the χ²>41.6 (df=23, p=.01) gate cross-multiplies to
    // X > 42·24·N — all integer, DECIMAL(38,0) products since X ~ N²
    // at 100 TB. The hour grid is gap-filled (a silent hour IS
    // signal, q136's rule); the only corpus-sized work is the
    // (type, hour) rollup, partial-agg'd; the 24-row spine and the
    // χ² fold are |types|-sized.
    "q152_diurnal" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("((ts_ns div 1000) div 3600000000) % 24").as("h"))
        .agg(count(lit(1)).as("n"))
      val types = hourly.select(col("event_type")).distinct()
      val grid = types
        .select(col("event_type"), explode(sequence(lit(0L), lit(23L))).as("h"))
        .join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"), coalesce(col("n"), lit(0L)).as("n"))
      val dec = DecimalType(38, 0)
      grid.groupBy("event_type")
        .agg(sum(col("n")).as("nt"),
          sum((col("n") * 24).cast(dec) * (col("n") * 24).cast(dec)).as("s24"))
        // Σ(24n_h − N)² = 576·Σn_h² − 24·N² (expand; Σ over 24 bins)
        .select(col("event_type"), col("nt"),
          (col("s24") - lit(24).cast(dec) * col("nt").cast(dec) * col("nt").cast(dec)).as("x"))
        .select(col("event_type"), col("nt").as("n"),
          expr("cast((x * 1000) div (24 * cast(nt as decimal(38,0))) as bigint)")
            .as("chi2_x1000"),
          (col("x") > lit(42 * 24).cast(dec) * col("nt").cast(dec)).as("is_diurnal"))
        .orderBy("event_type")
    }),

    // Behavioral concentration — Simpson's index per user in exact
    // ppm: λ·N² = Σ_t n_t², the "is this account a one-note bot or a
    // mixed human" screen (bot farms sit near 1e6, organic users near
    // 1/|types|). Two nested rollups, both partial-agg'd; the outer
    // is user-sized, the inner (user × type) is dictionary-bounded
    // per user.
    "q153_simpson" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("nt"))
        .groupBy("user_id")
        .agg(sum(col("nt")).as("n"), sum(col("nt") * col("nt")).as("s2"))
        .select(col("user_id"), col("n"),
          expr("(s2 * 1000000) div (n * n)").as("simpson_ppm"))
        .orderBy("user_id")
    }),

    // Journey mining — the top 3-step event paths: two lags over the
    // per-user sequence (same total order as q142), a path rollup
    // with map-side combine, and a 20-row TakeOrdered. The path space
    // is |types|³-bounded so the rollup exchange is tiny; the window
    // is user-partitioned (never a global sort).
    "q154_journeys" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("t1", lag(col("event_type"), 2).over(w))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .filter(col("t1").isNotNull && col("t2").isNotNull)
        .select(concat_ws(">", col("t1"), col("t2"), col("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    }),

    // Trailing 7-day window — the RANGE frame next to q66's ROWS
    // frame: "sum over the last 7 CALENDAR days" is a value-based
    // frame, so missing days shrink the window instead of silently
    // stretching it to 7 observed rows (the ROWS-frame bug every
    // trailing-metric dashboard ships once) — and no gap-fill spine
    // is needed. Window partitions by type over the calendar-bounded
    // daily rollup; the rollup is the only corpus-sized work.
    "q157_trailing7" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("day")
        .rangeBetween(-6, 0)
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("trail7", sum(col("n")).over(w))
        .orderBy("event_type", "day")
    }),

    // Independence test — is WHAT users do independent of WHEN they
    // signed up (cohort week × event type)? Pearson chi-square on the
    // contingency table with exact numerators: per cell,
    // (N·O − R·C)²·1000 div (N·R·C) — the deterministic integer form
    // of Σ(O−E)²/E scaled ×1000 (identical floor both engines; the
    // division happens per cell, so every operand is DECIMAL(38,0)-
    // bounded at 100 TB). The contingency rollup is the only
    // corpus-sized work; margins and the fold are cells-sized.
    "q158_indep" -> ((s, d) => {
      val cohort = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(expr("((ts_ns div 1000) div 86400000000) div 7")).as("wk"))
      val cells = Tables.events(s, d)
        .join(cohort, Seq("user_id"))
        .groupBy("wk", "event_type")
        .agg(count(lit(1)).as("o"))
      val rows_ = cells.groupBy("wk").agg(sum(col("o")).as("r"))
      val cols_ = cells.groupBy("event_type").agg(sum(col("o")).as("c"))
      val tot = cells.agg(sum(col("o")).as("nt"))
      val dec = DecimalType(38, 0)
      cells.join(rows_, Seq("wk")).join(broadcast(cols_), Seq("event_type"))
        .crossJoin(broadcast(tot))
        .select(
          ((col("nt").cast(dec) * col("o").cast(dec)
            - col("r").cast(dec) * col("c").cast(dec))
            * (col("nt").cast(dec) * col("o").cast(dec)
              - col("r").cast(dec) * col("c").cast(dec)) * lit(1000).cast(dec))
            .as("num"),
          (col("nt").cast(dec) * col("r").cast(dec) * col("c").cast(dec)).as("den"))
        .agg(count(lit(1)).as("n_cells"),
          sum(expr("cast(num div den as bigint)")).as("chi2_x1000"))
    }),

    // Argmax surface — max_by/min_by (Spark) ≡ max_by (DuckDB): the
    // peak and trough day per event type in ONE aggregate pass over
    // the daily rollup, no ranking window at all. Ties break
    // deterministically via the composite integer key n·10⁶ − day
    // (highest count, then earliest day; day ≪ 10⁶ — at counts
    // beyond 10¹² the key graduates to DECIMAL, q98's note).
    "q163_argmax" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(
          max_by(col("day"), col("n") * 1000000 - col("day")).as("peak_day"),
          max(col("n")).as("peak_n"),
          min_by(col("day"), col("n") * 1000000 + col("day")).as("trough_day"),
          min(col("n")).as("trough_n"))
        .orderBy("event_type")
    }),

    // Top-k WITH TIES — dense_rank ≤ k keeps every row at the tied
    // boundary value (row_number's arbitrary cut is wrong when the
    // ranking value is coarse); here: all docs carrying each lang's
    // 3 longest lengths. WindowGroupLimit pushes dense_rank limits
    // too, so each map task still emits only the boundary rows.
    "q164_topties" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("n_chars").desc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("r", dense_rank().over(w))
        .filter(col("r") <= 3)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("r").cast(LongType).as("r"))
        .orderBy(col("lang"), col("n_chars").desc, col("doc_id"))
    }),

    // Sequential trigger — "does a view convert to a purchase within
    // 10 minutes": the temporal pattern-match behind every
    // trigger/recommendation eval. EXISTS-within-window as a
    // left-semi range join keyed on user (the q43 range-join family):
    // the shuffle is per-user, the range predicate bounds the probe,
    // and the output is the exact conversion funnel in ppm.
    "q165_trigger" -> ((s, d) => {
      val e = Tables.events(s, d)
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts_ns").as("vts"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("bu"), col("ts_ns").as("bts"))
      val converted = views.join(buys,
          col("user_id") === col("bu")
            && col("bts") > col("vts")
            && col("bts") <= col("vts") + expr("600000000000"),
          "left_semi")
      val n = views.agg(count(lit(1)).as("n_views"))
      converted.agg(count(lit(1)).as("n_converted"))
        .crossJoin(broadcast(n))
        .select(col("n_views"), col("n_converted"),
          expr("(n_converted * 1000000) div n_views").as("cvr_ppm"))
    }),

    // Inter-event cadence — median gap to the user's next event,
    // grouped by the PRECEDING type (which actions stall a session?):
    // per-user lag gaps, then the q144 dual-rank exact median (med2 =
    // 2×median) per type. Ranks come from DistributedRank (q171's
    // discipline), NOT a per-type window — 5 event types would
    // collapse the corpus-sized gap frame onto 5 tasks (this query's
    // own sf1→sf10 ratio read 12.4×/decade in exactly that shape;
    // 32-way balanced rank sorts measured sf10 22.3 → 6.5 s). Ties on
    // gap_us break by event_id for a total order; the median VALUE is
    // tie-order-independent, so the oracle's plain window replay still
    // hash-matches. Group sizes ride a broadcast types-sized rollup
    // instead of a corpus count(*) window.
    "q166_cadence" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      // Barrier: gaps feed the rank pipeline AND the sizes rollup —
      // without it the per-user lead window runs once per consumer
      val gaps = graft.ops.Barrier(Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("nxt_ts", lead(col("ts_ns"), 1).over(w))
        .filter(col("nxt_ts").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("(nxt_ts - ts_ns) div 1000").as("gap_us")))
      val ranked = graft.ops.DistributedRank.rowNumber(
        gaps, "r", Seq("event_type"), Seq(col("gap_us"), col("event_id")))
      val sizes = gaps.groupBy("event_type").agg(count(lit(1)).as("m"))
      ranked
        .join(broadcast(sizes), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("r") * 2 === col("m") + 1, col("gap_us") * 2)
            .when(col("r") * 2 === col("m"), col("gap_us"))
            .when(col("r") * 2 === col("m") + 2, col("gap_us"))
            .otherwise(lit(0L))).as("med2_us"))
        .orderBy("event_type")
    }),

    // Trimmed mean — the robust center the plain mean isn't (one
    // whale order moves it; the 10%-trimmed mean doesn't): drop the
    // top and bottom decile BY RANK (r·10 gates — pure integers, no
    // percentile calc), then q13's exact decimal mean over the kept
    // band. Ranks come from DistributedRank (range-partition +
    // offset), NOT a per-type window: 5 event types would collapse
    // the corpus onto 5 tasks — the sf1 rehearsal measured that
    // shape at 16× cost for 10× data. Group sizes ride a broadcast
    // of the types-sized rollup.
    "q171_trimmed" -> ((s, d) => {
      val ranked = graft.ops.DistributedRank.rowNumber(
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value")),
        "r", Seq("event_type"), Seq(col("value"), col("event_id")))
      val sizes = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("m"))
      ranked
        .join(broadcast(sizes), "event_type")
        .filter(col("r") * 10 > col("m") && col("r") * 10 <= col("m") * 9)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
          dsum(col("value")).cast(DoubleType).as("sv"))
        .select(col("event_type"), col("n_kept"), col("sv"),
          (col("sv") / col("n_kept")).as("trimmed_mean"))
        .orderBy("event_type")
    }),

    // Modal bucket — exact mode of the integer value bucket per type
    // in ONE aggregate pass over the (type, bucket) rollup: argmax by
    // the composite count·2²⁰ − bucket key (q163's tie discipline:
    // highest count, then lowest bucket). No ranking window at all.
    "q172_mode" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("cast(floor(value / 10) as bigint)").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(max_by(col("bucket"), col("n") * 1048576 - col("bucket")).as("mode_bucket"),
          max(col("n")).as("mode_n"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    }),

    // Weekday lift — does a type run hotter on weekdays than
    // weekends, normalized for the calendar's 5:2 imbalance? Exact
    // rate ratio by cross-multiplication: lift·10⁶ = (wd_n·we_days·
    // 10⁶) div (we_n·wd_days) — day-of-week from epoch-day arithmetic
    // ((day+3)%7, Monday=0), day denominators from the OBSERVED
    // distinct days (broadcast 1-row). Only the per-type rollup is
    // corpus-sized.
    "q176_weekday" -> ((s, d) => {
      val typed = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .withColumn("wknd", expr("((day + 3) % 7) >= 5"))
      val counts = typed.groupBy("event_type")
        .agg(count(when(!col("wknd"), 1)).as("wd_n"),
          count(when(col("wknd"), 1)).as("we_n"))
      val days = typed.select("day", "wknd").distinct()
        .agg(count(when(!col("wknd"), 1)).as("wd_days"),
          count(when(col("wknd"), 1)).as("we_days"))
      counts.crossJoin(broadcast(days))
        .select(col("event_type"), col("wd_n"), col("we_n"),
          expr("(wd_n * we_days * 1000000) div (we_n * wd_days)").as("lift_ppm"))
        .orderBy("event_type")
    }),

    // Burst detection — hourly peak-to-mean ratio per event type:
    // "did some hour spike?", the ops-side companion to q152's
    // diurnal-shape test (chi² measures the whole profile; this
    // flags the single worst hour). Two rollups, both map-side
    // combined: (type, absolute-hour) counts — the same integer
    // epoch-hour key as q152, no timezone semantics anywhere — then
    // a types-sized reduce. burst_ppm = peak·1e6·hours / total in
    // exact integers; the 3×-mean flag cross-multiplies through
    // Decimal(38,0) so a year of peak-scale hours can't overflow the
    // comparison at any corpus size.
    "q189_burst" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), max(col("n")).as("peak"),
          sum(col("n")).as("total"))
        .select(col("event_type"), col("n_hours"), col("peak"),
          col("total").cast(LongType).as("total"),
          expr("""cast((cast(peak as decimal(38,0)) * 1000000 * n_hours)
                       div cast(total as decimal(38,0)) as bigint)""").as("burst_ppm"),
          expr("""cast(peak as decimal(38,0)) * 1000000 * n_hours
                  > cast(3000000 as decimal(38,0)) * total""").as("bursty"))
        .orderBy("event_type")
    }),

    // Trailing 7-day active users (WAU) per type — the DISTINCT
    // companion to q157's trailing-7 SUM: distinct counting doesn't
    // telescope over a window frame, so the exact distributed form is
    // contribution explosion — each distinct (type, user, day)
    // activity contributes the user to WAU(D) for D = day..day+6
    // (calendar-clipped via a broadcast scalar), deduped, counted.
    // Volume is a bounded 7× of the distinct-activity table and every
    // stage partial-aggregates; at 100 TB the approximate alternative
    // is per-day `hll_agg` sketches merged across 7 days (q102's
    // sketch), but THIS form is the exact oracle-checkable one.
    "q196_wau" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("event_type"), col("user_id"),
          expr("(ts_ns div 1000) div 86400000000").as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("maxd"))
      ud.crossJoin(broadcast(mx))
        .select(col("event_type"), col("user_id"),
          explode(sequence(col("day"), least(col("day") + 6, col("maxd"))))
            .as("d"))
        .distinct()
        .groupBy(col("event_type"), col("d").as("day"))
        .agg(count(lit(1)).as("wau"))
        .orderBy("event_type", "day")
    }),

    // Label-propagation communities — the THIRD graph-clustering
    // primitive next to connected components (q51, min-propagation:
    // any path merges) and PageRank (q97, centrality): LPA finds
    // DENSE groups, splitting a connected graph along sparse cuts.
    // Same user–day bipartite graph as q97; label(v) starts as v and
    // each synchronous round becomes the MODE of neighbor labels
    // (tie → smallest label, so the fixpoint is deterministic under
    // any partitioning and the oracle replays both rounds as
    // unrolled CTEs). Two rounds — the standard few-iteration LPA
    // budget; like q97/q51, each round is one edge-sized join + a
    // partial-agg'd (node, label) count + a node-keyed window
    // (millions of BOUNDED partitions: state per node = its degree,
    // never corpus-sized), shuffles carry only (long, long) pairs,
    // Barrier truncates lineage per round. Output: the 20 largest
    // communities via TakeOrderedAndProject.
    "q227_labelprop" -> ((s, d) => {
      val (_, lab) = lpaLabels(s, d)
      lab.groupBy("lab").agg(count(lit(1)).as("n_members"))
        .orderBy(desc("n_members"), col("lab")).limit(20)
    }),

    // Modularity score of the q227 partition — Newman's Q as EXACT
    // integer arithmetic (the q98/q152 cross-multiplication
    // discipline): over the doubled edge list with 2m directed
    // edges, Q = Σ_c ein_c/(2m) − Σ_c (d_c/(2m))², so
    // Q_ppm = (2m·Σein_c − Σd_c²)·1e6 div (2m)² — numerator and
    // denominator in Decimal(38,0) (d_c² alone can pass 2^63 on a
    // power-law graph). The quality gauge that tells you whether
    // LPA's split beats random (Q > 0) — run it after every
    // clustering change. Scale shape: one edge-sized join against
    // the labels for ein (both sides label-joined, (long,long)-only
    // shuffles), degree and label rollups are node-sized, final fold
    // is communities-sized.
    "q233_modularity" -> ((s, d) => {
      val (edges, lab) = lpaLabels(s, d)
      val el = edges
        .join(lab.withColumnRenamed("node", "a")
          .withColumnRenamed("lab", "la"), Seq("a"))
        .join(lab.withColumnRenamed("node", "b")
          .withColumnRenamed("lab", "lb"), Seq("b"))
      val ein = el.filter(col("la") === col("lb"))
        .groupBy("la").agg(count(lit(1)).as("ein"))
        .agg(coalesce(sum(col("ein")), lit(0L)).as("sum_ein"))
      val dc = edges.groupBy("a").agg(count(lit(1)).as("deg"))
        .join(lab.withColumnRenamed("node", "a"), Seq("a"))
        .groupBy("lab").agg(sum(col("deg")).as("d_c"))
      val dstats = dc.agg(count(lit(1)).as("n_communities"),
        sum(col("d_c")).as("m2"),
        sum(expr("cast(d_c as decimal(38,0)) * cast(d_c as decimal(38,0))"))
          .as("sum_d2"))
      // Q ∈ (−1, 1) and Spark `div` truncates while DuckDB `//`
      // floors — shifting by +1 keeps the dividend provably positive
      // so both engines floor identically (the packBins discipline)
      dstats.crossJoin(broadcast(ein))
        .select(col("n_communities"),
          expr("m2 div 2").cast(LongType).as("m_edges"),
          (expr("""cast(((cast(m2 as decimal(38,0)) * cast(sum_ein as decimal(38,0))
                   - cast(sum_d2 as decimal(38,0))
                   + cast(m2 as decimal(38,0)) * cast(m2 as decimal(38,0))) * 1000000)
                  div (cast(m2 as decimal(38,0)) * cast(m2 as decimal(38,0)))
                  as bigint)""") - lit(1000000L)).as("modularity_ppm"))
    }),

    // Sketch-merged trailing-7-day active users — q196's documented
    // 100 TB path made REAL surface now the sketch algebra exists:
    // per (type, day) HLL register sketches land once (64 bytes per
    // group), and each trailing window is a register-max merge of ≤7
    // sketch ROWS — the contribution explosion carries 64-byte
    // sketches per (type, day), not the distinct-activity table
    // (q196's exact form explodes per (type, user, day) — corpus-
    // sized·7; this explodes per (type, day)·7). Same exact-integer
    // S contract as q102/q229, so union-of-sketches ≡
    // sketch-of-union lets the oracle compute each window's S
    // directly from the raw rows. The trade: S is a sketch estimate
    // of WAU, not the exact count — q196 remains the exact form.
    "q240_wau_sketch" -> ((s, d) => {
      val h = expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
      val daily = graft.ops.Barrier(Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"), h.as("h"))
        .groupBy("event_type", "day")
        .agg(graft.Functions.hll_regs(col("h"), 6).as("regs")))
      val mx = daily.agg(max(col("day")).as("maxd"))
      daily.crossJoin(broadcast(mx))
        .select(col("event_type"), col("regs"),
          explode(sequence(col("day"), least(col("day") + 6, col("maxd"))))
            .as("day"))
        .groupBy("event_type", "day")
        .agg(graft.Functions.hll_union(col("regs"), 6).as("wau_s"))
        .orderBy("event_type", "day")
    }),

    // k-anonymity / l-diversity release audit — the data-governance
    // gate before publishing an interaction dataset: treat
    // (event_type, day, value-band) as the quasi-identifier (what an
    // attacker can observe) and user_id as the sensitive attribute. k-anonymity:
    // every quasi-id group should contain ≥ k rows (a group of 2 rows
    // re-identifies); l-diversity: ≥ l distinct sensitive values (a
    // group where every row is one user leaks even when large). One
    // partial-agg'd (type, day, band) rollup + a groups-sized fold — the
    // same shape at any corpus size; countDistinct plans as the
    // standard two-phase expand. Exact-integer risk metrics: rows in
    // sub-k groups as ppm of the release.
    "q232_kanon" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts_ns div 1000) div 86400000000").as("day"),
          expr("cast(floor(value / 10) as bigint)").as("vband"),
          col("user_id"))
        .groupBy("event_type", "day", "vband")
        .agg(count(lit(1)).as("sz"), countDistinct(col("user_id")).as("l"))
      g.agg(count(lit(1)).as("n_groups"),
          sum(col("sz")).as("n_rows"),
          min(col("sz")).as("min_k"),
          sum(when(col("sz") < 10, 1L).otherwise(0L)).as("groups_lt_k10"),
          sum(when(col("sz") < 10, col("sz")).otherwise(0L)).as("rows_lt_k10"),
          min(col("l")).as("min_l"),
          sum(when(col("l") < 5, 1L).otherwise(0L)).as("groups_lt_l5"))
        .withColumn("risk_ppm", expr("(rows_lt_k10 * 1000000) div n_rows"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL (same values + column names; dialect may differ).
  // ---------------------------------------------------------------------

  val oracleSql: Map[String, String] = Map(
    "q01_scan" ->
      "SELECT event_id, event_type, user_id FROM events ORDER BY event_id LIMIT 100",
    "q02_route" ->
      """SELECT event_id, topic FROM (
           SELECT event_id,
             CASE event_type
               WHEN 'click' THEN 'click-topic'
               WHEN 'view' THEN 'view-topic'
               WHEN 'signup' THEN 'signup-topic'
               WHEN 'purchase' THEN 'purchase-' || CAST(user_id AS VARCHAR)
             END AS topic
           FROM events) t
         WHERE topic IS NOT NULL
         ORDER BY event_id LIMIT 1000""",
    "q03_drop" ->
      """SELECT count(CASE WHEN event_type NOT IN ('click','view','signup','purchase') THEN 1 END) AS ignored,
                count(CASE WHEN event_type NOT IN ('click','view','signup','purchase','error') THEN 1 END) AS unknown
         FROM events""",
    "q04_detect" ->
      """SELECT count(*) AS alerts FROM events
         WHERE event_type = 'error' AND value < 10.0
           AND (props LIKE '%"k": 6,%' OR props LIKE '%"k": 6}%')""",
    "q05_template" ->
      """SELECT event_id, 'purchase-' || CAST(user_id AS VARCHAR) AS topic
         FROM events WHERE event_type = 'purchase' ORDER BY event_id LIMIT 100""",
    "q06_type_counts" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type",
    "q07_counters" ->
      """SELECT count(*) AS consume,
                count(CASE WHEN event_type IN ('click','view','signup','purchase') THEN 1 END) AS forwarded,
                count(CASE WHEN event_type NOT IN ('click','view','signup','purchase') THEN 1 END) AS ignored
         FROM events""",
    "q08_persec" ->
      """SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS w_s, count(*) AS per_sec
         FROM events GROUP BY 1 ORDER BY w_s LIMIT 500""",
    "q09_delay" ->
      """SELECT f - (p + pf) AS delay FROM (
           SELECT count(*) AS f,
                  count(CASE WHEN value >= 20.0 THEN 1 END) AS p,
                  count(CASE WHEN value < 20.0 THEN 1 END) AS pf
           FROM events WHERE event_type = 'click')""",
    "q10_omission" ->
      """SELECT event_id,
                CASE WHEN props IS NULL OR props = '' THEN NULL ELSE props END AS props
         FROM events ORDER BY event_id LIMIT 100""",
    "q11_uuid" ->
      """WITH h AS (
           SELECT event_id,
                  lower(lpad(hex(user_id), 16, '0')) AS hl,
                  lower(lpad(hex(event_id), 16, '0')) AS hh
           FROM events WHERE user_id IS NOT NULL),
         r AS (
           SELECT event_id,
                  substr(hl,15,2)||substr(hl,13,2)||substr(hl,11,2)||substr(hl,9,2)||substr(hl,7,2)||substr(hl,5,2)||substr(hl,3,2)||substr(hl,1,2) AS rl,
                  substr(hh,15,2)||substr(hh,13,2)||substr(hh,11,2)||substr(hh,9,2)||substr(hh,7,2)||substr(hh,5,2)||substr(hh,3,2)||substr(hh,1,2) AS rh
           FROM h)
         SELECT event_id,
                substr(rl,1,8)||'-'||substr(rl,9,4)||'-'||substr(rl,13,4)||'-'||substr(rh,1,4)||'-'||substr(rh,5,12) AS uuid
         FROM r ORDER BY event_id LIMIT 100""",
    "q14_encode" ->
      """SELECT event_id,
           '{"origin":"ev-'||event_type||'","eventType":5,"timestamp":'||epoch_ns(ts)||',"logMessage":{'
             || CASE WHEN props IS NULL OR props='' THEN '' ELSE '"message":"'||to_base64(encode(props))||'",' END
             || '"message_type":1,"timestamp":'||epoch_ns(ts)
             || CASE WHEN user_id IS NULL THEN '' ELSE ',"app_id":"app-'||user_id||'"' END
             || ',"source_type":"DEA"}}' AS lm_json,
           '{"origin":"ev-'||event_type||'","eventType":6,"timestamp":'||epoch_ns(ts)||',"valueMetric":{"name":"'||event_type||'"'
             || CASE WHEN value IS NULL THEN '' ELSE ',"value":'||regexp_replace(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),'\.?0+$','') END
             || ',"unit":"ms"}}' AS vm_json,
           '{"origin":"ev-'||event_type||'","eventType":7,"timestamp":'||epoch_ns(ts)||',"counterEvent":{"name":"'||event_type||'"'
             || CASE WHEN user_id IS NULL THEN '' ELSE ',"delta":'||user_id END
             || ',"total":'||event_id||'}}' AS ce_json,
           '{"origin":"ev-'||event_type||'","eventType":4,"timestamp":'||epoch_ns(ts)||',"httpStartStop":{'
             || '"startTimestamp":'||epoch_ns(ts)||',"stopTimestamp":'||(epoch_ns(ts)+1000000)
             || ',"requestId":{'|| CASE WHEN user_id IS NULL THEN '' ELSE '"low":'||user_id||',' END ||'"high":'||event_id||'}'
             || ',"peerType":'||(event_id%2+1)||',"method":'||(event_id%44+1)
             || ',"uri":"http://'||event_type||'/'||event_id||'"'
             || ',"statusCode":'||(event_id%4*100+200)
             || CASE WHEN user_id IS NULL THEN '' ELSE ',"contentLength":'||user_id END
             || ',"applicationId":{"low":'||event_id||',"high":'||(event_id*31)||'}'
             || ',"instanceIndex":'||(event_id%4)
             || ',"forwarded":["10.0.0.'||(event_id%256)||'","192.168.0.'||(event_id%100)||'"]}}' AS hss_json,
           '{"origin":"ev-'||event_type||'","eventType":8,"timestamp":'||epoch_ns(ts)||',"error":{"source":"'||event_type||'","code":'||(event_id%100)
             || CASE WHEN props IS NULL THEN '' ELSE ',"message":"'||replace(replace(replace(replace(replace(props,'\','\\'),'"','\"'),'<','\'||'u003c'),'>','\'||'u003e'),'&','\'||'u0026')||'"' END
             || '}}' AS err_json,
           '{"origin":"ev-'||event_type||'","eventType":9,"timestamp":'||epoch_ns(ts)||',"containerMetric":{"applicationId":"cm-'||event_type||'","instanceIndex":'||(event_id%8)
             || CASE WHEN value IS NULL THEN '' ELSE ',"cpuPercentage":'||regexp_replace(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),'\.?0+$','') END
             || ',"memoryBytes":'||(event_id*1024)||',"diskBytes":'||event_id
             || ',"memoryBytesQuota":18446744073709551615,"diskBytesQuota":2147483648}}' AS cm_json
         FROM events WHERE event_type IS NOT NULL
         ORDER BY event_id LIMIT 100""",
    "q12_rate" ->
      """WITH per AS (
           SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS w_s, count(*) AS n
           FROM events GROUP BY 1)
         SELECT a.w_s, a.n, a.n - b.n AS rate
         FROM per a LEFT JOIN per b ON a.w_s = b.w_s + 1
         ORDER BY a.w_s LIMIT 500""",
    "q88_sessions" ->
      """WITH l AS (SELECT user_id, epoch_ns(ts) ts_ns,
                 lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) prev
               FROM events),
          b AS (SELECT user_id, ts_ns,
                 CASE WHEN prev IS NULL OR ts_ns - prev > 21600000000000 THEN 1 ELSE 0 END brk
               FROM l),
          s AS (SELECT user_id, ts_ns,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ns
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_id
               FROM b)
         SELECT user_id, CAST(session_id AS BIGINT) session_id,
                CAST(count(*) AS BIGINT) n_events,
                min(ts_ns) start_ns, max(ts_ns) end_ns,
                max(ts_ns) - min(ts_ns) dur_ns
         FROM s GROUP BY 1, 2
         ORDER BY user_id, session_id""",
    "q90_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) ts_ns FROM events),
          s1 AS (SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts_ns END) t1
                 FROM e GROUP BY 1),
          s2 AS (SELECT e.user_id,
                   min(CASE WHEN event_type = 'click' AND ts_ns > t1
                       THEN ts_ns END) t2
                 FROM e JOIN s1 USING (user_id) GROUP BY 1),
          s3 AS (SELECT e.user_id,
                   min(CASE WHEN event_type = 'purchase' AND ts_ns > t2
                       THEN ts_ns END) t3
                 FROM e JOIN s2 USING (user_id) GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) n_users,
                CAST(count(t1) AS BIGINT) n_view,
                CAST(count(t2) AS BIGINT) n_click_after,
                CAST(count(t3) AS BIGINT) n_purchase_after
         FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""",
    "q91_retention" ->
      """WITH d AS (SELECT DISTINCT user_id,
                      epoch_us(ts) // 86400000000 AS day FROM events),
          c AS (SELECT user_id, min(day) cohort FROM d GROUP BY 1)
         SELECT c.cohort, d.day - c.cohort AS day_off,
                CAST(count(*) AS BIGINT) n_users
         FROM d JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // per-user distinct type sets self-joined; support counts with
    // the 5% floor and ppm share.
    "q141_cooccur" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
          nu AS (SELECT count(DISTINCT user_id) nu FROM ut),
          p AS (SELECT a.event_type x, b.event_type y, count(*) support
                FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
                GROUP BY 1, 2)
         SELECT x, y, CAST(support AS BIGINT) support,
                (CAST(support AS BIGINT) * 1000000) // nu AS support_ppm
         FROM p, nu WHERE support * 20 >= nu ORDER BY x, y""",
    // the gap-filled grid self-joined on day; exact covariance
    // numerators per unordered type pair.
    "q138_comovement" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day, count(*) n
                        FROM events GROUP BY 1, 2),
          b AS (SELECT min(day) mn, max(day) mx FROM daily),
          ty AS (SELECT DISTINCT event_type FROM daily),
          grid AS (SELECT ty.event_type, s.day, coalesce(d.n, 0) n
                   FROM ty CROSS JOIN (SELECT unnest(range(b.mn, b.mx + 1)) AS day FROM b) s
                   LEFT JOIN daily d ON ty.event_type = d.event_type AND s.day = d.day)
         SELECT a.event_type type_x, bb.event_type type_y,
                CAST(count(*) AS BIGINT) m,
                CAST(count(*) * sum(a.n * bb.n) - sum(a.n) * sum(bb.n) AS BIGINT) cov_num,
                count(*) * sum(a.n * bb.n) > sum(a.n) * sum(bb.n) AS is_pos
         FROM grid a JOIN grid bb ON a.day = bb.day AND a.event_type < bb.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // first-seen day per user, then the running-sum reach curve.
    "q139_reach" ->
      """WITH fd AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
                     FROM events GROUP BY 1),
          nn AS (SELECT day, count(*) n_new FROM fd GROUP BY 1)
         SELECT day, CAST(n_new AS BIGINT) n_new,
                CAST(sum(n_new) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) reach
         FROM nn ORDER BY day""",
    // type-7 continuous quantiles (quantile_cont ≡ Spark percentile).
    "q137_quantile_cont" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) n,
                quantile_cont(value, 0.5) AS med,
                quantile_cont(value, 0.9) AS p90
         FROM events GROUP BY event_type ORDER BY event_type""",
    // daily rollup, bounds-driven day spine × observed types, left
    // join with zero fill.
    "q136_gapfill" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day, count(*) n
                        FROM events GROUP BY 1, 2),
          b AS (SELECT min(day) mn, max(day) mx FROM daily),
          ty AS (SELECT DISTINCT event_type FROM daily),
          spine AS (SELECT ty.event_type, unnest(range(b.mn, b.mx + 1)) AS day
                    FROM ty CROSS JOIN b)
         SELECT s.event_type, s.day, CAST(coalesce(d.n, 0) AS BIGINT) n
         FROM spine s LEFT JOIN daily d
           ON s.event_type = d.event_type AND s.day = d.day
         ORDER BY s.event_type, s.day""",
    "q98_anomaly" ->
      """WITH daily AS (SELECT (epoch_us(ts) // 86400000000) AS day, count(*) n
                        FROM events GROUP BY 1),
          st AS (SELECT count(*) m, sum(n) s1, sum(n * n) s2 FROM daily)
         SELECT day, CAST(n AS BIGINT) n_events,
                (CAST(m AS HUGEINT) * n - s1) * (CAST(m AS HUGEINT) * n - s1)
                  > 4 * (CAST(m AS HUGEINT) * s2
                         - CAST(s1 AS HUGEINT) * s1) AS is_anom
         FROM daily CROSS JOIN st ORDER BY day""",
    // per-type prefix sums + running mins: the CUSUM closed form
    // S_t = P_t − min(0, min_{j≤t} P_j), deviations scaled ×2m.
    "q250_cusum" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
                               count(*) n
                        FROM events GROUP BY 1, 2),
          st AS (SELECT event_type, count(*) m, sum(n) tot FROM daily GROUP BY 1),
          dv AS (SELECT d.event_type, d.day, d.n, st.tot,
                   2 * CAST(st.m AS HUGEINT) * d.n - 3 * CAST(st.tot AS HUGEINT) dup,
                   CAST(st.tot AS HUGEINT) - 2 * CAST(st.m AS HUGEINT) * d.n ddn
                 FROM daily d JOIN st USING (event_type)),
          pf AS (SELECT event_type, day, n, tot,
                   SUM(dup) OVER w pup, SUM(ddn) OVER w pdn
                 FROM dv WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          cs AS (SELECT event_type, day, n, tot,
                   pup - least(MIN(pup) OVER w, 0) cup,
                   pdn - least(MIN(pdn) OVER w, 0) cdn
                 FROM pf WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_type, day, CAST(n AS BIGINT) n_events,
                CAST(cup AS BIGINT) cusum_up_x2m,
                CAST(cdn AS BIGINT) cusum_dn_x2m,
                cup > 4 * CAST(tot AS HUGEINT) shift_up,
                cdn > 4 * CAST(tot AS HUGEINT) shift_dn
         FROM cs ORDER BY event_type, day""",
    // day-rank OLS sums per type; HUGEINT cross-products; signed ppm.
    "q255_trend" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
                               count(*) y
                        FROM events GROUP BY 1, 2),
          xr AS (SELECT event_type, y,
                   row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 x
                 FROM daily),
          g AS (SELECT event_type, count(*) m,
                  sum(x) sx, sum(y) sy, sum(x * x) sxx, sum(x * y) sxy
                FROM xr GROUP BY 1)
         SELECT event_type, CAST(m AS BIGINT) n_days,
                CAST((CASE WHEN CAST(m AS HUGEINT) * sxy
                             - CAST(sx AS HUGEINT) * sy < 0
                      THEN -1 ELSE 1 END)
                  * ((abs(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                      * 1000000)
                     // (CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx))
                  AS BIGINT) slope_ppm
         FROM g WHERE m >= 2 ORDER BY event_type""",
    // per-user span rollup, censor at the corpus edge − 7, lifetime
    // census, at-risk by prefix subtraction.
    "q258_lifetable" ->
      """WITH u AS (
           SELECT user_id, min(epoch_us(ts) // 86400000000) d0,
                  max(epoch_us(ts) // 86400000000) d1
           FROM events GROUP BY 1),
         e AS (SELECT max(d1) mm FROM u),
         l AS (SELECT d1 - d0 t, d1 < mm - 7 churned FROM u, e),
         g AS (SELECT t,
                 SUM(CASE WHEN churned THEN 1 ELSE 0 END) d_churn,
                 SUM(CASE WHEN churned THEN 0 ELSE 1 END) c_censored
               FROM l GROUP BY 1),
         c AS (SELECT t, d_churn, c_censored,
                 SUM(d_churn + c_censored) OVER () total,
                 COALESCE(SUM(d_churn + c_censored) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bfr
               FROM g)
         SELECT t AS t_days,
                CAST(total - bfr AS BIGINT) n_risk,
                CAST(d_churn AS BIGINT) d_churn,
                CAST(c_censored AS BIGINT) c_censored,
                CAST((d_churn * 1000000) // (total - bfr) AS BIGINT) hazard_ppm
         FROM c ORDER BY t_days""",
    "q97_pagerank" ->
      """WITH d AS (SELECT DISTINCT user_id AS u,
                      (epoch_us(ts) // 86400000000) + 2000000 AS v
                    FROM events),
          e AS (SELECT u AS a, v AS b FROM d
                UNION ALL SELECT v, u FROM d),
          deg AS (SELECT a, count(*) dg FROM e GROUP BY 1),
          r0 AS (SELECT a AS node, CAST(1000000 AS BIGINT) r FROM deg),
          c1 AS (SELECT e.b AS node, sum(r0.r // deg.dg) s
                 FROM e JOIN r0 ON e.a = r0.node JOIN deg ON e.a = deg.a
                 GROUP BY 1),
          r1 AS (SELECT deg.a AS node,
                   CAST(150000 + (850 * coalesce(c1.s, 0)) // 1000 AS BIGINT) r
                 FROM deg LEFT JOIN c1 ON deg.a = c1.node),
          c2 AS (SELECT e.b AS node, sum(r1.r // deg.dg) s
                 FROM e JOIN r1 ON e.a = r1.node JOIN deg ON e.a = deg.a
                 GROUP BY 1),
          r2 AS (SELECT deg.a AS node,
                   CAST(150000 + (850 * coalesce(c2.s, 0)) // 1000 AS BIGINT) r
                 FROM deg LEFT JOIN c2 ON deg.a = c2.node),
          c3 AS (SELECT e.b AS node, sum(r2.r // deg.dg) s
                 FROM e JOIN r2 ON e.a = r2.node JOIN deg ON e.a = deg.a
                 GROUP BY 1),
          r3 AS (SELECT deg.a AS node,
                   CAST(150000 + (850 * coalesce(c3.s, 0)) // 1000 AS BIGINT) r
                 FROM deg LEFT JOIN c3 ON deg.a = c3.node)
         SELECT node,
                CASE WHEN node < 2000000 THEN 'user' ELSE 'day' END AS kind,
                r AS rank_ppm
         FROM r3 ORDER BY rank_ppm DESC, node LIMIT 20""",
    "q93_zorder" ->
      """WITH e AS (SELECT user_id % 1024 AS x,
                      (epoch_us(ts) // 86400000000) % 1024 AS y
                    FROM events),
          z AS (SELECT x, y,
                  CAST(list_sum(list_transform(range(0, 31), i ->
                    ((x >> i) & 1) * (1::BIGINT << (2 * i))
                    + ((y >> i) & 1) * (1::BIGINT << (2 * i + 1))))
                  AS BIGINT) AS zkey
                FROM e)
         SELECT zkey // 64 AS tile, CAST(count(*) AS BIGINT) n,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y
         FROM z GROUP BY 1 ORDER BY 1""",
    "q68_json" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events WHERE props IS NOT NULL AND props <> '' AND json_valid(props)
           AND trim(props) <> 'null'
         GROUP BY event_type ORDER BY event_type""",
    "q13_agg" ->
      """SELECT event_type,
                CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv,
                CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS av,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q39_codec" ->
      """SELECT count(*) AS n_roundtrip, count(*) AS n_malformed_null
         FROM events WHERE event_type IS NOT NULL""",
    // per-user lag sequences → |types|²-bounded transition rollup
    // with exact ppm probabilities.
    "q142_markov" ->
      """WITH t AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
           FROM events),
         tr AS (SELECT prev, event_type AS nxt, count(*) n
                FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT prev, sum(n) n_from FROM tr GROUP BY 1)
         SELECT prev, nxt, CAST(n AS BIGINT) n,
                (CAST(n AS BIGINT) * 1000000) // CAST(n_from AS BIGINT) AS p_ppm
         FROM tr JOIN tot USING (prev) ORDER BY prev, nxt""",
    // ignore-nulls last_value over the strict-past frame = the
    // last-touch column; purchases grouped by it.
    "q143_attrib" ->
      """WITH e AS (
           SELECT user_id, event_type, value,
                  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) lt
           FROM events)
         SELECT coalesce(lt, 'none') AS touch, count(*) AS purchases,
                CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS revenue
         FROM e WHERE event_type = 'purchase' GROUP BY 1 ORDER BY touch""",
    // integer Hampel gate: med2/mad4 carry medians at fixed scale so
    // 2·dev2 > 3·mad4 is the exact outlier predicate.
    "q144_mad" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day, count(*) n
                        FROM events GROUP BY 1, 2),
         r1 AS (SELECT event_type, day, n,
                       row_number() OVER (PARTITION BY event_type ORDER BY n, day) r,
                       count(*) OVER (PARTITION BY event_type) m
                FROM daily),
         m1 AS (SELECT event_type,
                       sum(CASE WHEN r*2 = m+1 THEN n*2 WHEN r*2 = m OR r*2 = m+2 THEN n ELSE 0 END) med2
                FROM r1 GROUP BY 1),
         dev AS (SELECT d.event_type, d.day, d.n, abs(d.n*2 - m1.med2) dev2
                 FROM daily d JOIN m1 USING (event_type)),
         r2 AS (SELECT event_type, day, dev2,
                       row_number() OVER (PARTITION BY event_type ORDER BY dev2, day) r,
                       count(*) OVER (PARTITION BY event_type) m
                FROM dev),
         m2 AS (SELECT event_type,
                       sum(CASE WHEN r*2 = m+1 THEN dev2*2 WHEN r*2 = m OR r*2 = m+2 THEN dev2 ELSE 0 END) mad4
                FROM r2 GROUP BY 1)
         SELECT d.event_type, d.day, CAST(d.n AS BIGINT) n, CAST(d.dev2 AS BIGINT) dev2
         FROM dev d JOIN m2 USING (event_type)
         WHERE d.dev2 * 2 > m2.mad4 * 3
         ORDER BY d.event_type, d.day""",
    // gap-filled 24-bin grid; X = 576Σn² − 24N², χ² gate and the
    // scaled statistic both by exact cross-multiplication.
    "q152_diurnal" ->
      """WITH hourly AS (SELECT event_type, ((epoch_us(ts) // 3600000000) % 24) AS h, count(*) n
                         FROM events GROUP BY 1, 2),
         ty AS (SELECT DISTINCT event_type FROM hourly),
         grid AS (SELECT ty.event_type, s.h, coalesce(hh.n, 0) n
                  FROM ty CROSS JOIN (SELECT unnest(range(0, 24)) AS h) s
                  LEFT JOIN hourly hh ON ty.event_type = hh.event_type AND s.h = hh.h),
         agg AS (SELECT event_type, CAST(sum(n) AS HUGEINT) nt,
                        CAST(sum(CAST(n*24 AS HUGEINT) * CAST(n*24 AS HUGEINT)) AS HUGEINT) s24
                 FROM grid GROUP BY 1)
         SELECT event_type, CAST(nt AS BIGINT) n,
                CAST((s24 - 24 * nt * nt) * 1000 // (24 * nt) AS BIGINT) chi2_x1000,
                (s24 - 24 * nt * nt) > 42 * 24 * nt AS is_diurnal
         FROM agg ORDER BY event_type""",
    // two-level rollup; Simpson λ in exact ppm.
    "q153_simpson" ->
      """WITH pt AS (SELECT user_id, event_type, count(*) nt FROM events GROUP BY 1, 2),
         u AS (SELECT user_id, CAST(sum(nt) AS BIGINT) n,
                      CAST(sum(nt * nt) AS BIGINT) s2
               FROM pt GROUP BY 1)
         SELECT user_id, n, (s2 * 1000000) // (n * n) AS simpson_ppm
         FROM u ORDER BY user_id""",
    // double-lag per-user paths; |types|³-bounded rollup, top 20.
    "q154_journeys" ->
      """WITH t AS (
           SELECT lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) t1,
                  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) t2,
                  event_type t3
           FROM events)
         SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) n
         FROM t WHERE t1 IS NOT NULL AND t2 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",
    // value-based RANGE frame over the daily rollup — gaps shrink the
    // trailing window, no spine needed.
    "q157_trailing7" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day, count(*) n
                        FROM events GROUP BY 1, 2)
         SELECT event_type, day, CAST(n AS BIGINT) n,
                CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
                                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) trail7
         FROM daily ORDER BY event_type, day""",
    // per-cell integer chi-square contributions (×1000, floored),
    // summed over the cohort-week × type contingency table.
    "q158_indep" ->
      """WITH cohort AS (SELECT user_id, min((epoch_us(ts) // 86400000000) // 7) wk
                         FROM events GROUP BY 1),
         cells AS (SELECT c.wk, e.event_type, count(*) o
                   FROM events e JOIN cohort c USING (user_id) GROUP BY 1, 2),
         r AS (SELECT wk, CAST(sum(o) AS HUGEINT) r FROM cells GROUP BY 1),
         c AS (SELECT event_type, CAST(sum(o) AS HUGEINT) c FROM cells GROUP BY 1),
         t AS (SELECT CAST(sum(o) AS HUGEINT) nt FROM cells)
         SELECT count(*) AS n_cells,
                CAST(sum((nt*o - r.r*c.c) * (nt*o - r.r*c.c) * 1000
                         // (nt * r.r * c.c)) AS BIGINT) AS chi2_x1000
         FROM cells JOIN r USING (wk) JOIN c USING (event_type), t""",
    // one-pass argmax/argmin with the composite deterministic key.
    "q163_argmax" ->
      """WITH daily AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS d, count(*) n
                        FROM events GROUP BY 1, 2)
         SELECT event_type,
                max_by(d, n * 1000000 - d) AS peak_day,
                CAST(max(n) AS BIGINT) AS peak_n,
                min_by(d, n * 1000000 + d) AS trough_day,
                CAST(min(n) AS BIGINT) AS trough_n
         FROM daily GROUP BY 1 ORDER BY event_type""",
    // dense_rank keeps the tied boundary rows.
    "q164_topties" ->
      """WITH r AS (
           SELECT doc_id, lang, n_chars,
                  dense_rank() OVER (PARTITION BY lang ORDER BY n_chars DESC) r
           FROM documents)
         SELECT doc_id, lang, n_chars, CAST(r AS BIGINT) r
         FROM r WHERE r <= 3
         ORDER BY lang, n_chars DESC, doc_id""",
    // EXISTS-within-window semi-join; exact funnel ppm.
    "q165_trigger" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) vts FROM events WHERE event_type = 'view'),
         b AS (SELECT user_id, epoch_us(ts) bts FROM events WHERE event_type = 'purchase'),
         conv AS (SELECT DISTINCT v.event_id
                  FROM v JOIN b ON v.user_id = b.user_id
                   AND b.bts > v.vts AND b.bts <= v.vts + 600000000)
         SELECT (SELECT count(*) FROM v) AS n_views,
                (SELECT count(*) FROM conv) AS n_converted,
                ((SELECT count(*) FROM conv) * 1000000) // (SELECT count(*) FROM v) AS cvr_ppm""",
    // per-user lead gaps; q144's dual-rank exact median per type.
    "q166_cadence" ->
      """WITH g AS (
           SELECT event_type,
                  (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   - epoch_us(ts)) AS gap_us
           FROM events),
         gg AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
         rr AS (SELECT event_type, gap_us,
                       row_number() OVER (PARTITION BY event_type ORDER BY gap_us) r,
                       count(*) OVER (PARTITION BY event_type) m
                FROM gg)
         SELECT event_type, count(*) AS n_gaps,
                CAST(sum(CASE WHEN r*2 = m+1 THEN gap_us*2
                              WHEN r*2 = m OR r*2 = m+2 THEN gap_us
                              ELSE 0 END) AS BIGINT) AS med2_us
         FROM rr GROUP BY 1 ORDER BY event_type""",
    // rank-gated decile trim; exact decimal mean over the kept band.
    "q171_trimmed" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) r,
                  count(*) OVER (PARTITION BY event_type) m
           FROM events)
         SELECT event_type, count(*) AS n_kept,
                CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv,
                CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS trimmed_mean
         FROM r WHERE r * 10 > m AND r * 10 <= m * 9
         GROUP BY 1 ORDER BY event_type""",
    // one-pass argmax mode with the composite tie key.
    "q172_mode" ->
      """WITH b AS (SELECT event_type, CAST(floor(value / 10) AS BIGINT) bucket, count(*) n
                    FROM events GROUP BY 1, 2)
         SELECT event_type,
                max_by(bucket, n * 1048576 - bucket) AS mode_bucket,
                CAST(max(n) AS BIGINT) AS mode_n,
                count(*) AS n_buckets
         FROM b GROUP BY 1 ORDER BY event_type""",
    // epoch-day dow arithmetic; cross-multiplied rate ratio.
    "q176_weekday" ->
      """WITH t AS (SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
                           ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS wknd
                    FROM events),
         c AS (SELECT event_type,
                      count(CASE WHEN NOT wknd THEN 1 END) wd_n,
                      count(CASE WHEN wknd THEN 1 END) we_n
               FROM t GROUP BY 1),
         dd AS (SELECT count(CASE WHEN NOT wknd THEN 1 END) wd_days,
                       count(CASE WHEN wknd THEN 1 END) we_days
                FROM (SELECT DISTINCT day, wknd FROM t))
         SELECT event_type, wd_n, we_n,
                (wd_n * we_days * 1000000) // (we_n * wd_days) AS lift_ppm
         FROM c, dd ORDER BY event_type""",
    // hourly peak-to-mean per type; decimal cross-multiplication.
    "q189_burst" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS n
                    FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
                      CAST(max(n) AS BIGINT) AS peak, CAST(sum(n) AS BIGINT) AS total
               FROM h GROUP BY 1)
         SELECT event_type, n_hours, peak, total,
                CAST((CAST(peak AS HUGEINT) * 1000000 * n_hours)
                     // CAST(total AS HUGEINT) AS BIGINT) AS burst_ppm,
                CAST(peak AS HUGEINT) * 1000000 * n_hours
                  > CAST(3000000 AS HUGEINT) * total AS bursty
         FROM m ORDER BY event_type""",
    // contribution-exploded exact trailing-7-day distinct users.
    "q196_wau" ->
      """WITH ud AS (SELECT DISTINCT event_type, user_id,
                            epoch_us(ts) // 86400000000 AS day FROM events),
         mx AS (SELECT max(day) AS maxd FROM ud),
         c AS (SELECT DISTINCT event_type, user_id, d
               FROM ud, unnest(range(day, day + 7)) t(d), mx
               WHERE d <= maxd)
         SELECT event_type, CAST(d AS BIGINT) AS day, CAST(count(*) AS BIGINT) AS wau
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    // two synchronous LPA rounds unrolled; mode = (count DESC, lab)
    // argmax per node — deterministic in both engines.
    "q227_labelprop" ->
      """WITH dp AS (SELECT DISTINCT user_id AS u,
                       (epoch_us(ts) // 86400000000) + 2000000 AS v
                     FROM events),
         e AS (SELECT u AS a, v AS b FROM dp
               UNION ALL SELECT v, u FROM dp),
         l0 AS (SELECT DISTINCT a AS node FROM e),
         l0l AS (SELECT node, node AS lab FROM l0),
         v1 AS (SELECT e.a, l.lab FROM e JOIN l0l l ON e.b = l.node
                UNION ALL SELECT node, lab FROM l0l),
         r1 AS (SELECT a, lab, count(*) cnt FROM v1 GROUP BY 1, 2),
         l1 AS (SELECT a AS node, lab FROM (
                  SELECT a, lab, row_number() OVER
                    (PARTITION BY a ORDER BY cnt DESC, lab) rn FROM r1)
                WHERE rn = 1),
         v2 AS (SELECT e.a, l.lab FROM e JOIN l1 l ON e.b = l.node
                UNION ALL SELECT node, lab FROM l1),
         r2 AS (SELECT a, lab, count(*) cnt FROM v2 GROUP BY 1, 2),
         l2 AS (SELECT a AS node, lab FROM (
                  SELECT a, lab, row_number() OVER
                    (PARTITION BY a ORDER BY cnt DESC, lab) rn FROM r2)
                WHERE rn = 1)
         SELECT lab, CAST(count(*) AS BIGINT) AS n_members
         FROM l2 GROUP BY 1 ORDER BY n_members DESC, lab LIMIT 20""",
    // LPA rounds replayed + exact-integer Newman Q with the +1 shift
    // (positive dividend → floor ≡ truncate in both engines).
    "q233_modularity" ->
      """WITH dp AS (SELECT DISTINCT user_id AS u,
                       (epoch_us(ts) // 86400000000) + 2000000 AS v
                     FROM events),
         e AS (SELECT u AS a, v AS b FROM dp
               UNION ALL SELECT v, u FROM dp),
         l0 AS (SELECT DISTINCT a AS node FROM e),
         l0l AS (SELECT node, node AS lab FROM l0),
         v1 AS (SELECT e.a, l.lab FROM e JOIN l0l l ON e.b = l.node
                UNION ALL SELECT node, lab FROM l0l),
         r1 AS (SELECT a, lab, count(*) cnt FROM v1 GROUP BY 1, 2),
         l1 AS (SELECT a AS node, lab FROM (
                  SELECT a, lab, row_number() OVER
                    (PARTITION BY a ORDER BY cnt DESC, lab) rn FROM r1)
                WHERE rn = 1),
         v2 AS (SELECT e.a, l.lab FROM e JOIN l1 l ON e.b = l.node
                UNION ALL SELECT node, lab FROM l1),
         r2 AS (SELECT a, lab, count(*) cnt FROM v2 GROUP BY 1, 2),
         l2 AS (SELECT a AS node, lab FROM (
                  SELECT a, lab, row_number() OVER
                    (PARTITION BY a ORDER BY cnt DESC, lab) rn FROM r2)
                WHERE rn = 1),
         ein AS (SELECT count(*) sum_ein
                 FROM e JOIN l2 x ON e.a = x.node
                        JOIN l2 y ON e.b = y.node
                 WHERE x.lab = y.lab),
         deg AS (SELECT a, count(*) deg FROM e GROUP BY 1),
         dc AS (SELECT l2.lab, sum(deg.deg) d_c
                FROM deg JOIN l2 ON deg.a = l2.node GROUP BY 1),
         ds AS (SELECT count(*) n_communities,
                       CAST(sum(d_c) AS HUGEINT) m2,
                       sum(CAST(d_c AS HUGEINT) * d_c) sum_d2
                FROM dc)
         SELECT CAST(n_communities AS BIGINT) n_communities,
                CAST(m2 // 2 AS BIGINT) m_edges,
                CAST(((m2 * sum_ein - sum_d2 + m2 * m2) * 1000000)
                     // (m2 * m2) - 1000000 AS BIGINT) modularity_ppm
         FROM ds, ein""",
    // union-of-sketches ≡ sketch-of-union: the oracle computes each
    // trailing window's registers directly from the raw activity.
    "q240_wau_sketch" ->
      """WITH ud AS (SELECT DISTINCT event_type, user_id,
                            epoch_us(ts) // 86400000000 AS day,
                            CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) h
                     FROM events),
         mx AS (SELECT max(day) AS maxd FROM ud),
         c AS (SELECT DISTINCT event_type, h, d
               FROM ud, unnest(range(day, day + 7)) t(d), mx
               WHERE d <= maxd),
         regs AS (SELECT event_type, d, h % 64 AS j,
                    max(CASE WHEN h // 64 = 0 THEN 55
                             ELSE 55 - length(bin(h // 64)) END) AS r
                  FROM c GROUP BY 1, 2, 3)
         SELECT event_type, CAST(d AS BIGINT) AS day,
                CAST(sum(CAST(1 AS BIGINT) << (55 - r)) +
                     (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS wau_s
         FROM regs GROUP BY 1, 2 ORDER BY 1, 2""",
    "q232_kanon" ->
      """WITH g AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                           CAST(floor(value / 10) AS BIGINT) AS vband,
                           count(*) sz, count(DISTINCT user_id) l
                    FROM events GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) n_groups,
                CAST(sum(sz) AS BIGINT) n_rows,
                CAST(min(sz) AS BIGINT) min_k,
                CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) groups_lt_k10,
                CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) rows_lt_k10,
                CAST(min(l) AS BIGINT) min_l,
                CAST(sum(CASE WHEN l < 5 THEN 1 ELSE 0 END) AS BIGINT) groups_lt_l5,
                CAST((sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) * 1000000)
                     // sum(sz) AS BIGINT) risk_ppm
         FROM g"""
  )
}
