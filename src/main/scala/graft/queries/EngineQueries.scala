package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** General engine-capability queries covering the standard checklist
  * categories the reference itself never exercises (SURVEY §2.2):
  * session windows, sliding windows, distinct aggregation, set
  * operations, and semi/anti joins. Each is oracle-checked — the
  * engine is complete beyond the reference's own surface.
  */
object EngineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Session windows: per-user sessions with a 30-minute gap.
    // session_window keeps state bounded by the gap; the batch oracle
    // is the classic gaps-and-islands formulation.
    "q33_session" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // Sliding windows: 10-minute windows sliding by 5 — each event in
    // two windows; batch analogue of the streaming sliding aggregate.
    "q34_sliding" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))
        .orderBy("w_start").limit(500)
    }),

    // Distinct aggregation: exact distinct users per event type.
    "q35_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // Set operations: click-only users (EXCEPT), click∩purchase users
    // (INTERSECT), and the union count — fused into ONE job: a single
    // per-user membership aggregation then conditional counts, instead
    // of three driver actions each re-scanning events (the EXCEPT /
    // INTERSECT / UNION-DISTINCT forms are each a full shuffle of the
    // same distinct sets; this shape reads events once and shuffles
    // user_id membership bits only).
    "q36_setops" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        .agg(
          count(when(col("c") === 1 && col("p") === 0, 1)).as("click_only"),
          count(when(col("c") === 1 && col("p") === 1, 1)).as("both"),
          count(lit(1)).as("either"))
    }),

    // KMV distinct-count sketch: the k-th minimum distinct hash per
    // group and its estimator — oracle-exact because the sketch runs
    // on the shared deterministic md5-prefix hash domain. est is one
    // IEEE multiply+divide on both engines. k=8: the sf0.001 smoke
    // data has only 15 distinct users per type, and a group below k
    // has no k-th minimum (dropped on both sides).
    "q38_kmv" -> ((s, d) => {
      val h = expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
      Tables.events(s, d)
        .select(col("event_type"), h.as("h"))
        .groupBy("event_type")
        .agg(graft.Functions.kmv_kth(col("h"), 8).as("h_k"),
          countDistinct(col("h")).as("exact"))
        // Groups with < k distinct hashes have no k-th minimum: kmv_kth
        // yields NULL and the row is dropped, matching the oracle's
        // `WHERE rn = 8` which omits such groups entirely.
        .filter(col("h_k").isNotNull)
        .select(col("event_type"), col("h_k"),
          (lit(7.0d) * lit(1152921504606846976.0d)
            / col("h_k").cast("double")).as("est"),
          col("exact"))
        .orderBy("event_type")
    }),

    // HyperLogLog distinct-count sketch — KMV's constant-state sibling
    // (graft.functions.HllSketch): 64 one-byte registers per group vs
    // KMV's k longs, mergeable map-side, and the shuffle payload never
    // grows with cardinality. Oracle-EXACT like q38: the sketch result
    // is the integer register sum S = Σ 2^(55−r_j) (a sum of 64 powers
    // of two — no float accumulation), replayed by the oracle's
    // GROUP BY j / max(rho) over the same md5-prefix hashes; the
    // estimate α·m²·2^55/S is ONE double division of exact integers.
    // At 100 TB this is the per-group distinct-users/tokens shape:
    // partial registers combine map-side, 64 bytes per group cross the
    // wire, groups never expand. (b=6 keeps σ ≈ 1.04/√64 = 13%; the
    // exact column rides along to show the error envelope.)
    "q102_hll" -> ((s, d) => {
      val h = expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
      Tables.events(s, d)
        .select(col("event_type"), h.as("h"))
        .groupBy("event_type")
        .agg(graft.Functions.hll_agg(col("h"), 6).as("hll_s"),
          countDistinct(col("h")).as("exact"))
        .select(col("event_type"), col("hll_s"),
          (lit(0.709d) * lit(4096.0d) * lit(3.6028797018963968e16d)
            / col("hll_s").cast("double")).as("est"),
          col("exact"))
        .orderBy("event_type")
    }),

    // Sketch-algebra rollup — the property that makes HLL a data-
    // engineering primitive, exercised at the query surface: the per-
    // type distinct-user sketches are landed ONCE (hll_regs keeps the
    // 64-byte register array as the aggregate value, Barrier
    // materializes the 5-row sketch frame), and the corpus-wide
    // distinct estimate comes from MERGING those sketches (hll_union,
    // register max) — never a second scan of events. Register max is
    // associative/commutative/idempotent, so union-of-sketches ≡
    // sketch-of-union bit for bit, and the oracle proves it by
    // computing the TOTAL row directly from the raw rows. At 100 TB
    // this is the nightly pattern: per-(source, day) sketch table,
    // every rollup a 64-byte-row merge.
    "q229_hll_rollup" -> ((s, d) => {
      val h = expr(
        "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
      val per = graft.ops.Barrier(
        Tables.events(s, d)
          .select(col("event_type"), h.as("h"))
          .groupBy("event_type")
          .agg(graft.Functions.hll_agg(col("h"), 6).as("hll_s"),
            graft.Functions.hll_regs(col("h"), 6).as("regs")))
      val total = per
        .agg(graft.Functions.hll_union(col("regs"), 6).as("hll_s"))
        .select(lit("TOTAL").as("scope"), col("hll_s"))
      per.select(col("event_type").as("scope"), col("hll_s"))
        .unionByName(total)
        .orderBy("scope")
    }),

    // Range (interval) join: events whose value falls inside each
    // customer's [acctbal-5, acctbal+5] band. Spark-first SCALABLE
    // shape, two layers:
    //  1. bucketed equi-join (intervals replicated to each covered
    //     fixed-width bucket, ≤2 here) + exact re-filter — never a
    //     nested-loop theta-join;
    //  2. both sides aggregate to their VALUE DOMAIN first. The
    //     matching PAIR set is quadratic in corpus size (acctbal is
    //     uniform over an 11000-wide band, so ~n_e·n_c/1100 pairs —
    //     2.6e10 bucket candidates at sf10, 110 s measured in the
    //     r15 sweep), but the query returns aggregates, which are
    //     BILINEAR in per-value rollups: count = Σ n_v·m_a and
    //     checksum = Σ (Σeid_v·m_a + n_v·Σck_a) over matching
    //     (v, a). Joining the rollups bounds pair work by the value
    //     domains (≤56k distinct event values — they SATURATE, so
    //     cost stops growing with the corpus), and the exact-integer
    //     Decimal(38,0) accumulation matches the oracle's HUGEINT
    //     sum at any scale.
    "q43_range" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val pts = Tables.events(s, d)
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n_v"), sum(col("event_id").cast(dec)).as("s_eid"))
        .withColumn("b", floor(col("value") / 10).cast("long"))
      val iv = Tables.customer(s, d)
        .groupBy(col("c_acctbal"))
        .agg(count(lit(1)).as("m_a"), sum(col("c_custkey").cast(dec)).as("s_ck"))
        .withColumn("b", explode(sequence(
          floor((col("c_acctbal") - 5) / 10).cast("long"),
          floor((col("c_acctbal") + 5) / 10).cast("long"))))
      pts.join(iv, "b")
        .filter(col("value") >= col("c_acctbal") - 5
          && col("value") <= col("c_acctbal") + 5)
        .agg(coalesce(sum(col("n_v") * col("m_a")), lit(0L)).as("n_pairs"),
          sum(col("s_eid") * col("m_a") + col("n_v") * col("s_ck"))
            .cast(org.apache.spark.sql.types.LongType).as("checksum"))
    }),

    // As-of join: for every purchase, the user's most recent STRICTLY
    // PRIOR click (ties within a microsecond broken by the larger
    // event_id — deterministic). Spark-first composition: instead of
    // a range join (quadratic blowup on hot keys) this is ONE shuffle
    // on user_id and a running struct-max over a range frame — the
    // classic scalable as-of shape; state per partition is a single
    // (ts, id) pair. Comparisons run at µs granularity on both
    // engines (DuckDB reads TIMESTAMP(NANOS) at µs).
    "q42_asof" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
      e.withColumn("pc",
          max(when(col("event_type") === "click",
            struct(col("us"), col("event_id")))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("pc.event_id").as("prior_click"))
        .orderBy("purchase_id")
    }),

    // Semi/anti joins: customers with orders (EXISTS) and without
    // (NOT EXISTS) — fused into ONE job: a single left join against
    // the distinct order keys, counted by match/no-match, instead of a
    // left_semi + left_anti pair that scans and shuffles both tables
    // twice for two scalar counts.
    "q37_semijoin" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .agg(
          count(when(col("o_custkey").isNotNull, 1)).as("with_orders"),
          count(when(col("o_custkey").isNull, 1)).as("without_orders"))
    }),

    // Relative-rank window surface — percent_rank and cume_dist next
    // to row_number/rank/dense_rank/ntile: both are one exact-integer
    // ratio evaluated as a single IEEE division ((r−1)/(m−1), peers/m
    // — bit-identical across engines from identical integer
    // operands). The window partitions by lang; the total order
    // (n_chars, doc_id) makes every rank — and the emitted doubles —
    // deterministic.
    "q167_pctrank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pct", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("doc_id")
    }),

    // Session profile — q33's sessions with the entry/exit columns a
    // web-analytics table needs: first/last event type per session
    // (first_value / unbounded-frame last_value over the per-user
    // total order), exact duration, event count. Same gaps-and-
    // islands shape; both window passes share the per-user partition,
    // so the whole profile is one shuffle.
    "q168_sessprofile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val marked = Tables.events(s, d)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("brk",
          when(lag(col("ts_ns"), 1).over(w).isNull
            || col("ts_ns") - lag(col("ts_ns"), 1).over(w) > expr("1800000000000"), 1)
            .otherwise(0))
        .withColumn("sid",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val ws = Window.partitionBy("user_id", "sid").orderBy("ts_ns", "event_id")
      marked
        .withColumn("entry", first(col("event_type")).over(ws))
        .withColumn("exit", last(col("event_type")).over(
          ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          timestamp_micros(expr("min(ts_ns) div 1000")).as("session_start"),
          expr("(max(ts_ns) - min(ts_ns)) div 1000").as("dur_us"),
          max(col("entry")).as("entry"), max(col("exit")).as("exit"))
        .drop("sid")
        .orderBy("user_id", "session_start")
    }),

    // NATIVE as-of join — graft's custom Catalyst operator
    // (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec, the full
    // option-(c) planner stack; see graft/plans/AsOfJoin.scala)
    // against DuckDB's native ASOF LEFT JOIN: most recent prior click
    // per purchase. The right side pre-aggregates to unique
    // (user, ts) rows so the as-of pick is deterministic on both
    // engines. Plan shape = a sort-merge equi-join's (one key
    // exchange + sort per side), but the operator streams with ONE
    // buffered row of state — no window-over-union, no per-row
    // lookback buffer.
    "q169_asof_native" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu"), col("ts_ns").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.plans.AsOf.join(purchases, clicks, "user_id", "cu", "ts_ns", "cts")
        .select(col("event_id").as("purchase_id"), col("click_id"))
        .orderBy("purchase_id")
    }),

    // FORWARD as-of — the other temporal direction (first following
    // event: "next click after each purchase", the post-action
    // attribution probe). Same custom operator in forward mode; same
    // plan shape; DuckDB expresses it by flipping the ASOF
    // inequality.
    "q170_asof_forward" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu"), col("ts_ns").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.plans.AsOf.join(purchases, clicks, "user_id", "cu", "ts_ns", "cts",
          forward = true)
        .select(col("event_id").as("purchase_id"), col("click_id"))
        .orderBy("purchase_id")
    }),

    // Recency enrichment — the native as-of COMPOSING with the rest
    // of the engine (an operator that only works standalone isn't an
    // operator): every event picks up the user's most recent prior
    // purchase, then a type-level rollup reports how much activity
    // happens in a purchase's shadow and the exact mean gap. The
    // as-of output streams straight into the partial-agg'd rollup —
    // no materialization between the custom exec and the aggregate.
    "q179_recency" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts_ns").as("pts")).distinct()
      graft.plans.AsOf.join(e, purchases, "user_id", "pu", "ts_ns", "pts")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("pts")).as("n_after_purchase"),
          sum(expr("(ts_ns - pts) div 1000")).as("sum_gap_us"))
        .select(col("event_type"), col("n"), col("n_after_purchase"),
          expr("case when n_after_purchase = 0 then null else sum_gap_us div n_after_purchase end")
            .as("mean_gap_us"))
        .orderBy("event_type")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q33_session" ->
      """WITH o AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END brk
           FROM events),
         s AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) sid
           FROM o)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "q34_sliding" ->
      """WITH x AS (
           SELECT ts, unnest(range(0, 2)) k FROM events),
         w AS (
           SELECT time_bucket(INTERVAL 5 MINUTE, ts) - k * INTERVAL 5 MINUTE AS w_start
           FROM x)
         SELECT w_start, count(*) AS n FROM w
         GROUP BY w_start ORDER BY w_start LIMIT 500""",
    "q35_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q36_setops" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type='click'),
            p AS (SELECT DISTINCT user_id FROM events WHERE event_type='purchase')
         SELECT (SELECT count(*) FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p))    AS click_only,
                (SELECT count(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)) AS both,
                (SELECT count(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p))     AS either""",
    "q38_kmv" ->
      """WITH h AS (
           SELECT DISTINCT event_type,
                  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) h
           FROM events),
         r AS (
           SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) rn,
                  count(*) OVER (PARTITION BY event_type) n
           FROM h)
         SELECT event_type, h AS h_k,
                7.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(h AS DOUBLE) AS est,
                n AS exact
         FROM r WHERE rn = 8
         ORDER BY event_type""",
    // HLL replay: registers from GROUP BY bucket / max(rho) over the
    // same distinct hash set; S is exact-integer (powers of two), the
    // estimate one double division — see the q102 builder note
    "q102_hll" ->
      """WITH h AS (
           SELECT DISTINCT event_type,
                  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) h
           FROM events),
         regs AS (
           SELECT event_type, h % 64 AS j,
                  max(CASE WHEN h // 64 = 0 THEN 55
                           ELSE 55 - length(bin(h // 64)) END) AS r
           FROM h GROUP BY event_type, j),
         s AS (
           SELECT event_type,
                  CAST(sum(CAST(1 AS BIGINT) << (55 - r)) +
                       (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS hll_s
           FROM regs GROUP BY event_type),
         ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact
                FROM h GROUP BY event_type)
         SELECT s.event_type, s.hll_s,
                0.709 * 4096.0 * CAST(36028797018963968 AS DOUBLE)
                  / CAST(s.hll_s AS DOUBLE) AS est,
                ex.exact
         FROM s JOIN ex USING (event_type)
         ORDER BY event_type""",
    // union-of-sketches ≡ sketch-of-union: the oracle computes the
    // TOTAL row DIRECTLY from the raw rows — matching Spark's merged
    // registers proves the algebra.
    "q229_hll_rollup" ->
      """WITH h AS (
           SELECT DISTINCT event_type,
                  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) h
           FROM events),
         regs AS (
           SELECT event_type, h % 64 AS j,
                  max(CASE WHEN h // 64 = 0 THEN 55
                           ELSE 55 - length(bin(h // 64)) END) AS r
           FROM h GROUP BY event_type, j),
         s AS (
           SELECT event_type AS scope,
                  CAST(sum(CAST(1 AS BIGINT) << (55 - r)) +
                       (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS hll_s
           FROM regs GROUP BY event_type),
         tregs AS (
           SELECT h % 64 AS j,
                  max(CASE WHEN h // 64 = 0 THEN 55
                           ELSE 55 - length(bin(h // 64)) END) AS r
           FROM (SELECT DISTINCT h FROM h) GROUP BY j),
         ts AS (
           SELECT 'TOTAL' AS scope,
                  CAST(sum(CAST(1 AS BIGINT) << (55 - r)) +
                       (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS hll_s
           FROM tregs)
         SELECT * FROM s UNION ALL SELECT * FROM ts ORDER BY scope""",
    "q43_range" ->
      """SELECT count(*) AS n_pairs,
                CAST(sum(e.event_id + c.c_custkey) AS BIGINT) AS checksum
         FROM events e JOIN customer c
           ON e.value >= c.c_acctbal - 5 AND e.value <= c.c_acctbal + 5""",
    "q42_asof" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_us(ts) us, event_type
           FROM events WHERE event_type IN ('click', 'purchase'))
         SELECT p.event_id AS purchase_id,
                (SELECT c.event_id FROM e c
                  WHERE c.user_id = p.user_id AND c.event_type = 'click'
                    AND c.us < p.us
                  ORDER BY c.us DESC, c.event_id DESC LIMIT 1) AS prior_click
         FROM e p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id""",
    "q37_semijoin" ->
      """SELECT (SELECT count(*) FROM customer WHERE EXISTS
                   (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS with_orders,
                (SELECT count(*) FROM customer WHERE NOT EXISTS
                   (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS without_orders""",
    // identical integer rank operands → identical IEEE ratios.
    "q167_pctrank" ->
      """SELECT doc_id, lang, n_chars,
                percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) pct,
                cume_dist() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) cd
         FROM documents ORDER BY doc_id""",
    // q33's gaps-and-islands plus entry/exit first/last values.
    "q168_sessprofile" ->
      """WITH o AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) us,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END brk
           FROM events),
         s AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) sid
           FROM o),
         x AS (
           SELECT *,
                  first_value(event_type) OVER (PARTITION BY user_id, sid ORDER BY us, event_id) entry,
                  last_value(event_type) OVER (PARTITION BY user_id, sid ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) exit
           FROM s)
         SELECT user_id, count(*) n_events,
                make_timestamp(min(us)) AS session_start,
                max(us) - min(us) AS dur_us,
                max(entry) AS entry, max(exit) AS exit
         FROM x GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    // DuckDB's NATIVE ASOF LEFT JOIN vs graft's native operator.
    "q169_asof_native" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) us
                    FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id cu, epoch_us(ts) cts, max(event_id) click_id
               FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id AS purchase_id, c.click_id
         FROM p ASOF LEFT JOIN c ON p.user_id = c.cu AND p.us >= c.cts
         ORDER BY purchase_id""",
    // flipped inequality = nearest FOLLOWING row.
    "q170_asof_forward" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) us
                    FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id cu, epoch_us(ts) cts, max(event_id) click_id
               FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id AS purchase_id, c.click_id
         FROM p ASOF LEFT JOIN c ON p.user_id = c.cu AND p.us <= c.cts
         ORDER BY purchase_id""",
    // ASOF enrich → type rollup; exact integer mean gap.
    "q179_recency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) us FROM events),
         p AS (SELECT DISTINCT user_id pu, epoch_us(ts) pts
               FROM events WHERE event_type = 'purchase'),
         j AS (SELECT e.event_type, e.us, p.pts
               FROM e ASOF LEFT JOIN p ON e.user_id = p.pu AND e.us >= p.pts)
         SELECT event_type, count(*) n, count(pts) n_after_purchase,
                CASE WHEN count(pts) = 0 THEN NULL
                     ELSE CAST(sum(us - pts) AS BIGINT) // count(pts) END AS mean_gap_us
         FROM j GROUP BY 1 ORDER BY event_type"""
  )
}
