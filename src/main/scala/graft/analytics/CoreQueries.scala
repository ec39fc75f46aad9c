package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The §2 operator library over the driver testdata tables — each entry
  * is a `(SparkSession, sfDir) => DataFrame` paired (in `oracles`) with
  * ANSI SQL the driver runs in DuckDB on the same parquet.
  *
  * Reference analogs cited per query (files under /root/reference/).
  * Aliases in the Spark plan and the SQL are kept byte-identical (the
  * driver's compare sorts columns by name). Doubles are rounded on both
  * sides — Spark's partial aggregation sums floats in shuffle order, so
  * exact low-bit equality with a single-threaded oracle is not a sound
  * contract; 4-decimal rounding is.
  */
object CoreQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  private def gapMs(a: Column, b: Column): Column = { // b - a in millis
    // testdata parquet timestamps surface as TIMESTAMP_NTZ in Spark 4;
    // session TZ is pinned UTC so the LTZ cast is value-preserving.
    def ms(c: Column) = unix_millis(c.cast("timestamp"))
    (ms(b) - ms(a)).cast("double")
  }

  /** One scratch rollup dir PER sfDir ([[graft.FsUtil.scratchDir]],
    * reclaimed at JVM exit), reused across invocations — a fresh dir per
    * call would leak RAM-backed tmpfs in a long-lived session. Reuse is
    * correct because AdditiveRollup's epoch ledger makes the replayed
    * epochs no-ops: repeated q34 calls read the same committed state.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def scratchDirFor(key: String): String =
    scratchDirs.computeIfAbsent(key, _ => graft.FsUtil.scratchDir("q34"))

  val queries: Map[String, Q] = Map(
    // A1/A4: grouped multi-aggregate (reference: messages-per-bucket
    // queries, convoetl/analytics/sqlite/queries.py:54–87).
    "q01_pricing_summary" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n"))),

    // O1/S5: pushed filter + top-k (queries.py:45–47; TakeOrderedAndProject).
    "q02_recent_topk" -> ((s, d) => events(s, d)
      .filter(col("event_type") === "purchase")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(50)
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value"), 4).as("value"))),

    // J1/J2: dim⋈fact equi-join, broadcast dim (queries.py:173–176).
    "q03_join_segments" -> ((s, d) => orders(s, d)
      .join(broadcast(customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))),

    // J4: anti-join / new-work detection (message_analytics_saver.py:207–217).
    "q04_anti_join" -> ((s, d) => customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_no_urgent"))),

    // J5: semi-join (message_analytics_saver.py:220–229).
    "q05_semi_join" -> ((s, d) => orders(s, d)
      .join(lineitem(s, d).filter(col("l_quantity") > 45),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))),

    // J3: self-join with equi key + residual time predicate — the reply
    // response-dynamics join (queries.py:347–358).
    "q06_selfjoin_pairs" -> ((s, d) => {
      val e1 = events(s, d).select(
        col("event_id").as("id1"), col("ts").as("ts1"),
        col("event_type").as("type1"))
      val e2 = events(s, d).select(
        col("event_id").as("id2"), col("ts").as("ts2"))
      e1.join(e2, col("id2") === col("id1") + 1)
        .filter(col("ts2") >= col("ts1") &&
          gapMs(col("ts1"), col("ts2")) < lit(86400000.0))
        .groupBy(col("type1"))
        .agg(count(lit(1)).as("pairs"),
          round(avg(gapMs(col("ts1"), col("ts2")) / 1000.0), 4).as("avg_gap_s"))
    }),

    // A5/A6/J6: manual-STDDEV burst detection, scalar-agg cross join
    // (queries.py:122–153 — SQLite lacks stddev; Spark has stddev_pop).
    "q07_burst_hours" -> ((s, d) => {
      val h = events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val stats = h.agg(avg(col("cnt")).as("a"), stddev_pop(col("cnt")).as("sd"))
      h.crossJoin(broadcast(stats))
        .filter(col("cnt") > col("a") + lit(2) * col("sd"))
        .select(col("hr"), col("cnt"))
        .orderBy(col("cnt").desc, col("hr"))
        .limit(10)
    }),

    // A1/A10/W4: hourly histogram + percentage-of-total window
    // (queries.py:54–63; SUM(COUNT(*)) OVER()).
    "q08_hourly_histogram" -> ((s, d) => events(s, d)
      .groupBy(hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pct",
        round(col("cnt") * 100.0 / sum(col("cnt")).over(Window.partitionBy()), 4))),

    // §2.8 day-of-week normalization: SQLite %w is 0=Sunday, Spark
    // dayofweek is 1=Sunday (SURVEY §7.4 off-by-one trap).
    "q09_dow_histogram" -> ((s, d) => events(s, d)
      .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("cnt"), round(avg(col("value")), 4).as("avg_value"))),

    // W2: weekly counts + WoW growth via LAG (queries.py:318–338).
    "q10_weekly_growth" -> ((s, d) => {
      val w = events(s, d)
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("cnt"))
      val win = Window.orderBy(col("week"))
      w.withColumn("growth_pct",
        round((col("cnt") - lag(col("cnt"), 1).over(win)) * 100.0 /
          nullif(lag(col("cnt"), 1).over(win), lit(0)), 4))
    }),

    // W3/P6: percent_rank engagement tiers (queries.py:186–209).
    // Scale note (q11/q12): Window.orderBy with no partition funnels the
    // post-aggregate per-user counts through ONE task — fine here because
    // the reference semantics demand a single global rank over an
    // already-reduced set, but at 10^9 users swap the exact rank for
    // approx_percentile(cnt, thresholds) cutoffs and a broadcast-joined
    // tier lookup (same tiers, no single-partition sort).
    "q11_user_tiers" -> ((s, d) => {
      val u = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val r = u.withColumn("pr", percent_rank().over(Window.orderBy(col("cnt"))))
      r.withColumn("tier",
          when(col("pr") >= 0.9, "power_user")
            .when(col("pr") >= 0.7, "active")
            .when(col("pr") >= 0.4, "regular")
            .when(col("pr") >= 0.1, "occasional")
            .otherwise("lurker"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("users"), round(avg(col("cnt")), 4).as("avg_events"))
    }),

    // The 10^9-user variant of the q11 tier ladder: percentile THRESHOLDS
    // (one scalar-row aggregate, broadcast back) instead of a global-rank
    // window — no single-partition sort of all users. `percentile` is the
    // exact aggregate so the DuckDB quantile_cont oracle matches
    // bit-for-bit; at true 10^9 scale swap in approx_percentile
    // (one line, same plan shape).
    "q35_user_tiers_scalable" -> ((s, d) => {
      val u = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val th = u.agg(
        expr("percentile(cnt, 0.9)").as("p90"),
        expr("percentile(cnt, 0.7)").as("p70"),
        expr("percentile(cnt, 0.4)").as("p40"),
        expr("percentile(cnt, 0.1)").as("p10"))
      u.crossJoin(broadcast(th))
        .withColumn("tier",
          when(col("cnt") >= col("p90"), "power_user")
            .when(col("cnt") >= col("p70"), "active")
            .when(col("cnt") >= col("p40"), "regular")
            .when(col("cnt") >= col("p10"), "occasional")
            .otherwise("lurker"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("users"), round(avg(col("cnt")), 4).as("avg_events"))
    }),

    // W5: NTILE quintiles (chat_analytics_strategy.md:276–299); unique
    // tie-break (cnt, user_id) keeps bucket assignment deterministic.
    "q12_ntile_quintiles" -> ((s, d) => {
      val u = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      u.withColumn("q", ntile(5).over(Window.orderBy(col("cnt"), col("user_id"))).cast("long"))
        .groupBy(col("q"))
        .agg(count(lit(1)).as("users"), min(col("cnt")).as("min_cnt"),
          max(col("cnt")).as("max_cnt"))
    }),

    // W1: LAG(ts) per user → inter-event gap (queries.py:41–42).
    "q13_response_gaps" -> ((s, d) => {
      val win = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("gap_s", gapMs(lag(col("ts"), 1).over(win), col("ts")) / 1000.0)
        .filter(col("gap_s").isNotNull)
        .groupBy(col("user_id"))
        .agg(round(avg(col("gap_s")) / 60.0, 4).as("avg_gap_min"),
          count(lit(1)).as("n_gaps"))
    }),

    // A3/A8: daily snapshot — count + exact distinct (db/chat_daily.py:77–110).
    "q14_daily_active" -> ((s, d) => events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("active_users"))),

    // A7: multi-metric health rollup incl. fractional-day duration —
    // the julianday() analog (queries.py:278–312).
    "q15_type_health" -> ((s, d) => events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"),
        round(avg(col("value")), 4).as("avg_value"),
        round(gapMs(min(col("ts")), max(col("ts"))) / 86400000.0, 4).as("span_days"))),

    // A10 variant: percentage-of-total by event type (queries.py:93–104).
    "q20_pct_by_type" -> ((s, d) => events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pct",
        round(col("cnt") * 100.0 / sum(col("cnt")).over(Window.partitionBy()), 4))),

    // U2: set difference — the feed-vs-table reconciliation diff
    // (workflow_suggestions.md:236–247 `telegram_ids - existing_ids`).
    "q21_except_users" -> ((s, d) => {
      val feedIds = events(s, d).select(col("user_id")).distinct()
      val tableIds = orders(s, d).select(col("o_custkey").as("user_id")).distinct()
      feedIds.except(tableIds)
    }),

    // U1: UNION ALL of labeled slices (generic_analytics.md:187–204).
    "q22_union_slices" -> ((s, d) => {
      val e = events(s, d)
      val hi = e.filter(col("value") >= 90).select(lit("high").as("slice"), col("value"))
      val lo = e.filter(col("value") < 10).select(lit("low").as("slice"), col("value"))
      hi.unionByName(lo).groupBy(col("slice"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
    }),

    // Explicit-frame running total (extension of W-family).
    "q23_running_total" -> ((s, d) => {
      val win = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d).select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(win), 4).as("running_value"))
    }),

    // S12: watermark probe — MAX(id) (loaders/sqlite.py:238–256).
    "q24_watermark" -> ((s, d) => events(s, d)
      .agg(max(col("event_id")).as("watermark"), count(lit(1)).as("total"))),

    // S13: statistics probe (loaders/sqlite.py:372–406).
    "q25_stats_probe" -> ((s, d) => events(s, d)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))),

    // W6: THE engine operator — last-writer-wins collapse per key,
    // implemented the engine's sort-free way: primitive-buffer lww_seq
    // HashAggregate on narrow columns, payload joined back on the unique
    // (user_id, event_id) winner key. (`max_by(payload, struct)` carries
    // a struct buffer ⇒ SortAggregate over ALL events — the measured-10×
    // trap the merge path avoids; this query now shares its plan shape.)
    // Oracled by the SQL row_number window (SURVEY §2.5 W6).
    "q26_lww_latest" -> ((s, d) => {
      val e = events(s, d)
      val w = e.groupBy(col("user_id"))
        .agg(graft.plans.LwwFunctions.lww_seq(s, col("ts"), col("event_id"))
          .as("event_id"))
      e.select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .join(w, Seq("user_id", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"))
    }),

    // A9: incremental user-stats merge — two half-batches partially
    // aggregated then merged additively (min/min, max/max, sum), proving
    // the ON CONFLICT DO UPDATE merge algebra (loaders/sqlite.py:205–236).
    "q27_user_stats_merge" -> ((s, d) => {
      val e = events(s, d)
      def part(df: DataFrame) = df.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"),
        count(lit(1)).as("total_events"))
      val half1 = part(e.filter(col("event_id") % 2 === 0))
      val half2 = part(e.filter(col("event_id") % 2 =!= 0))
      half1.unionByName(half2)
        .groupBy(col("user_id"))
        .agg(min(col("first_seen")).as("first_seen"),
          max(col("last_seen")).as("last_seen"),
          sum(col("total_events")).as("total_events"))
    }),

    // S7 through the ENGINE path: the maintained additive-merge stats
    // table (reference `_update_user_stats`, loaders/sqlite.py:205–236)
    // — two epochs folded through AdditiveRollup's epoch-idempotent
    // sink (including a redelivered epoch that must no-op), then read
    // back; must equal the from-scratch aggregate the oracle computes.
    "q34_user_rollup" -> ((s, d) => {
      import graft.operators.AdditiveRollup
      val dir = scratchDirFor(d)
      val e = events(s, d)
      def delta(df: DataFrame) = df.groupBy(col("user_id")).agg(
        min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"),
        count(lit(1)).as("total_events"), sum(col("value")).as("sum_value"))
      val combine = Seq(
        "first_seen" -> AdditiveRollup.minOf, "last_seen" -> AdditiveRollup.maxOf,
        "total_events" -> AdditiveRollup.add, "sum_value" -> AdditiveRollup.addD)
      AdditiveRollup.upsert(s, dir, delta(e.filter(col("event_id") % 2 === 0)),
        Seq("user_id"), 0L, combine)
      AdditiveRollup.upsert(s, dir, delta(e.filter(col("event_id") % 2 =!= 0)),
        Seq("user_id"), 1L, combine)
      // at-least-once redelivery of epoch 1: ledger makes it a no-op
      AdditiveRollup.upsert(s, dir, delta(e.filter(col("event_id") % 2 =!= 0)),
        Seq("user_id"), 1L, combine)
      // return the engine's DataFrame directly — no driver-side collect
      // (a 10^9-key rollup must stream from the state parquet, not
      // through the driver). The session-scoped scratch dir stays until
      // JVM exit so the lazy read works for any later action.
      AdditiveRollup.read(s, dir).select(col("user_id"),
        col("first_seen"), col("last_seen"), col("total_events"),
        round(col("sum_value"), 4).as("sum_value"))
    }),

    // P7: NULLIF/COALESCE guards (queries.py:308–310; sqlite.py:226–227).
    "q28_null_guards" -> ((s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_extendedprice")) /
        nullif(sum(col("l_quantity")), lit(0.0)), 4).as("price_per_qty"),
        coalesce(max(col("l_tax")), lit(0.0)).as("max_tax"))),

    // §1.2 JSON-in-text: the reference stores JSON strings in TEXT
    // columns (db/stats.py:31,44–46); extract typed values.
    "q29_json_extract" -> ((s, d) => events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))),

    // §2.8 julianday-style fractional-day spans per user (queries.py:292).
    "q30_user_spans" -> ((s, d) => events(s, d)
      .groupBy(col("user_id"))
      .agg(round(gapMs(min(col("ts")), max(col("ts"))) / 86400000.0, 4).as("span_days"),
        count(lit(1)).as("n"))),

    // A3 at scale: HLL sketch distinct (SURVEY: "approx_count_distinct at
    // 10^10 scale, exact variant in tests"). The raw sketch value is
    // engine-specific, so the query emits the exact count plus an
    // engine-computed within-5% bound check instead — DuckDB recomputes
    // exact and expects TRUE, making the HLL path fully oracle-checked
    // (rsd=0.02 keeps the 5% gate comfortably clear of the estimator's
    // own noise).
    "q31_hll_distinct" -> ((s, d) => events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * 0.05).as("within_5pct"))),

    // J2: LEFT outer dim⋈fact + aggregate, zero-match rows retained
    // (queries.py:293–296 chats LEFT JOIN messages).
    "q32_left_join" -> ((s, d) => customer(s, d)
      .join(orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_f_orders"),
        count(lit(1)).as("n_rows"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total"))),

    // Batch sessionization: lag-gap flag + running sum = session number,
    // then per-session rollup — the batch analog of the streaming
    // flatMapGroupsWithState sessionizer (streaming.Sessionize); the
    // reference's per-user response-gap window made stateful
    // (queries.py:41–42 LAG OVER PARTITION BY user_id).
    "q33_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val isNew = when(lag(col("ts"), 1).over(w).isNull
          .or(gapMs(lag(col("ts"), 1).over(w), col("ts")) > 1800000.0), 1L)
        .otherwise(0L)
      events(s, d)
        .withColumn("session_no", sum(isNew).over(w))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          // integer millis, not rounded minutes: a /60000-then-round(4)
          // value can land on a .00005 tie that Spark (HALF_UP) and
          // DuckDB (half-even) round apart
          gapMs(min(col("ts")), max(col("ts"))).cast("long").as("span_ms"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | round(avg(l_quantity),4) AS avg_qty, count(*) AS n
        |FROM lineitem GROUP BY 1,2""".stripMargin,
    "q02_recent_topk" ->
      """SELECT event_id, user_id, ts, round(value,4) AS value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin,
    "q03_join_segments" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_no_urgent FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,
    "q05_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY 1""".stripMargin,
    "q06_selfjoin_pairs" ->
      """SELECT e1.event_type AS type1, count(*) AS pairs,
        | round(avg(date_diff('millisecond', e1.ts, e2.ts)/1000.0),4) AS avg_gap_s
        |FROM events e1 JOIN events e2 ON e2.event_id = e1.event_id + 1
        |WHERE e2.ts >= e1.ts AND date_diff('millisecond', e1.ts, e2.ts) < 86400000
        |GROUP BY 1""".stripMargin,
    "q07_burst_hours" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |s AS (SELECT avg(cnt) AS a, stddev_pop(cnt) AS sd FROM h)
        |SELECT hr, cnt FROM h, s WHERE cnt > a + 2*sd
        |ORDER BY cnt DESC, hr LIMIT 10""".stripMargin,
    "q08_hourly_histogram" ->
      """SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
        | count(*) AS cnt,
        | round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct
        |FROM events GROUP BY 1""".stripMargin,
    "q09_dow_histogram" ->
      """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, count(*) AS cnt,
        | round(avg(value),4) AS avg_value
        |FROM events GROUP BY 1""".stripMargin,
    "q10_weekly_growth" ->
      """WITH w AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  count(*) AS cnt FROM events GROUP BY 1)
        |SELECT week, cnt,
        | round((cnt - lag(cnt) OVER (ORDER BY week)) * 100.0
        |   / nullif(lag(cnt) OVER (ORDER BY week), 0), 4) AS growth_pct
        |FROM w""".stripMargin,
    "q11_user_tiers" ->
      """WITH u AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |r AS (SELECT cnt, percent_rank() OVER (ORDER BY cnt) AS pr FROM u)
        |SELECT CASE WHEN pr >= 0.9 THEN 'power_user'
        |  WHEN pr >= 0.7 THEN 'active' WHEN pr >= 0.4 THEN 'regular'
        |  WHEN pr >= 0.1 THEN 'occasional' ELSE 'lurker' END AS tier,
        | count(*) AS users, round(avg(cnt),4) AS avg_events
        |FROM r GROUP BY 1""".stripMargin,
    "q12_ntile_quintiles" ->
      """WITH u AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT q, count(*) AS users, min(cnt) AS min_cnt, max(cnt) AS max_cnt
        |FROM (SELECT cnt,
        |  CAST(ntile(5) OVER (ORDER BY cnt, user_id) AS BIGINT) AS q FROM u)
        |GROUP BY 1""".stripMargin,
    "q13_response_gaps" ->
      """WITH g AS (SELECT user_id,
        |  date_diff('millisecond',
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)/1000.0 AS gap_s
        | FROM events)
        |SELECT user_id, round(avg(gap_s)/60.0, 4) AS avg_gap_min,
        | count(*) AS n_gaps
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1""".stripMargin,
    "q14_daily_active" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        | count(DISTINCT user_id) AS active_users
        |FROM events GROUP BY 1""".stripMargin,
    "q15_type_health" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
        | round(avg(value),4) AS avg_value,
        | round(date_diff('millisecond', min(ts), max(ts))/86400000.0, 4) AS span_days
        |FROM events GROUP BY 1""".stripMargin,
    "q20_pct_by_type" ->
      """SELECT event_type, count(*) AS cnt,
        | round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct
        |FROM events GROUP BY 1""".stripMargin,
    "q21_except_users" ->
      """SELECT DISTINCT user_id FROM events
        |EXCEPT
        |SELECT DISTINCT o_custkey AS user_id FROM orders""".stripMargin,
    "q22_union_slices" ->
      """SELECT slice, count(*) AS n, round(avg(value),4) AS avg_value FROM (
        |  SELECT 'high' AS slice, value FROM events WHERE value >= 90
        |  UNION ALL
        |  SELECT 'low' AS slice, value FROM events WHERE value < 10
        |) GROUP BY 1""".stripMargin,
    "q23_running_total" ->
      """SELECT event_id, user_id,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events""".stripMargin,
    "q24_watermark" ->
      "SELECT max(event_id) AS watermark, count(*) AS total FROM events",
    "q25_stats_probe" ->
      """SELECT count(*) AS n, count(DISTINCT user_id) AS n_users,
        | min(ts) AS first_ts, max(ts) AS last_ts FROM events""".stripMargin,
    "q26_lww_latest" ->
      """SELECT user_id, event_id, event_type, round(value,4) AS value FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id
        |   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q27_user_stats_merge" ->
      """SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
        | count(*) AS total_events
        |FROM events GROUP BY 1""".stripMargin,
    "q34_user_rollup" ->
      """SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
        | count(*) AS total_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q35_user_tiers_scalable" ->
      """WITH u AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |th AS (SELECT quantile_cont(cnt, 0.9) AS p90, quantile_cont(cnt, 0.7) AS p70,
        |  quantile_cont(cnt, 0.4) AS p40, quantile_cont(cnt, 0.1) AS p10 FROM u)
        |SELECT CASE WHEN cnt >= p90 THEN 'power_user'
        |  WHEN cnt >= p70 THEN 'active'
        |  WHEN cnt >= p40 THEN 'regular'
        |  WHEN cnt >= p10 THEN 'occasional' ELSE 'lurker' END AS tier,
        | count(*) AS users, round(avg(cnt), 4) AS avg_events
        |FROM u, th GROUP BY 1""".stripMargin,
    "q28_null_guards" ->
      """SELECT l_returnflag,
        | round(sum(l_extendedprice) / nullif(sum(l_quantity), 0), 4) AS price_per_qty,
        | coalesce(max(l_tax), 0.0) AS max_tax
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q29_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q30_user_spans" ->
      """SELECT user_id,
        | round(date_diff('millisecond', min(ts), max(ts))/86400000.0, 4) AS span_days,
        | count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q31_hll_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | TRUE AS within_5pct
        |FROM events GROUP BY 1""".stripMargin,
    "q32_left_join" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_f_orders,
        | count(*) AS n_rows,
        | round(coalesce(sum(o_totalprice), 0.0), 2) AS total
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
        |  ON c_custkey = o.o_custkey
        |GROUP BY 1""".stripMargin,
    "q33_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('millisecond', lag(ts) OVER w, ts) > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM g
        |)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  date_diff('millisecond', min(ts), max(ts)) AS span_ms
        |FROM s GROUP BY 1,2""".stripMargin
  )
}
