package graft.rel

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.F window functions, §2.G sorts/limits/top-k, §2.H set ops.
  *
  * Every window partitions by a key that distributes at scale (customer,
  * user, segment) — no global (unpartitioned) windows anywhere. Top-k uses
  * orderBy.limit which Spark fuses into TakeOrderedAndProjectExec (no total
  * sort materialization).
  */
object Windows {

  val defs: Seq[QueryDef] = Seq(
    // F1 — rank/dense_rank/row_number: top-3 orders per customer.
    QueryDef(
      "window_rank",
      Some(
        s"SELECT o_custkey, o_orderkey, CAST(o_totalprice AS ${Q.D4})::DOUBLE AS price, " +
          "CAST(rank() OVER w AS BIGINT) AS rnk, CAST(dense_rank() OVER w AS BIGINT) AS drnk, " +
          "CAST(row_number() OVER w AS BIGINT) AS rn FROM orders " +
          "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
          "QUALIFY rn <= 3 ORDER BY o_custkey, rn"),
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        // Full sort elision (the range-window pattern): rn is
        // row_number over (price desc, orderkey), so ORDER BY (custkey, rn)
        // is row-identical to ORDER BY (custkey, price desc, orderkey) —
        // the window's own sort. Expressing the presentation sort in those
        // ATTRIBUTES (Catalyst cannot see through rn) on a range-partitioned
        // window stage elides both the final SortExec and its exchange.
        Tables.t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(col("o_custkey"))
          .select(col("o_custkey"), col("o_orderkey"), Q.out4(col("o_totalprice")).as("price"),
            col("o_totalprice"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"),
            row_number().over(w).cast("long").as("rn"))
          .where(col("rn") <= 3)
          .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
          .drop("o_totalprice")
      }),

    // F2 — lag/lead/first/last over per-user event sequences.
    QueryDef(
      "window_analytic",
      Some(
        "SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value, " +
          "lag(value, 1) OVER w AS prev_val, lead(event_type, 1) OVER w AS next_type, " +
          "first_value(event_type) OVER w AS first_type, last_value(event_type) OVER w AS latest_type " +
          "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
          "ORDER BY user_id, event_id"),
      (s, d) => {
        val wBase = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val w = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // Range-partition into the window: the presentation sort's
        // inner key (event_id) differs from the window order (ts, event_id)
        // so a per-partition SortExec remains, but RangePartitioning(user_id)
        // prefix-satisfies its OrderedDistribution — the full-output range
        // EXCHANGE is elided.
        Tables.events(s, d)
          .repartitionByRange(col("user_id"))
          .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"),
            lag(col("value"), 1).over(wBase).as("prev_val"),
            lead(col("event_type"), 1).over(wBase).as("next_type"),
            first(col("event_type")).over(w).as("first_type"),
            last(col("event_type")).over(w).as("latest_type"))
          .orderBy("user_id", "event_id")
      }),

    // F3 — moving sum over ROWS BETWEEN 2 PRECEDING AND CURRENT ROW.
    QueryDef(
      "window_frame_rows",
      Some(
        "SELECT user_id, event_id, " +
          s"CAST(sum(CAST(value AS ${Q.D4})) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          s"ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ${Q.D6})::DOUBLE AS mov_sum " +
          "FROM events ORDER BY user_id, event_id"),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        // same exchange elision as window_analytic
        Tables.events(s, d)
          .repartitionByRange(col("user_id"))
          .select(col("user_id"), col("event_id"),
            Q.out6(sum(Q.dec4(col("value"))).over(w)).as("mov_sum"))
          .orderBy("user_id", "event_id")
      }),

    // F4 — running revenue per customer, RANGE frame over the date (peers
    // with the same order date share the running value in both engines).
    QueryDef(
      "window_frame_range",
      Some(
        "SELECT o_custkey, o_orderkey, o_orderdate, " +
          s"CAST(sum(CAST(o_totalprice AS ${Q.D4})) OVER (PARTITION BY o_custkey ORDER BY o_orderdate " +
          s"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ${Q.D6})::DOUBLE AS running " +
          "FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"),
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        // same exchange elision as window_analytic: the o_orderkey
        // tie-break keeps a local SortExec, the range exchange goes
        Tables.t(s, d, "orders")
          .repartitionByRange(col("o_custkey"))
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            Q.out6(sum(Q.dec4(col("o_totalprice"))).over(w)).as("running"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      }),

    // F5 — ntile / cume_dist / percent_rank per market segment.
    QueryDef(
      "window_ntile_cumedist",
      Some(
        s"SELECT c_mktsegment, c_custkey, CAST(c_acctbal AS ${Q.D4})::DOUBLE AS bal, " +
          "CAST(ntile(4) OVER w AS BIGINT) AS quartile, " +
          "round(cume_dist() OVER w, 6) AS cd, round(percent_rank() OVER w, 6) AS pr " +
          "FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) " +
          "ORDER BY c_mktsegment, c_custkey"),
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
        Tables.t(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"), Q.out4(col("c_acctbal")).as("bal"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(cume_dist().over(w), 6).as("cd"),
            round(percent_rank().over(w), 6).as("pr"))
          .orderBy("c_mktsegment", "c_custkey")
      }),

    // F6 — batch sessionization (gap > 30 min starts a new session): the
    // batch analog of the streaming session window, composed from two
    // per-user windows — lag() marks session starts, a running sum numbers
    // them. Partitions by user_id, so sessions build independently per key
    // at any scale (the classic sessionization shape).
    QueryDef(
      "sessionize_events",
      Some(
        "SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events, " +
          "CAST(min(epoch_ms(ts)) AS BIGINT) AS start_ms, CAST(max(epoch_ms(ts)) AS BIGINT) AS end_ms FROM (" +
          "SELECT user_id, ts, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM (" +
          "SELECT user_id, event_id, ts, CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts), 1, epoch_ms(ts) - 1800001) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000 THEN 1 ELSE 0 END AS is_new " +
          "FROM events)) GROUP BY user_id, session_id ORDER BY user_id, session_id"),
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("ts_ms"))
          .withColumn("is_new",
            when(col("ts_ms") - lag(col("ts_ms"), 1, null).over(wOrd) > 1800000L, 1)
              .when(lag(col("ts_ms"), 1, null).over(wOrd).isNull, 1)
              .otherwise(0))
          .withColumn("session_id", sum(col("is_new")).over(wRun))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_ms")).as("start_ms"),
            max(col("ts_ms")).as("end_ms"))
          .orderBy("user_id", "session_id")
      }),

    // F6b — ENGINE-NATIVE session windows: the built-in session_window()
    // twin of the manual gaps-and-islands sessionize above. The engine
    // merges per-key windows [ts, ts+gap) that overlap, so a session ends
    // when a full gap elapses (an event at exactly prev+gap starts a NEW
    // session — the oracle mirrors that with >= on the break test, one of
    // the two places the built-in and the manual formulation differ; the
    // other is the end bound, last_ts + gap instead of last_ts). One
    // user-keyed exchange, then per-partition window merge — same shuffle
    // shape as the manual version but no window-function pass.
    QueryDef(
      "window_session_builtin",
      Some(
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
          "CAST(min(ts_ms) AS BIGINT) AS session_start_ms, " +
          "CAST(max(ts_ms) + 1800000 AS BIGINT) AS session_end_ms, " +
          s"CAST(CAST(sum(CAST(value AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_value FROM (" +
          "SELECT user_id, ts_ms, value, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM (" +
          "SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value, " +
          "CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts), 1, epoch_ms(ts) - 1800001) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000 THEN 1 ELSE 0 END AS brk " +
          "FROM events)) GROUP BY user_id, sid ORDER BY user_id, session_start_ms"),
      (s, d) => {
        Tables.events(s, d)
          .groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            Q.out6(sum(Q.dec4(col("value")))).as("sum_value"))
          .select(col("user_id"), col("n_events"),
            expr("unix_millis(session_window.start)").as("session_start_ms"),
            expr("unix_millis(session_window.end)").as("session_end_ms"),
            col("sum_value"))
          .orderBy("user_id", "session_start_ms")
      }),

    // F6c — DYNAMIC-GAP session windows: the gap is a per-event COLUMN
    // (10/20/30 min by event-id class — e.g. page views time out faster
    // than checkouts). Merging semantics differ from the fixed-gap case:
    // each event proposes [ts, ts+gap(event)) and a session's end is the
    // RUNNING MAX of proposed ends, so a long-gap event keeps the session
    // alive past later short-gap ones. The oracle mirrors exactly that
    // with a cumulative-max window: break when ts >= max over all previous
    // proposed ends.
    QueryDef(
      "window_session_dynamic_gap",
      Some(
        "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value, " +
          "600000 * (1 + event_id % 3) AS gap_ms FROM events), " +
          "m AS (SELECT *, CASE WHEN max(ts_ms + gap_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
          "OR ts_ms >= max(ts_ms + gap_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS brk FROM e), " +
          "s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM m) " +
          "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
          "CAST(min(ts_ms) AS BIGINT) AS session_start_ms, " +
          "CAST(max(ts_ms + gap_ms) AS BIGINT) AS session_end_ms, " +
          s"CAST(CAST(sum(CAST(value AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_value " +
          "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_ms"),
      (s, d) => {
        Tables.events(s, d)
          .withColumn("gap_s", (lit(600) * (lit(1) + pmod(col("event_id"), lit(3)))).cast("int"))
          .groupBy(col("user_id"),
            session_window(col("ts_ts"), concat(col("gap_s").cast("string"), lit(" seconds"))))
          .agg(count(lit(1)).as("n_events"),
            Q.out6(sum(Q.dec4(col("value")))).as("sum_value"))
          .select(col("user_id"), col("n_events"),
            expr("unix_millis(session_window.start)").as("session_start_ms"),
            expr("unix_millis(session_window.end)").as("session_end_ms"),
            col("sum_value"))
          .orderBy("user_id", "session_start_ms")
      }),

    // F7 — time-series resample + forward fill: each user's events snap to
    // a 1-hour grid (last observation per bucket wins, keyed by
    // ts_ms·10⁶+event_id so both engines break ties identically), gaps
    // carry the previous value forward via last(...ignoreNulls) — the
    // standard LOCF resample. Grid generation and both windows partition
    // by user_id, so the operator scales with the key space.
    QueryDef(
      "resample_ffill",
      Some(
        "WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value, " +
          "epoch_ms(ts) // 3600000 AS bucket FROM events), " +
          "pb AS (SELECT user_id, bucket, arg_max(value, ts_ms * 1000000 + event_id) AS obs, " +
          "CAST(count(*) AS BIGINT) AS n_obs FROM ev GROUP BY 1, 2), " +
          "grid AS (SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket " +
          "FROM ev GROUP BY user_id) " +
          "SELECT g.user_id AS user_id, CAST(g.bucket * 3600000 AS BIGINT) AS bucket_ms, " +
          "last_value(pb.obs IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.bucket " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value, " +
          "CAST(coalesce(pb.n_obs, 0) AS BIGINT) AS n_obs " +
          "FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.bucket = pb.bucket " +
          "ORDER BY user_id, bucket_ms"),
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
          .withColumn("bucket", expr("ts_ms div 3600000"))
        val perBucket = ev.groupBy("user_id", "bucket")
          .agg(expr("max_by(value, ts_ms * 1000000 + event_id)").as("obs"),
            count(lit(1)).as("n_obs"))
        val grid = ev.groupBy("user_id")
          .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
          .select(col("user_id"), explode(expr("sequence(b0, b1)")).as("bucket"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // Range-partition into the window so the final global ORDER BY is
        // free (the resample_interpolate sort-elision pattern):
        // RangePartitioning(user_id) satisfies the window's clustering AND
        // — equal keys co-locating — prefixes OrderedDistribution(user_id,
        // bucket), so with the window's own (user_id, bucket asc) sort as
        // the stage's output ordering, RemoveRedundantSorts elides the
        // final SortExec and its range exchange. The sort must name the
        // pre-projection attribute `bucket` (bucket_ms = bucket·3600000 is
        // order-equivalent, but orderings only match on attributes).
        grid.join(perBucket, Seq("user_id", "bucket"), "left")
          .repartitionByRange(col("user_id"))
          .select(col("user_id"), col("bucket"),
            last(col("obs"), ignoreNulls = true).over(w).as("value"),
            coalesce(col("n_obs"), lit(0L)).as("n_obs"))
          .orderBy("user_id", "bucket")
          .select(col("user_id"), (col("bucket") * 3600000).as("bucket_ms"),
            col("value"), col("n_obs"))
      }),

    // F8 — CDC-style latest-record compaction: keep the newest event per
    // (user, event_type) — the batch twin of stream_stateful_dedup and the
    // standard "upsert log → current state" collapse. One per-key window,
    // no global sort until presentation.
    QueryDef(
      "batch_dedup_latest",
      Some(
        "SELECT user_id, event_type, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, value " +
          "FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type " +
          "ORDER BY ts DESC, event_id DESC) = 1 ORDER BY user_id, event_type"),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"), col("ts_ms"), col("value"))
          .orderBy("user_id", "event_type")
      }),

    // G1 — multi-key total sort, mixed asc/desc + a nulls-first key.
    QueryDef(
      "sort_multi_key",
      Some(
        "SELECT l_orderkey, l_linenumber, l_returnflag, nullif(l_returnflag, 'N') AS flag_n, l_quantity " +
          "FROM lineitem ORDER BY flag_n ASC NULLS FIRST, l_quantity DESC, l_orderkey, l_linenumber"),
      (s, d) =>
        Tables.t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            expr("nullif(l_returnflag, 'N')").as("flag_n"), col("l_quantity"))
          .orderBy(col("flag_n").asc_nulls_first, col("l_quantity").desc,
            col("l_orderkey"), col("l_linenumber"))),

    // G2 — ORDER BY + LIMIT/OFFSET pagination.
    QueryDef(
      "limit_offset",
      Some(
        s"SELECT o_orderkey, CAST(o_totalprice AS ${Q.D4})::DOUBLE AS price FROM orders " +
          "ORDER BY price DESC, o_orderkey LIMIT 50 OFFSET 20"),
      (s, d) =>
        Tables.t(s, d, "orders")
          .select(col("o_orderkey"), Q.out4(col("o_totalprice")).as("price"))
          .orderBy(col("price").desc, col("o_orderkey"))
          .offset(20).limit(50)),

    // G3 — top-10 revenue order keys (TakeOrderedAndProjectExec). The
    // per-group revenue is exact scaled-LONG arithmetic rather than decimal:
    // price×(1-disc) at 4 dp each is an integer ≤ ~10^13 per row, and order
    // groups are tiny, so the sum stays far inside long range while the
    // aggregation remains pure codegen long adds — the wide-decimal form
    // (DECIMAL(37,8) sums over 150k+ groups) measured ~3× slower.
    QueryDef(
      "topk_order_limit",
      Some(
        "SELECT l_orderkey, CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT) * " +
          "(10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS DOUBLE) / 100000000.0 AS revenue " +
          "FROM lineitem GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"),
      (s, d) =>
        Tables.t(s, d, "lineitem")
          .groupBy("l_orderkey")
          .agg((sum(
              round(col("l_extendedprice") * 10000).cast("long") *
                (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
            .cast("double") / 100000000.0).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)),

    // H1 — UNION ALL (duplicates preserved).
    QueryDef(
      "set_union_all",
      Some(
        "SELECT * FROM (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O' " +
          "UNION ALL SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000) " +
          "ORDER BY o_orderkey, o_orderstatus"),
      (s, d) => {
        val o = Tables.t(s, d, "orders")
        val a = o.where(col("o_orderstatus") === "O").select("o_orderkey", "o_orderstatus")
        val b = o.where(col("o_totalprice") > 400000).select("o_orderkey", "o_orderstatus")
        a.union(b).orderBy("o_orderkey", "o_orderstatus")
      }),

    // H2 — UNION DISTINCT of nation keys from two tables.
    QueryDef(
      "set_union_distinct",
      Some(
        "SELECT * FROM (SELECT CAST(c_nationkey AS BIGINT) AS key FROM customer " +
          "UNION SELECT CAST(s_nationkey AS BIGINT) AS key FROM supplier) ORDER BY key"),
      (s, d) =>
        Tables.t(s, d, "customer").select(col("c_nationkey").cast("long").as("key"))
          .union(Tables.t(s, d, "supplier").select(col("s_nationkey").cast("long").as("key")))
          .distinct()
          .orderBy("key")),

    // H3 — INTERSECT: high-balance customers who have bought.
    QueryDef(
      "set_intersect",
      Some(
        "SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000 " +
          "INTERSECT SELECT o_custkey AS key FROM orders ORDER BY key"),
      (s, d) =>
        Tables.t(s, d, "customer").where(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("key"))
          .intersect(Tables.t(s, d, "orders").select(col("o_custkey").as("key")))
          .orderBy("key")),

    // F9 — gaps-and-islands day streaks: longest run of CONSECUTIVE active
    // days per user. distinct (user, day) first, then `day - row_number()`
    // is constant within a consecutive run — the island id — so streaks
    // fall out of two per-user aggregates. The (user_id, day) distinct
    // shuffle is the only data-sized exchange: the window repartitions to
    // user_id, and both downstream groupBys are satisfied by that same
    // user_id clustering (subset-key rule), so at 100 TB the operator is
    // two bounded shuffles + map-side-combinable aggs, never a re-shuffle
    // per step.
    QueryDef(
      "window_streak_days",
      Some(
        "WITH days AS (SELECT DISTINCT user_id, " +
          "CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day FROM events), " +
          "seq AS (SELECT user_id, day, day - row_number() OVER " +
          "(PARTITION BY user_id ORDER BY day) AS grp FROM days), " +
          "isl AS (SELECT user_id, count(*) AS streak FROM seq GROUP BY user_id, grp) " +
          "SELECT user_id, CAST(max(streak) AS BIGINT) AS max_streak, " +
          "CAST(count(*) AS BIGINT) AS n_streaks " +
          "FROM isl GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
          .distinct()
        val byDay = Window.partitionBy("user_id").orderBy("day")
        // range partitioning feeds the window, BOTH groupBys (subset-key
        // clustering) and the final ORDER BY user_id — the presentation
        // range exchange is elided (the range-window pattern)
        days
          .repartitionByRange(col("user_id"))
          .withColumn("grp", col("day") - row_number().over(byDay))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("streak"))
          .groupBy("user_id")
          .agg(max("streak").as("max_streak"), count(lit(1)).as("n_streaks"))
          .orderBy("user_id")
      }),

    // F10 — trailing-window z-score anomaly flags: per-user daily event
    // counts vs the preceding 7 days' mean/std (current day excluded — the
    // monitoring baseline must not contain the point under test). The
    // window carries EXACT integer sums (Σn, Σn², count — all int64) and
    // the mean/std formula runs once in IEEE double as the same expression
    // text in both engines; windowed stddev_samp over doubles would be
    // implementation-order nondeterministic. Two exchanges by design: the
    // partial count combines map-side BEFORE the (user_id, day) shuffle
    // (raw events never cross the wire uncombined), then only the tiny
    // daily rollup re-shuffles on user_id for the window — pinning one
    // user-keyed shuffle up front would ship every raw event instead.
    QueryDef(
      "window_anomaly_zscore",
      Some(
        "WITH daily AS (SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS day, " +
          "count(*) AS n FROM events GROUP BY 1, 2), " +
          "m AS (SELECT user_id, day, n, sum(n) OVER w AS s7, sum(n*n) OVER w AS ss7, " +
          "count(*) OVER w AS k7 FROM daily WINDOW w AS " +
          "(PARTITION BY user_id ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
          "SELECT user_id, day, CAST(n AS BIGINT) AS n, " +
          "round(CAST(s7 AS DOUBLE) / k7, 4) AS mean7, " +
          "round(sqrt((CAST(ss7 AS DOUBLE) - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / k7) / (k7 - 1)), 4) AS sd7 " +
          "FROM m WHERE k7 >= 3 AND CAST(n AS DOUBLE) > CAST(s7 AS DOUBLE) / k7 + " +
          "2 * sqrt((CAST(ss7 AS DOUBLE) - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / k7) / (k7 - 1)) " +
          "ORDER BY user_id, day"),
      (s, d) => {
        val w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-7, -1)
        val mean = col("s7").cast("double") / col("k7")
        val sd = sqrt((col("ss7").cast("double")
          - col("s7").cast("double") * col("s7").cast("double") / col("k7"))
          / (col("k7") - 1))
        // The window's own (user_id, day) sort IS the presentation order,
        // so on a range-partitioned stage the final ORDER BY elides fully
        // — sort and exchange (the range-window pattern); the daily rollup (the tiny
        // side) pays the one range exchange instead of a hash one.
        Tables.events(s, d)
          .groupBy(col("user_id"), expr("ts_ms div 86400000").as("day"))
          .agg(count(lit(1)).as("n"))
          .repartitionByRange(col("user_id"))
          .withColumn("s7", sum(col("n")).over(w7))
          .withColumn("ss7", sum(col("n") * col("n")).over(w7))
          .withColumn("k7", count(lit(1)).over(w7))
          .where(col("k7") >= 3 && col("n").cast("double") > mean + lit(2) * sd)
          .select(col("user_id"), col("day"), col("n"),
            round(mean, 4).as("mean7"), round(sd, 4).as("sd7"))
          .orderBy("user_id", "day")
      }),

    // H4 — EXCEPT: customers who never bought.
    QueryDef(
      "set_except",
      Some(
        "SELECT c_custkey AS key FROM customer " +
          "EXCEPT SELECT o_custkey AS key FROM orders ORDER BY key"),
      (s, d) =>
        Tables.t(s, d, "customer").select(col("c_custkey").as("key"))
          .except(Tables.t(s, d, "orders").select(col("o_custkey").as("key")))
          .orderBy("key"))
  )
}
