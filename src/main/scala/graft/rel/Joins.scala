package graft.rel

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2.D — every join shape.
  *
  * Scale posture (100 TB): dimension sides are `broadcast()`-hinted (D1),
  * fact-fact joins shuffle on their equi keys with AQE skew handling (D2),
  * the band join (D8) is rewritten from a theta BNLJ into an
  * explode-then-equi-join so it shuffles instead of nested-looping, and the
  * as-of joins (D9/D9n) are equi-joins on the entity key + map-side-combined
  * `max_by`/`min_by` picks, so the per-event exchange carries one row per
  * event at any scale.
  */
object Joins {

  import org.apache.spark.sql.DataFrame

  /** As-of pick core (D9): latest order at or before each event's time.
    * `e` must carry (event_id, user_id, ts_ts, ts_ms); `o` is the orders
    * table. Grouped by event_id ALONE — ts_ms travels inside the picked
    * struct and closes the ordering, so duplicate event_ids with divergent
    * ts values still collapse to one deterministic row per event. Exposed
    * so the spec can drive it with a dup-event_id input the real events
    * table never exhibits.
    */
  private[graft] def asofPick(e: DataFrame, o: DataFrame): DataFrame =
    // PACKED-ordering hash aggregation: the natural
    // max_by(payload, struct(ordering)) plans as SortAggregate — struct
    // agg buffers are not UnsafeRow-mutable, so Spark SORTED the entire
    // per-user join fan-out before the partial agg (measured decade
    // exponent 1.002, the sort being the superlinear term). Packing the
    // ordering triple (o_orderdate days, o_orderkey, ts_ms) into ONE
    // DECIMAL(38,0) makes the buffer fixed-width, so plain max() runs as
    // a partial HASH aggregate inside the join stage: the exchange still
    // carries one row per event and nothing sorts but the final ORDER BY
    // — and because the pick's payload IS its ordering fields, all three
    // output columns decode back out of the packed maximum. Lexicographic
    // (days, o_orderkey, ts_ms) DESC ≡ numeric DESC while every component
    // is non-negative and inside its digit budget — the packing contract:
    // 0 ≤ days < 10^5 (through year 2243), 0 ≤ o_orderkey < 10^15,
    // 0 ≤ ts_ms < 10^13 (through year 2286).
    // Digit budgets are a RUNTIME-GUARDED contract (with ANSI off, a
    // budget violation NULLs the CAST/multiply and max() then
    // silently drops that candidate — a wrong pick with no error). The CASE
    // raises loudly on the first out-of-budget row instead; the guard is a
    // codegen-friendly range check, and the agg buffer stays the
    // fixed-width DECIMAL(38,0) that keeps the partial a HASH aggregate.
    //
    // Per-side precompute: run per JOIN FAN-OUT row (~10 orders × every
    // event), the guard + packing arithmetic would dominate the stage. The
    // order-side prefix (days·10^28 + orderkey·10^13) and the
    // event-side ts_ms guard each depend on ONE side only, so they are
    // precomputed per side — per-side guards raise on the same violations
    // — and the per-pair work collapses to one decimal add feeding max().
    // `spread` widens the (single-split at bench scale) orders scan so the
    // fan-out stage runs at cluster width; no-op on an already-wide scan.
    e.withColumn("ts_ms", expr(
        "CASE WHEN ts_ms BETWEEN 0 AND 9999999999999 THEN ts_ms" +
          " ELSE CAST(raise_error('join_asof packed pick: digit budget violated" +
          " (need 0<=days<1e5, 0<=o_orderkey<1e15, 0<=ts_ms<1e13)') AS BIGINT) END"))
      .join(
        graft.Tables.spread(o.sparkSession, o)
          .select(col("o_custkey"), col("o_orderdate"), expr(
            "CASE WHEN datediff(o_orderdate, DATE'1970-01-01') BETWEEN 0 AND 99999" +
              " AND o_orderkey BETWEEN 0 AND 999999999999999" +
              " THEN CAST(datediff(o_orderdate, DATE'1970-01-01') AS DECIMAL(10,0))" +
              " * 10000000000000000000000000000" +
              " + CAST(o_orderkey AS DECIMAL(16,0)) * 10000000000000" +
              " ELSE CAST(raise_error('join_asof packed pick: digit budget violated" +
              " (need 0<=days<1e5, 0<=o_orderkey<1e15, 0<=ts_ms<1e13)') AS DECIMAL(38,0))" +
              " END").as("opfx")),
        e("user_id") === col("o_custkey") && col("o_orderdate") <= e("ts_ts"))
      .groupBy(col("event_id"))
      .agg(max(expr("opfx + ts_ms")).as("p"))
      .select(col("event_id"),
        expr("CAST(p % 10000000000000 AS BIGINT)").as("ts_ms"),
        expr("CAST((p % 10000000000000000000000000000) div 10000000000000 AS BIGINT)")
          .as("o_orderkey"),
        expr("timestampadd(DAY, CAST(p div 10000000000000000000000000000 AS INT), " +
          "TIMESTAMP_NTZ'1970-01-01 00:00:00')").as("o_orderdate"))
      .orderBy("event_id")

  /** Nearest-match pick core (D9n); `e` carries (event_id, user_id, ts_ms).
    * Same packed-decimal hash-agg shape as [[asofPick]], ordering
    * (dist_ms, o_orderkey, ts_ms) ASC under min(); digit budget
    * dist_ms < 10^13 (a ±274-year alignment span), o_orderkey < 10^12,
    * ts_ms < 10^13.
    */
  private[graft] def asofNearestPick(e: DataFrame, o: DataFrame): DataFrame = {
    // Same runtime budget guard as [[asofPick]] — min() must never see a
    // silently-NULLed packed value. The distance term is the only
    // genuinely per-PAIR component, so only its guard + one multiply + two
    // adds run on the join fan-out; the orderkey tail (o side) and the
    // ts_ms guard (e side) are precomputed per side, and the orders scan
    // is spread to cluster width (single-split at bench scale; no-op on an
    // already-wide scan).
    val od = graft.Tables.spread(o.sparkSession, o)
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("od_ms"),
        expr(
          "CASE WHEN o_orderkey BETWEEN 0 AND 999999999999" +
            " THEN CAST(o_orderkey AS DECIMAL(13,0)) * 10000000000000" +
            " ELSE CAST(raise_error('join_asof_nearest packed pick: digit budget violated" +
            " (need dist_ms<1e13, 0<=o_orderkey<1e12, 0<=ts_ms<1e13)') AS DECIMAL(26,0))" +
            " END").as("otail"))
    e.withColumn("ts_ms", expr(
        "CASE WHEN ts_ms BETWEEN 0 AND 9999999999999 THEN ts_ms" +
          " ELSE CAST(raise_error('join_asof_nearest packed pick: digit budget violated" +
          " (need dist_ms<1e13, 0<=o_orderkey<1e12, 0<=ts_ms<1e13)') AS BIGINT) END"))
      .join(od, e("user_id") === od("o_custkey"))
      .groupBy(col("event_id"))
      .agg(min(expr(
        "CASE WHEN abs(ts_ms - od_ms) BETWEEN 0 AND 9999999999999" +
          " THEN CAST(abs(ts_ms - od_ms) AS DECIMAL(14,0)) * 10000000000000000000000000" +
          " + otail + ts_ms" +
          " ELSE CAST(raise_error('join_asof_nearest packed pick: digit budget violated" +
          " (need dist_ms<1e13, 0<=o_orderkey<1e12, 0<=ts_ms<1e13)') AS DECIMAL(38,0))" +
          " END")).as("p"))
      .select(col("event_id"),
        expr("CAST(p % 10000000000000 AS BIGINT)").as("ts_ms"),
        expr("CAST((p % 10000000000000000000000000) div 10000000000000 AS BIGINT)")
          .as("o_orderkey"),
        expr("CAST(p div 10000000000000000000000000 AS BIGINT)").as("dist_ms"))
      .orderBy("event_id")
  }

  val defs: Seq[QueryDef] = Seq(
    // D1 — broadcast hash join: fact ⋈ small dim.
    QueryDef(
      "join_broadcast_hash",
      Some(
        s"SELECT p_brand, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(l_extendedprice AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS sum_price " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "GROUP BY p_brand ORDER BY p_brand"),
      (s, d) => {
        val li = Tables.t(s, d, "lineitem")
        val p = Tables.t(s, d, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy("p_brand")
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("l_extendedprice")))).as("sum_price"))
          .orderBy("p_brand")
      }),

    // D2 — shuffle sort-merge join: fact ⋈ fact (merge-hinted).
    QueryDef(
      "join_shuffle_sortmerge",
      Some(
        s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(l_extendedprice AS ${Q.D4}) * (CAST(1 AS ${Q.D4}) - CAST(l_discount AS ${Q.D4}))) AS ${Q.D6})::DOUBLE AS revenue " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => {
        val li = Tables.t(s, d, "lineitem").hint("merge")
        val o = Tables.t(s, d, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("l_extendedprice")) * (Q.one4 - Q.dec4(col("l_discount"))))).as("revenue"))
          .orderBy("o_orderpriority")
      }),

    // D3 — left outer: every customer, with or without orders.
    QueryDef(
      "join_left_outer",
      Some(
        s"SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders, " +
          s"CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS sum_total " +
          "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
          "GROUP BY c_custkey ORDER BY c_custkey"),
      (s, d) => {
        val c = Tables.t(s, d, "customer")
        val o = Tables.t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
          .orderBy("c_custkey")
      }),

    // D4 — full outer over pre-aggregated sides (aggregate-before-join keeps
    // the shuffled sides small at scale).
    QueryDef(
      "join_full_outer",
      Some(
        "SELECT COALESCE(a.key, b.key) AS key, COALESCE(n_orders, 0) AS n_orders, " +
          "COALESCE(n_events, 0) AS n_events FROM " +
          "(SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1) a " +
          "FULL OUTER JOIN " +
          "(SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1) b " +
          "ON a.key = b.key ORDER BY key"),
      (s, d) => {
        val os = Tables.t(s, d, "orders")
          .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("n_orders"))
        val es = Tables.events(s, d)
          .groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n_events"))
        os.join(es, Seq("key"), "full")
          .select(
            col("key"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
          .orderBy("key")
      }),

    // D5 — left semi (EXISTS).
    QueryDef(
      "join_left_semi",
      Some(
        "SELECT c_custkey, c_name FROM customer " +
          "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
          "ORDER BY c_custkey"),
      (s, d) => {
        val c = Tables.t(s, d, "customer")
        val o = Tables.t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      }),

    // D6 — left anti (NOT EXISTS).
    QueryDef(
      "join_left_anti",
      Some(
        "SELECT c_custkey, c_name FROM customer " +
          "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
          "ORDER BY c_custkey"),
      (s, d) => {
        val c = Tables.t(s, d, "customer")
        val o = Tables.t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      }),

    // D7 — Cartesian product of the two tiny dims.
    QueryDef(
      "join_cross",
      Some(
        "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"),
      (s, d) =>
        Tables.t(s, d, "region").crossJoin(Tables.t(s, d, "nation"))
          .select("r_name", "n_name").orderBy("r_name", "n_name")),

    // D8 — band join |size1 - size2| <= 1. The query only needs pair
    // COUNTS per size, and the band key has bounded cardinality, so the
    // pair join is never materialized at all: aggregate the size histogram
    // first (one map-side-combinable pass, ~50 rows), explode each bucket's
    // count into its three neighbor sizes, re-aggregate to per-size
    // neighborhood totals, and n_pairs(s) = c_s * (neighborhood(s) - 1)
    // (the -1 removes each row's self-pair, which shares its own size
    // bucket). The previous explode + equi-join plan enumerated every pair
    // — Sigma c_s * neighborhood(s) rows, quadratic in table size at fixed
    // size domain; the sf1 rehearsal measured exponent 1.89 (45 s at 10x).
    // This form is one scan plus ~150-row arithmetic at ANY scale.
    QueryDef(
      "join_theta_range",
      Some(
        "SELECT p1.p_size AS size1, CAST(count(*) AS BIGINT) AS n_pairs " +
          "FROM part p1 JOIN part p2 ON p1.p_size BETWEEN p2.p_size - 1 AND p2.p_size + 1 " +
          "AND p1.p_partkey != p2.p_partkey GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val hist = Tables.t(s, d, "part")
          .groupBy(col("p_size").as("size1")).agg(count(lit(1)).as("c"))
        val neighborhood = hist
          .select(explode(sequence(col("size1") - 1, col("size1") + 1)).as("size1"),
            col("c"))
          .groupBy("size1").agg(sum(col("c")).as("nb"))
        hist.join(broadcast(neighborhood), Seq("size1"))
          .select(col("size1"), (col("c") * (col("nb") - 1)).as("n_pairs"))
          // a size whose whole neighborhood is its own single row has no
          // pairs; the oracle's GROUP BY emits no row for it at all
          .where(col("n_pairs") > 0)
          .orderBy("size1")
      }),

    // D9 — as-of join: for each event, the latest order of the same user at
    // or before the event time. Equi-join on the user key, then `max_by`
    // over the (o_orderdate, o_orderkey) total order instead of a per-event
    // window: the partial agg combines map-side in the SAME stage as the
    // join, so the event_id exchange carries ONE row per event and needs no
    // sort — where the window formulation shuffled and sorted the entire
    // per-user join fan-out. The group key is event_id ALONE — ts_ms rides
    // inside the picked struct, so a duplicate event_id with divergent ts
    // values still collapses to one output row per event, exactly like the
    // oracle's PARTITION BY event_id (grouping by (event_id, ts_ms) would
    // silently assume ts is functionally dependent on event_id). ts_ms
    // closes the ordering struct so the pick stays
    // total-ordered even then; o_orderkey alone already breaks all ties
    // when event_id is unique.
    QueryDef(
      "join_asof",
      Some(
        "SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, o_orderkey, o_orderdate " +
          "FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
          "QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY o_orderdate DESC, o_orderkey DESC, ts DESC) = 1 " +
          "ORDER BY event_id"),
      (s, d) => asofPick(
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts_ts"), col("ts_ms")),
        Tables.t(s, d, "orders"))),

    // D9n — NEAREST as-of: align each event to the single order (same
    // customer) whose date is CLOSEST in absolute time, forward or
    // backward — the sensor-alignment twin of backward-only join_asof
    // (join each reading to the closest calibration, not the preceding
    // one). Same user-equi join + map-side-combined `min_by` pick (see
    // D9); only the ordering changes, so the 100 TB posture is identical:
    // work bounded per user, no range-scan fan-out, one row per event on
    // the exchange. Group key is event_id alone with ts_ms inside the pick
    // struct (see D9 — no functional-dependence assumption); tie-break on
    // (distance, orderkey, ts) keeps the pick total-ordered and
    // engine-exact in integer millis.
    QueryDef(
      "join_asof_nearest",
      Some(
        "SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, o_orderkey, " +
          "CAST(abs(epoch_ms(ts) - epoch_ms(o_orderdate)) AS BIGINT) AS dist_ms " +
          "FROM events e JOIN orders o ON o.o_custkey = e.user_id " +
          "QUALIFY row_number() OVER (PARTITION BY event_id " +
          "ORDER BY abs(epoch_ms(ts) - epoch_ms(o_orderdate)), o_orderkey, ts) = 1 " +
          "ORDER BY event_id"),
      (s, d) => asofNearestPick(
        Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts_ms")),
        Tables.t(s, d, "orders"))),

    // D10 — interval overlap: orders of the same customer within ±30 days.
    // Equi key (customer) + range residual ⇒ shuffle join, not a BNLJ.
    QueryDef(
      "join_interval_overlap",
      Some(
        "SELECT o1.o_orderkey AS o_orderkey, CAST(count(*) AS BIGINT) AS n_near " +
          "FROM orders o1 JOIN orders o2 ON o1.o_custkey = o2.o_custkey " +
          "AND o1.o_orderkey != o2.o_orderkey " +
          "AND o2.o_orderdate BETWEEN o1.o_orderdate - INTERVAL 30 DAY AND o1.o_orderdate + INTERVAL 30 DAY " +
          "GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val o = Tables.t(s, d, "orders")
        val o1 = o.select(col("o_orderkey").as("k1"), col("o_custkey").as("ck"), col("o_orderdate").as("d1"))
        val o2 = o.select(col("o_orderkey").as("k2"), col("o_custkey").as("ck"), col("o_orderdate").as("d2"))
        o1.join(o2, Seq("ck"))
          .where(
            col("k1") =!= col("k2") &&
              col("d2") >= col("d1") - expr("INTERVAL 30 DAYS") &&
              col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
          .groupBy(col("k1").as("o_orderkey"))
          .agg(count(lit(1)).as("n_near"))
          .orderBy("o_orderkey")
      }),

    // D11 — NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the shape
    // entity-resolution and SCD pipelines need when the business key can
    // legitimately be NULL and NULL must match NULL (a plain `=` silently
    // drops those rows). EqualNullSafe is a first-class HASH join key in
    // Spark — the plan stays a broadcast/shuffle hash join, NOT a
    // nested-loop fallback; PlanSpec pins that. Keys here derive from the
    // priority with one arm nulled out so the NULL bucket is real.
    QueryDef(
      "join_null_safe",
      Some(
        "WITH o AS (SELECT nullif(substr(o_orderpriority, 1, 1), '4') AS k, o_totalprice FROM orders), " +
          "c AS (SELECT nullif(substr(o_orderpriority, 1, 1), '4') AS k, " +
          "CAST(count(*) AS BIGINT) AS n_right FROM orders GROUP BY 1) " +
          "SELECT o.k, CAST(count(*) AS BIGINT) AS n, min(n_right) AS n_right, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_total " +
          "FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k " +
          "GROUP BY o.k ORDER BY o.k NULLS FIRST"),
      (s, d) => {
        val o = Tables.t(s, d, "orders")
          .select(nullif(substring(col("o_orderpriority"), 1, 1), lit("4")).as("k"),
            col("o_totalprice"))
        val c = Tables.t(s, d, "orders")
          .select(nullif(substring(col("o_orderpriority"), 1, 1), lit("4")).as("kr"))
          .groupBy("kr").agg(count(lit(1)).as("n_right"))
        o.join(broadcast(c), col("k") <=> col("kr"))
          .groupBy("k")
          .agg(count(lit(1)).as("n"), min(col("n_right")).as("n_right"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
          .orderBy(col("k").asc_nulls_first)
      }),

    // D12 — shuffled hash join: the third equi-join strategy beside
    // broadcast (D1) and sort-merge (D2). The hint builds a hash table on
    // the (smaller) orders side per partition INSTEAD of sorting both
    // sides — the right call when one side is much smaller than the other
    // but too big to broadcast, because it skips both sorts. PlanSpec pins
    // ShuffledHashJoin in the executed plan.
    QueryDef(
      "join_shuffle_hash",
      Some(
        s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(l_quantity AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS qty " +
          "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => {
        val o = Tables.t(s, d, "orders").hint("SHUFFLE_HASH")
        val li = Tables.t(s, d, "lineitem")
        o.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("l_quantity")))).as("qty"))
          .orderBy("o_orderpriority")
      })
  )
}
