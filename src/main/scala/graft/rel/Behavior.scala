package graft.rel

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, Q, QueryDef, Tables}

/** Behavioral event analytics (SURVEY §2 addendum): funnel conversion and
  * cohort retention over the events stream — the two queries every product
  * analytics deployment runs daily at full-corpus scale.
  *
  * Scale notes: both operators reduce events to per-user scalars first
  * (min-timestamp aggregates with map-side partials), so the expensive
  * shuffles are all keyed on user_id and AQE can reuse the partitioning;
  * nothing materializes per-event state. Time math is integer epoch-millis
  * (`ts_ms`), exact in both engines (no IEEE hazards).
  */
object Behavior {

  /** 2024-01-01T00:00:00Z in epoch millis — the cohort grid origin. */
  private val epoch0 = 1704067200000L
  private val weekMs = 7L * 86400000L

  /** The (metric, o_custkey) tuples sitting at the three exact ntile(4)
    * boundary ranks of `rollup` ordered by (metric, o_custkey), found
    * WITHOUT a global sort — the same 2-pass histogram technique as
    * agg_exact_percentile: pass 1 builds a coarse combinable value
    * histogram (driver holds only the bucket table, a few thousand rows at
    * any corpus size given the fixed value ranges; at true scale pick the
    * width from min/max), locates the bucket + in-bucket residual rank of
    * each boundary; pass 2 ranks only inside the ≤3 needed buckets with a
    * BUCKET-partitioned window. ntile(4) over n rows gives the first
    * n mod 4 tiles ceil(n/4) rows, so boundary k sits at rank
    * k*(n/4) + min(k, n mod 4); custkey uniqueness makes the order total,
    * hence rank comparison ≡ boundary-tuple comparison and the caller can
    * assign exact ntile-parity tiles from just these three tuples.
    */
  private def quartileBounds(
      rollup: org.apache.spark.sql.DataFrame, metric: String,
      bucketOf: org.apache.spark.sql.Column): Seq[(Any, Long)] = {
    val sp = rollup.sparkSession
    import sp.implicits._
    val hist = rollup.groupBy(bucketOf.as("bk")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    val (q, rem) = (n / 4, n % 4)
    val targets = (1 to 3).map { k =>
      val rank = k * q + math.min(k.toLong, rem)
      var below = 0L; var bi = 0
      while (below + hist(bi)._2 < rank) { below += hist(bi)._2; bi += 1 }
      (hist(bi)._1, (rank - below).toInt, k)
    }
    val w = Window.partitionBy("bk").orderBy(col(metric), col("o_custkey"))
    rollup.withColumn("bk", bucketOf)
      .where(col("bk").isin(targets.map(_._1).distinct: _*))
      .withColumn("idx", row_number().over(w))
      .join(broadcast(targets.toDF("bk", "idx", "k")), Seq("bk", "idx"))
      .select(col("k"), col(metric), col("o_custkey"))
      .collect().sortBy(_.getInt(0)).map(r => (r.get(1), r.getLong(2))).toSeq
  }

  /** Exact ntile(4) tile from the three boundary tuples: 1 + how many
    * boundaries the row's (metric, o_custkey) tuple exceeds.
    */
  private def tileOf(metric: String, bounds: Seq[(Any, Long)]): org.apache.spark.sql.Column =
    bounds.foldLeft(lit(1L)) { case (acc, (mv, ck)) =>
      acc + when(col(metric) > lit(mv) ||
        (col(metric) === lit(mv) && col("o_custkey") > lit(ck)), 1L).otherwise(0L)
    }

  def defs: Seq[QueryDef] = Seq(

    // Ordered funnel: first view → first click at-or-after it → first
    // purchase at-or-after that, per user; output per-stage reach counts.
    // Three aggregates chained by two user-keyed joins — the canonical
    // "sequence of conditional firsts" shape. The per-stage tables are one
    // row per user, so at 100 TB the joins are user-cardinality, not
    // event-cardinality, and every aggregate combines map-side.
    QueryDef(
      "funnel_conversion",
      Some(
        "WITH e AS (SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), " +
          "v AS (SELECT user_id, min(ts_ms) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id), " +
          "c AS (SELECT e.user_id, min(ts_ms) AS t2 FROM e JOIN v ON e.user_id = v.user_id " +
          "WHERE event_type = 'click' AND ts_ms >= t1 GROUP BY e.user_id), " +
          "p AS (SELECT e.user_id, min(ts_ms) AS t3 FROM e JOIN c ON e.user_id = c.user_id " +
          "WHERE event_type = 'purchase' AND ts_ms >= t2 GROUP BY e.user_id) " +
          "SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view, " +
          "CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click, " +
          "CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase"),
      (s, d) => {
        val e = Tables.events(s, d).select("user_id", "event_type", "ts_ms")
        val v = e.where(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts_ms")).as("t1"))
        val c = e.where(col("event_type") === "click")
          .join(v, "user_id").where(col("ts_ms") >= col("t1"))
          .groupBy("user_id").agg(min(col("ts_ms")).as("t2"))
        val p = e.where(col("event_type") === "purchase")
          .join(c, "user_id").where(col("ts_ms") >= col("t2"))
          .groupBy("user_id").agg(min(col("ts_ms")).as("t3"))
        // One global aggregate over the union of per-stage user rows instead
        // of joining three single-row counts: no join at all (the join form
        // plans a BroadcastNestedLoopJoin), and the stage indicator
        // sums combine map-side. coalesce guards the empty-stage case where
        // sum yields NULL but the oracle's count yields 0.
        v.select(lit(1L).as("sv"), lit(0L).as("sc"), lit(0L).as("sp"))
          .unionAll(c.select(lit(0L).as("sv"), lit(1L).as("sc"), lit(0L).as("sp")))
          .unionAll(p.select(lit(0L).as("sv"), lit(0L).as("sc"), lit(1L).as("sp")))
          .agg(coalesce(sum(col("sv")), lit(0L)).as("n_view"),
            coalesce(sum(col("sc")), lit(0L)).as("n_click"),
            coalesce(sum(col("sp")), lit(0L)).as("n_purchase"))
      }),

    // Cohort retention: users grouped by first-activity week, counted in
    // each later week they return — the retention triangle. One per-user
    // min aggregate, one user-keyed join back to events, one
    // (cohort, offset) distinct-count; week arithmetic is integer floor
    // division on epoch millis so the grid is engine-exact.
    QueryDef(
      "retention_cohort",
      Some(
        "WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), " +
          s"f AS (SELECT user_id, (min(ts_ms) - $epoch0) // $weekMs AS cohort_week FROM e GROUP BY user_id) " +
          s"SELECT cohort_week, (e.ts_ms - $epoch0) // $weekMs - cohort_week AS week_offset, " +
          "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active " +
          "FROM e JOIN f ON e.user_id = f.user_id " +
          "GROUP BY cohort_week, week_offset ORDER BY cohort_week, week_offset"),
      (s, d) => {
        val e = Tables.events(s, d).select("user_id", "ts_ms")
        val f = e.groupBy("user_id")
          .agg(expr(s"(min(ts_ms) - ${epoch0}L) DIV ${weekMs}L").as("cohort_week"))
        e.join(f, "user_id")
          .groupBy(col("cohort_week"),
            expr(s"(ts_ms - ${epoch0}L) DIV ${weekMs}L - cohort_week").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_week", "week_offset")
      }),

    // Last-touch attribution: each purchase is credited to the user's most
    // recent preceding marketing touch (view/click), the default revenue
    // attribution model. ONE pass: a per-user window carries the last
    // non-null touch forward (frame ends at 1 PRECEDING so a purchase never
    // attributes to itself even if event types collide on a timestamp;
    // event_id tie-breaks make the order total), then a 3-row combinable
    // agg. No join — the naive form (purchases as-of-joined back to
    // touches) would shuffle events twice. Revenue sums in exact
    // DECIMAL(18,4) and exits as DOUBLE (Q discipline). At 100 TB: one
    // shuffle keyed on user_id, then map-side-combining aggregation.
    QueryDef(
      "attribution_last_touch",
      Some(
        "WITH e AS (SELECT user_id, event_id, event_type, value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), " +
          "t AS (SELECT event_type, value, " +
          "last_value(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS) " +
          "OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch " +
          "FROM e) " +
          "SELECT coalesce(touch, 'none') AS touch_type, CAST(count(*) AS BIGINT) AS n_purchases, " +
          s"CAST(CAST(sum(CAST(value AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS revenue " +
          "FROM t WHERE event_type = 'purchase' GROUP BY 1 ORDER BY touch_type"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .select("user_id", "event_id", "event_type", "value", "ts_ms")
          .withColumn("touch",
            last(when(col("event_type").isin("view", "click"), col("event_type")),
              ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase")
          .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
          .agg(count(lit(1)).as("n_purchases"),
            Q.out6(sum(Q.dec4(col("value")))).as("revenue"))
          .orderBy("touch_type")
      }),

    // RFM segmentation: recency / frequency / monetary quartiles per
    // customer, the classic CRM cut. Orders reduce to ONE row per customer
    // first (map-side-combinable min/count/sum — at 100 TB the quartile
    // input is customer-cardinality, orders of magnitude below fact rows).
    // The tiles are EXACT ntile(4) over (metric, custkey) order, but no
    // global-sort window ever runs (no "No Partition Defined for Window"
    // single-partition sort): quartileBounds finds the three boundary TUPLES
    // per metric with the 2-pass histogram technique (day grid for
    // recency, identity for frequency, 4096-wide value buckets for
    // monetary), and the main query assigns tiles by comparing each row
    // against the nine broadcast-literal boundaries — embarrassingly
    // parallel, join-free, window-free. The rollup is localCheckpointed
    // only while the boundary jobs run and released before returning.
    QueryDef(
      "rfm_segmentation",
      Some(
        "WITH rfm AS (SELECT o_custkey, max(epoch_ms(o_orderdate)) AS r, " +
          s"CAST(count(*) AS BIGINT) AS f, sum(CAST(o_totalprice AS ${Q.D4})) AS m " +
          "FROM orders GROUP BY o_custkey), " +
          "q AS (SELECT CAST(ntile(4) OVER (ORDER BY r, o_custkey) AS BIGINT) AS r_q, " +
          "CAST(ntile(4) OVER (ORDER BY f, o_custkey) AS BIGINT) AS f_q, " +
          "CAST(ntile(4) OVER (ORDER BY m, o_custkey) AS BIGINT) AS m_q, m FROM rfm) " +
          "SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers, " +
          s"CAST(CAST(sum(m) AS ${Q.D6}) AS DOUBLE) AS sum_monetary " +
          "FROM q GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q"),
      (s, d) => {
        def rollup = Tables.t(s, d, "orders")
          .groupBy("o_custkey")
          // o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the
          // cast-to-instant is the same epoch value DuckDB's epoch_ms sees
          .agg(max(unix_millis(col("o_orderdate").cast("timestamp"))).as("r"),
            count(lit(1)).as("f"), sum(Q.dec4(col("o_totalprice"))).as("m"))
        val (rfm, ids) = Ckpt(rollup)
        val (rB, fB, mB) =
          try {
            (quartileBounds(rfm, "r", expr("CAST(r DIV 86400000 AS BIGINT)")),
              quartileBounds(rfm, "f", col("f")),
              quartileBounds(rfm, "m", (col("m") / 4096).cast("long")))
          } finally Ckpt.release(s, ids)
        // the returned plan recomputes the rollup from parquet (one scan,
        // map-side combine) so it stands alone after the checkpoint is gone
        rollup
          .withColumn("r_q", tileOf("r", rB))
          .withColumn("f_q", tileOf("f", fB))
          .withColumn("m_q", tileOf("m", mB))
          .groupBy("r_q", "f_q", "m_q")
          .agg(count(lit(1)).as("n_customers"), Q.out6(sum(col("m"))).as("sum_monetary"))
          .orderBy("r_q", "f_q", "m_q")
      }),

    // Time-weighted average: mean of an irregularly-sampled metric weighted
    // by how long each sample was current (observability / pricing math —
    // the plain mean over-weights bursts). lead() pairs each sample with
    // its successor; contributions accumulate as exact DECIMAL×int64
    // products (IEEE double sums are partition-order-dependent), and the
    // single division runs once in double as identical formula text in
    // both engines. One window shuffle on user_id, then a combinable agg.
    QueryDef(
      "time_weighted_avg",
      Some(
        "WITH e AS (SELECT user_id, event_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), " +
          "g AS (SELECT user_id, value, " +
          "lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) - ts_ms AS gap FROM e) " +
          "SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps, " +
          s"round(CAST(CAST(sum(CAST(value AS ${Q.D4}) * gap) AS ${Q.D6}) AS DOUBLE) / CAST(sum(gap) AS DOUBLE), 6) AS twa " +
          "FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
        // Range-partition into the window (sort-elision pattern): the
        // downstream groupBy(user_id) is satisfied by the same clustering,
        // and the final ORDER BY user_id needs no exchange over
        // RangePartitioning(user_id) — 2 exchanges → 1.
        Tables.events(s, d)
          .select("user_id", "event_id", "value", "ts_ms")
          .repartitionByRange(col("user_id"))
          .withColumn("gap", lead(col("ts_ms"), 1).over(w) - col("ts_ms"))
          .where(col("gap").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            round(Q.out6(sum(Q.dec4(col("value")) * col("gap"))) /
              sum(col("gap")).cast("double"), 6).as("twa"))
          .orderBy("user_id")
      }),

    // First-order Markov transition matrix over event types: P(next | cur),
    // the behavioral fingerprint behind next-action prediction and
    // anomaly detection on session flows. lead() pairs each event with its
    // successor (one user-keyed window shuffle), the (from, to) counts
    // combine map-side, and the row-normalizing window runs over the TINY
    // transition matrix (|types|² rows), not events. The probability is one
    // double division, identical expression text in both engines.
    QueryDef(
      "markov_transitions",
      Some(
        "WITH e AS (SELECT user_id, event_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), " +
          "p AS (SELECT event_type AS from_type, " +
          "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS to_type FROM e) " +
          "SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n, " +
          "round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob " +
          "FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type ORDER BY from_type, to_type"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
        val wf = Window.partitionBy("from_type")
        Tables.events(s, d)
          .select("user_id", "event_id", "event_type", "ts_ms")
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("prob",
            round(col("n").cast("double") / sum(col("n")).over(wf).cast("double"), 6))
          .orderBy("from_type", "to_type")
      }),

    // Trailing EWMA (α = ½): the time-series smoother behind monitoring
    // dashboards and feature pipelines. Exponential decay is inherently
    // recursive, so the trailing-10 truncation makes it a WINDOW + HOF
    // computation: collect the frame (frame order = window order,
    // deterministic), fold with 2^-k weights — every product is an EXACT
    // binary scaling because α = ½, and both engines fold ascending, so
    // the IEEE result is bit-identical despite being float math. One
    // user-keyed window shuffle, then a narrow HOF pass; the frame bound
    // caps per-row state at any scale.
    QueryDef(
      "window_ewma",
      Some(
        "WITH e AS (SELECT user_id, event_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events), " +
          "w AS (SELECT user_id, event_id, ts_ms, list(value) OVER " +
          "(PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs FROM e) " +
          "SELECT user_id, event_id, " +
          "round(list_sum(list_transform(range(len(xs)), i -> xs[i+1] * pow(0.5, len(xs)-1-i))) " +
          "/ (2 - pow(0.5, len(xs)-1)), 6) AS ewma " +
          "FROM w ORDER BY user_id, ts_ms, event_id"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
          .rowsBetween(-9, 0)
        // Range-partition into the window (the resample sort-elision
        // pattern): the window's own (user_id, ts_ms, event_id) sort
        // then satisfies the final presentation ORDER BY — global, because
        // RangePartitioning(user_id) prefixes its OrderedDistribution — so
        // the final sort AND its exchange vanish from the plan.
        Tables.events(s, d)
          .select("user_id", "event_id", "value", "ts_ms")
          .repartitionByRange(col("user_id"))
          .withColumn("xs", collect_list(col("value")).over(w))
          .select(col("user_id"), col("event_id"),
            round(expr(
              "aggregate(sequence(0, size(xs)-1), cast(0.0 as double), " +
                "(acc, i) -> acc + element_at(xs, i+1) * pow(0.5, size(xs)-1-i)) " +
                "/ (2 - pow(0.5, size(xs)-1))"), 6).as("ewma"),
            col("ts_ms"))
          .orderBy("user_id", "ts_ms", "event_id")
          .drop("ts_ms")
      }))
}
