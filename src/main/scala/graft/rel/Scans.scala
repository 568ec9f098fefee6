package graft.rel

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2.B scans/sources/sinks + §2.C projections/filters.
  *
  * Scale notes: every query here is a single parquet scan; filters and
  * (nested) projections are expressed declaratively so Catalyst pushes them
  * into the scan (PushedFilters / ReadSchema — asserted in PlanSpec).
  */
object Scans {

  val defs: Seq[QueryDef] = Seq(
    // B1 — full-scan count/min/max; parquet footer stats make min/max cheap.
    QueryDef(
      "scan_parquet",
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, min(l_orderkey) AS min_key, " +
          "max(l_orderkey) AS max_key, min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship " +
          "FROM lineitem"),
      (s, d) =>
        Tables.t(s, d, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))),

    // B2 — nested-column projection over a golden FHIR file: exercises
    // nested schema pruning (reads 2 of 39 leaf columns).
    QueryDef(
      "scan_projection_pushdown",
      Some(
        "SELECT id, status, subject.reference AS subject_ref " +
          s"FROM read_parquet('${Tables.goldenDir}/Observation.parquet') " +
          "WHERE status = 'final' ORDER BY id"),
      (s, _) =>
        Tables.golden(s, "Observation")
          .where(col("status") === "final")
          .select(col("id"), col("status"), col("subject.reference").as("subject_ref"))
          .orderBy("id")),

    // B3 — embedded-JSON scan of events.props.
    QueryDef(
      "scan_json_embedded",
      Some(
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
          "FROM events WHERE event_type = 'click' ORDER BY event_id"),
      (s, d) =>
        Tables.events(s, d)
          .where(col("event_type") === "click")
          .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id")),

    // B4 — parquet sink round-trip: write snappy parquet, re-read, count.
    QueryDef(
      "sink_parquet_roundtrip",
      Some("SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_roundtrip", d)
        Tables.t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).agg(count(lit(1)).as("n_rows"))
      }),

    // C1 — conjunctive predicates: range, IN, BETWEEN on time, null check.
    // All of these reach the parquet scan as PushedFilters.
    QueryDef(
      "filter_predicate",
      Some(
        s"SELECT l_orderkey, l_linenumber, l_returnflag, CAST(l_quantity AS ${Q.D4})::DOUBLE AS qty " +
          "FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R') " +
          "AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01' " +
          "AND l_discount > 0.02 AND l_linenumber IS NOT NULL " +
          "ORDER BY l_orderkey, l_linenumber, l_returnflag, qty"),
      (s, d) =>
        Tables.t(s, d, "lineitem")
          .where(
            col("l_quantity").between(10, 20) &&
              col("l_returnflag").isin("A", "R") &&
              col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
              col("l_discount") > 0.02 &&
              col("l_linenumber").isNotNull)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            Q.out4(col("l_quantity")).as("qty"))
          .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "qty")),

    // C2 — projection expressions: CASE WHEN, string concat, decimal arith.
    QueryDef(
      "project_expressions",
      Some(
        "SELECT o_orderkey, concat_ws('-', o_orderstatus, o_orderpriority) AS status_pri, " +
          "CASE WHEN o_totalprice > 300000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid' " +
          "ELSE 'small' END AS bucket, " +
          s"CAST(CAST(o_totalprice AS ${Q.D4}) * CAST(1.1 AS ${Q.D4}) + 5 AS ${Q.D6})::DOUBLE AS adj_price " +
          "FROM orders ORDER BY o_orderkey"),
      (s, d) =>
        Tables.t(s, d, "orders")
          .select(
            col("o_orderkey"),
            concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_pri"),
            when(col("o_totalprice") > 300000, "big")
              .when(col("o_totalprice") > 100000, "mid")
              .otherwise("small").as("bucket"),
            Q.out6(Q.dec4(col("o_totalprice")) * lit("1.1").cast(org.apache.spark.sql.types.DecimalType(18, 4)) + lit(5))
              .as("adj_price"))
          .orderBy("o_orderkey"))
  )
}
