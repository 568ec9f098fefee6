package graft.rel

import graft.{Q, QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, MapType, StringType}

/** SURVEY §2.I — scalar function families (string, date, math, array, map,
  * JSON, conditional/null). All pure, codegen'd, no UDFs.
  */
object Funcs {

  val defs: Seq[QueryDef] = Seq(
    // I1 — string family over part.
    QueryDef(
      "func_string",
      Some(
        "SELECT p_partkey, upper(p_name) AS up_name, lower(p_brand) AS lo_brand, " +
          "substring(p_name, 1, 8) AS sub8, concat_ws('|', p_brand, p_type) AS bt, " +
          "lpad(p_brand, 12, '*') AS padded, trim(p_name) AS trimmed, " +
          "regexp_extract(p_name, '([a-z]+)', 1) AS first_word, " +
          "replace(p_type, ' ', '_') AS type_u, " +
          "CAST(length(p_name) AS BIGINT) AS name_len, " +
          "CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words, " +
          "p_name LIKE '%a%' AS has_a " +
          "FROM part ORDER BY p_partkey"),
      (s, d) =>
        Tables.t(s, d, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          lower(col("p_brand")).as("lo_brand"),
          substring(col("p_name"), 1, 8).as("sub8"),
          concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          trim(col("p_name")).as("trimmed"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"),
          length(col("p_name")).cast("long").as("name_len"),
          size(split(col("p_name"), " ")).cast("long").as("n_words"),
          col("p_name").like("%a%").as("has_a"))
          .orderBy("p_partkey")),

    // I2 — datetime family over orders. DuckDB dayofweek is 0=Sunday while
    // Spark's is 1=Sunday, hence the +1 on the oracle side.
    QueryDef(
      "func_date",
      Some(
        "SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start, " +
          "CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo, " +
          "CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow, " +
          "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002, " +
          "CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus30, " +
          "last_day(CAST(o_orderdate AS DATE)) AS eom, CAST(o_orderdate AS DATE) AS od " +
          "FROM orders ORDER BY o_orderkey"),
      (s, d) =>
        Tables.t(s, d, "orders").select(
          col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          datediff(lit("2002-01-01").cast("date"), to_date(col("o_orderdate"))).cast("long").as("days_to_2002"),
          date_add(to_date(col("o_orderdate")), 30).cast("timestamp").as("plus30"),
          last_day(to_date(col("o_orderdate"))).as("eom"),
          to_date(col("o_orderdate")).as("od"))
          .orderBy("o_orderkey")),

    // I3 — math family over part.
    QueryDef(
      "func_math",
      Some(
        s"SELECT p_partkey, CAST(abs(CAST(p_retailprice AS ${Q.D4}) - 950) AS ${Q.D6})::DOUBLE AS abs_dev, " +
          "CAST(ceil(p_retailprice) AS BIGINT) AS ceil_p, CAST(floor(p_retailprice) AS BIGINT) AS floor_p, " +
          "pow(p_size, 2) AS size_sq, sqrt(p_retailprice) AS sqrt_p, " +
          "round(ln(p_retailprice), 6) AS ln_p, round(exp(p_size * 0.1), 6) AS exp_s, " +
          "CAST(p_partkey % 7 AS BIGINT) AS pmod7, " +
          "CAST(sign(p_retailprice - 950) AS BIGINT) AS sgn " +
          "FROM part ORDER BY p_partkey"),
      (s, d) =>
        Tables.t(s, d, "part").select(
          col("p_partkey"),
          Q.out6(abs(Q.dec4(col("p_retailprice")) - 950)).as("abs_dev"),
          ceil(col("p_retailprice")).cast("long").as("ceil_p"),
          floor(col("p_retailprice")).cast("long").as("floor_p"),
          pow(col("p_size"), 2).as("size_sq"),
          sqrt(col("p_retailprice")).as("sqrt_p"),
          round(log(col("p_retailprice")), 6).as("ln_p"),
          round(exp(col("p_size") * 0.1), 6).as("exp_s"),
          pmod(col("p_partkey"), lit(7)).cast("long").as("pmod7"),
          signum(col("p_retailprice") - 950).cast("long").as("sgn"))
          .orderBy("p_partkey")),

    // I4 — array family + higher-order functions over document tokens.
    QueryDef(
      "func_array",
      Some(
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, " +
          "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq, " +
          "list_contains(string_split(text, ' '), 'spark') AS has_spark, " +
          "array_to_string(list_slice(list_sort(string_split(text, ' ')), 1, 3), ',') AS first3, " +
          "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS sum_len, " +
          "CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 4)) AS BIGINT) AS n_long " +
          "FROM documents ORDER BY doc_id"),
      (s, d) => {
        // Sort-first: the array HOFs are the expensive part, so run
        // the range sort over the raw (doc_id, text) rows — the sampling
        // pass then re-executes only the scan, and the HOF projection runs
        // exactly once, post-sort, at explicit cluster width.
        val toks = split(col("text"), " ")
        Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_toks"),
            size(array_distinct(toks)).cast("long").as("n_uniq"),
            array_contains(toks, "spark").as("has_spark"),
            array_join(slice(sort_array(toks), 1, 3), ",").as("first3"),
            aggregate(transform(toks, x => length(x).cast("long")), lit(0L), (acc, x) => acc + x)
              .as("sum_len"),
            size(filter(toks, x => length(x) > 4)).cast("long").as("n_long"))
      }),

    // I5 — map family: parse props to MapType and explode.
    QueryDef(
      "func_map",
      Some(
        "SELECT event_id, CAST(len(json_keys(props)) AS BIGINT) AS n_keys, " +
          "k AS key, CAST(json_extract_string(props, k) AS BIGINT) AS value " +
          "FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events) " +
          "ORDER BY event_id, key"),
      (s, d) => {
        // Sort BEFORE parsing: a global sort's range exchange executes its
        // child twice (bound-sampling pass + real pass), so ordering the
        // narrow scan output first means the sampler pays a 2-column
        // parquet scan instead of 2× the JSON parse + explode (sf10
        // decomposition: the parse-then-sort shape cost 154-169 s vs 64 s
        // for the same child under a sample-free hash exchange). event_id
        // is unique, so sorting rows by event_id and exploding each map's
        // entries in key order yields exactly ORDER BY (event_id, key);
        // Project/Generate preserve the sorted partition order.
        val m = from_json(col("props"), MapType(StringType, LongType))
        Tables.events(s, d)
          .select(col("event_id"), col("props"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
          .sortWithinPartitions("event_id")
          .select(col("event_id"), size(m).cast("long").as("n_keys"),
            explode(array_sort(map_entries(m))).as("e"))
          .select(col("event_id"), col("n_keys"),
            col("e.key").as("key"), col("e.value").as("value"))
      }),

    // I6 — JSON family: path extraction, typed cast, missing path.
    QueryDef(
      "func_json",
      Some(
        "SELECT event_id, json_extract_string(props, '$.k') AS k_str, " +
          "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num, " +
          "json_extract_string(props, '$.missing') AS missing " +
          "FROM events ORDER BY event_id"),
      (s, d) =>
        // Sort-first (same reasoning as func_map): the global sort's
        // sampling pass re-executes a shuffle-free child, so ordering the
        // narrow scan first means bounds are sampled off a 2-column
        // parquet read and the JSON extraction runs exactly once. Using
        // json_tuple parses each props string once for both paths, where
        // 2× get_json_object + the sampling re-execution parsed it 6×.
        Tables.events(s, d)
          .select(col("event_id"), col("props"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
          .sortWithinPartitions("event_id")
          .select(col("event_id"), json_tuple(col("props"), "k", "missing"))
          .select(col("event_id"), col("c0").as("k_str"),
            col("c0").cast("long").as("k_num"), col("c1").as("missing"))),

    // I6v — VARIANT semi-structured type (Spark 4): props parses ONCE into
    // the binary variant encoding, then typed variant_get extractions —
    // the modern engine's answer to repeated get_json_object string
    // re-parsing (one parse, O(1) typed field reads, shreddable at the
    // scan at 100 TB). The oracle reads the same fields with DuckDB's JSON
    // extraction; values (not representations) are compared.
    QueryDef(
      "func_variant",
      Some(
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num, " +
          "CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod, " +
          "json_extract_string(props, '$.missing') IS NULL AS missing_null " +
          "FROM events ORDER BY event_id"),
      (s, d) =>
        // Sort-first: sample the sort bounds off the narrow scan,
        // parse into the variant encoding once above the sort.
        Tables.events(s, d)
          .select(col("event_id"), col("props"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
          .sortWithinPartitions("event_id")
          .withColumn("v", parse_json(col("props")))
          .select(
            col("event_id"),
            expr("variant_get(v, '$.k', 'bigint')").as("k_num"),
            (expr("variant_get(v, '$.k', 'bigint')") % 10).as("k_mod"),
            expr("variant_get(v, '$.missing', 'string')").isNull.as("missing_null"))),

    // I6t — TRY_CAST: malformed input degrades to NULL instead of failing
    // the job — the difference between a 100 TB ingest that finishes with
    // a quarantine column and one that dies at hour 9. Same function name
    // and semantics in both engines; inputs synthesized so every row
    // carries one good and one bad parse.
    QueryDef(
      "func_try_cast",
      Some(
        "SELECT event_id, TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS good_num, " +
          "TRY_CAST(event_type AS BIGINT) AS bad_num, " +
          "TRY_CAST(CASE WHEN event_id % 2 = 0 THEN '2024-01-0' ELSE '2024-01-02' END AS DATE) AS maybe_date " +
          "FROM events ORDER BY event_id"),
      (s, d) =>
        // Sort-first, not spread-first: the range sort itself
        // redistributes the narrow scan across the cluster, so the
        // parse-heavy projection runs once, post-sort, at the sort's
        // output width. A projection below the sort would run twice:
        // range-bound sampling re-executes a shuffle-free child, and even
        // a spread child re-runs everything above the materialized
        // exchange.
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"))
          .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
          .sortWithinPartitions("event_id")
          .selectExpr(
            "event_id",
            "TRY_CAST(CAST(event_id AS STRING) AS BIGINT) AS good_num",
            "TRY_CAST(event_type AS BIGINT) AS bad_num",
            "TRY_CAST(CASE WHEN event_id % 2 = 0 THEN '2024-01-0' ELSE '2024-01-02' END AS DATE) AS maybe_date")),

    // I6c — collated comparison (Spark 4 collations): grouping under
    // UTF8_LCASE makes case-insensitivity a property of the COLUMN TYPE —
    // the comparison/hash the whole plan (joins, aggs, sorts) then shares,
    // instead of wrapping every reference in lower() and hoping codegen
    // dedups it. Case noise is synthesized from the key; output uses
    // lower(min(s)) so the emitted representative is deterministic either
    // way. Oracle groups by lower() — equivalent for this ASCII domain.
    QueryDef(
      "func_collation_ci",
      Some(
        "WITH s AS (SELECT CASE WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment) " +
          "WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg_raw " +
          "FROM customer) " +
          "SELECT lower(min(seg_raw)) AS seg, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(count(DISTINCT seg_raw) AS BIGINT) AS n_forms " +
          "FROM s GROUP BY lower(seg_raw) ORDER BY seg"),
      (s, d) =>
        Tables.t(s, d, "customer")
          .selectExpr(
            "CASE WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment) " +
              "WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg_raw")
          .groupBy(expr("collate(seg_raw, 'UTF8_LCASE')").as("k"))
          .agg(lower(min(col("seg_raw"))).as("seg"), count(lit(1)).as("n"),
            countDistinct(expr("collate(seg_raw, 'UTF8_BINARY')")).as("n_forms"))
          .select("seg", "n", "n_forms")
          .orderBy("seg")),

    // I7 — conditional / null family.
    QueryDef(
      "func_conditional_null",
      Some(
        "SELECT c_custkey, coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg, " +
          s"CAST(least(CAST(c_acctbal AS ${Q.D4}), CAST(1000 AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS least_bal, " +
          s"CAST(greatest(CAST(c_acctbal AS ${Q.D4}), CAST(1000 AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS greatest_bal, " +
          "CASE WHEN c_name IS NOT NULL THEN 'named' ELSE 'anon' END AS named, " +
          "isnan(c_acctbal) AS is_nan " +
          "FROM customer ORDER BY c_custkey"),
      (s, d) =>
        Tables.t(s, d, "customer").select(
          col("c_custkey"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
          Q.out6(least(Q.dec4(col("c_acctbal")), lit(1000).cast(DecimalType(18, 4)))).as("least_bal"),
          Q.out6(greatest(Q.dec4(col("c_acctbal")), lit(1000).cast(DecimalType(18, 4)))).as("greatest_bal"),
          expr("nvl2(c_name, 'named', 'anon')").as("named"),
          isnan(col("c_acctbal")).as("is_nan"))
          .orderBy("c_custkey")),

    // I8 — bitwise family: AND/OR/XOR, shifts, popcount — the primitives
    // behind bitmap indexes (agg_bitmap_distinct), bloom hashing, and flag
    // packing. All codegen'd integer ops; only the XOR spelling differs by
    // dialect (Spark `^`, DuckDB `xor()`), values are identical int64.
    QueryDef(
      "func_bitwise",
      Some(
        "SELECT l_orderkey, l_linenumber, " +
          "(l_orderkey & 255) AS b_and, (l_orderkey | 4096) AS b_or, " +
          "xor(l_orderkey, l_partkey) AS b_xor, " +
          "(l_linenumber << 3) AS b_shl, (l_orderkey >> 2) AS b_shr, " +
          "CAST(bit_count(CAST(l_orderkey AS BIGINT)) AS INT) AS popcnt " +
          "FROM lineitem WHERE l_orderkey % 100 = 0 ORDER BY l_orderkey, l_linenumber"),
      (s, d) =>
        Tables.t(s, d, "lineitem")
          .where(pmod(col("l_orderkey"), lit(100)) === 0)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            expr("l_orderkey & 255").as("b_and"),
            expr("l_orderkey | 4096").as("b_or"),
            expr("l_orderkey ^ l_partkey").as("b_xor"),
            expr("shiftleft(l_linenumber, 3)").as("b_shl"),
            expr("shiftright(l_orderkey, 2)").as("b_shr"),
            bit_count(col("l_orderkey")).as("popcnt"))
          .orderBy("l_orderkey", "l_linenumber"))
  )
}
