package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, Q, QueryDef, Session, Tables}

/** Scale-pattern operators: the physical/pipeline
  * techniques a 100 TB warehouse deployment leans on daily.
  *
  *  - SCD2 merge: CDC event runs → validity-interval dimension history
  *    (gaps-and-islands; every window partitions by the entity key).
  *  - Runtime bloom-filter join: Spark's InjectRuntimeFilter semi-join
  *    reduction — the selective dimension side builds a bloom filter that
  *    prunes fact rows BEFORE the join shuffle (PlanSpec asserts
  *    might_contain in the executed plan).
  *  - Z-order layout: Morton-interleaved sort key co-locates two dimensions
  *    so ordinary parquet min/max stats prune multi-dimensional predicates
  *    (OpsSpec asserts per-file z-ranges are disjoint).
  *  - Exact distributed percentiles: two-pass histogram + targeted
  *    in-bucket rank — exact quantiles with no global single-partition sort.
  *  - TPC-H Q5-shaped multi-join SQL, dialect-portable verbatim text.
  *  - Incremental aggregate merge: re-aggregable partial state written to
  *    parquet, then union-merged — the batch twin of a streaming upsert.
  */
object Advanced {

  /** Total PageRank mass in fixed-point units (1 rank = 1e-12). All rank
    * math is BIGINT floor division — deterministic and associative, so the
    * distributed sums hash-match DuckDB exactly (IEEE double PageRank would
    * depend on reduction order).
    */
  private val prMass = 1000000000000L
  private val prIters = 6

  /** Unrolled-CTE oracle: r0..r6 chained (recursive CTEs forbid aggregates
    * in the recursive term), same integer fixed-point arithmetic as the
    * Spark loop. sum(BIGINT) is HUGEINT in DuckDB — cast back per round.
    */
  private def pagerankOracle: String = {
    val iters = (1 to prIters).map { i =>
      s"r$i AS (SELECT e.dst AS id, CAST((SELECT (15 * ($prMass // c)) // 100 FROM n) + " +
        "(85 * sum(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank " +
        s"FROM r${i - 1} r JOIN edges e ON r.id = e.src JOIN deg d ON d.src = r.id " +
        "GROUP BY e.dst)"
    }.mkString(", ")
    "WITH base AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src, " +
      "CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "edges AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base), " +
      "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src), " +
      "n AS (SELECT count(DISTINCT src) AS c FROM edges), " +
      s"r0 AS (SELECT DISTINCT src AS id, CAST((SELECT $prMass // c FROM n) AS BIGINT) AS rank FROM edges), " +
      iters +
      s" SELECT id, rank FROM r$prIters ORDER BY id"
  }

  /** End of time for open SCD2 intervals: 9999-12-31T00:00:00Z in millis. */
  private val scd2Open = 253402214400000L

  /** Morton interleave of the low 8 bits of two non-negative int columns —
    * generated as an expression string in each engine's bitwise dialect so
    * the z-values themselves are oracle-checked.
    */
  private def zSpark(a: String, b: String): String =
    (0 until 8).map(i =>
      s"(shiftleft((shiftright($a, $i) & 1), ${2 * i}) | " +
        s"shiftleft((shiftright($b, $i) & 1), ${2 * i + 1}))").mkString("(", " | ", ")")

  private def zDuck(a: String, b: String): String =
    (0 until 8).map(i =>
      s"(((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1}))")
      .mkString("(", " | ", ")")

  /** TPC-H Q5 shape over the full star (region→nation→supplier ∧ customer
    * co-nation), one ANSI text both engines run verbatim — the multi-join
    * plan-quality benchmark: three dimension sides must broadcast, the two
    * fact tables must join on their keys only.
    */
  private val q5Sql =
    "SELECT n_name, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY n_name ORDER BY revenue DESC, n_name"

  /** TPC-H Q7 shape (nation-pair shipping volume): the two fact tables join
    * on their own keys while THREE dimension sides (supplier, customer, and
    * nation twice under different aliases) broadcast; the symmetric
    * nation-pair predicate lands on the dimension rows before the join so
    * only matching facts survive the probe. Yearly rollup is a combinable
    * hash agg on a 3-value grouping key. One ANSI text, verbatim in both
    * engines.
    */
  private val q7Sql =
    "SELECT supp_nation, cust_nation, l_year, " +
      "CAST(CAST(sum(volume) AS DECIMAL(38,6)) AS DOUBLE) AS revenue " +
      "FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
      "CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year, " +
      "CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS volume " +
      "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey " +
      "JOIN orders ON o_orderkey = l_orderkey " +
      "JOIN customer ON c_custkey = o_custkey " +
      "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
      "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
      "WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
      "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) shipping " +
      "GROUP BY supp_nation, cust_nation, l_year " +
      "ORDER BY supp_nation, cust_nation, l_year"

  /** TPC-H Q18 shape (large-volume customers): IN-subquery with HAVING over
    * an aggregate — Catalyst turns the subquery into a left-semi join
    * against the re-aggregated lineitem, so the filter costs one combinable
    * agg + one key-partitioned semi join, never a per-row subquery probe.
    * One ANSI text, verbatim in both engines.
    */
  private val q18Sql =
    "SELECT c_name, o_orderkey, o_orderdate, o_totalprice, " +
      "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey " +
      "HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > CAST(180 AS DECIMAL(18,4))) " +
      "GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"

  /** Q21 shape (suppliers who kept orders waiting): the hardest TPC-H join
    * topology — a correlated EXISTS (another supplier in the same order)
    * AND a correlated NOT EXISTS (no OTHER supplier was late) against the
    * same fact CTE. Catalyst decorrelates both into one left-semi and one
    * left-anti join keyed on l_orderkey with the `<>` residual — three
    * key-partitioned joins total, never a per-row probe; the dims
    * broadcast. "Late" is shipdate > orderdate + 60 days (this schema
    * carries no commit/receipt dates). One ANSI text, verbatim both
    * engines.
    */
  private val q21Sql =
    "WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F') " +
      "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait " +
      "FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY " +
      "AND n_name IN ('NATION_3','NATION_7') " +
      "AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey " +
      "AND l2.l_suppkey <> l1.l_suppkey) " +
      "AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey " +
      "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY) " +
      "GROUP BY s_name ORDER BY numwait DESC, s_name"

  /** WITH RECURSIVE hierarchy walk (Spark 4's recursive CTE — the
    * org-chart / BOM traversal no fixed-depth unrolling expresses): every
    * customer climbs the implicit binary-halving tree (parent =
    * floor(key/2)) to the root; depth distribution out. The division is
    * spelled floor(x / 2.0) because the shared text must parse in BOTH
    * dialects (`DIV` is Spark-only, `//` DuckDB-only) — exact for keys
    * < 2^52. Each iteration is one shuffle-free narrow step; Spark
    * terminates when the recursive arm is empty.
    */
  private val recursiveSql =
    "WITH RECURSIVE anc AS (" +
      "SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer " +
      "UNION ALL SELECT node, CAST(floor(cur / 2.0) AS BIGINT), depth + 1 FROM anc WHERE cur > 1) " +
      "SELECT depth, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT node, max(depth) AS depth FROM anc GROUP BY node) " +
      "GROUP BY depth ORDER BY depth"

  /** Q13 shape (customer order-count distribution): the aggregate-of-
    * aggregates over a LEFT OUTER join — zero-order customers must survive
    * to the c_count=0 bucket, so the join cannot degrade to inner and the
    * exclusion predicate must live in the ON clause, not WHERE. Two hash
    * aggs, both combinable; the first shares the join's c_custkey
    * partitioning so only one exchange feeds both. One ANSI text, verbatim
    * both engines (priority exclusion stands in for TPC-H's comment LIKE —
    * this schema carries no o_comment).
    */
  private val q13Sql =
    "WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
      "FROM customer LEFT OUTER JOIN orders " +
      "ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%' " +
      "GROUP BY c_custkey) " +
      "SELECT CAST(c_count AS BIGINT) AS c_count, CAST(count(*) AS BIGINT) AS custdist " +
      "FROM co GROUP BY c_count ORDER BY custdist DESC, c_count DESC"

  /** TPC-H Q4 shape: correlated EXISTS whose condition mixes the equi key
    * with a correlated date-arithmetic inequality — the decorrelation must
    * keep the non-equi predicate as a semi-join residual. (Adapted: this
    * schema has no l_commitdate/l_receiptdate, so "shipped more than 30
    * days after ordering" stands in for TPC-H's late-commit predicate.)
    */
  private val q4Sql =
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count " +
      "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND o_orderdate < TIMESTAMP '1996-07-01' " +
      "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
      "AND l_shipdate > o_orderdate + INTERVAL 30 DAY) " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"

  /** TPC-H Q16 shape: NOT IN (subquery) — the null-aware anti-join plan
    * class none of the other keys exercise — feeding a count(DISTINCT)
    * aggregate. (Adapted: lineitem stands in for partsupp as the
    * part↔supplier pair source; the excluded suppliers are a name-pattern
    * subset.)
    */
  private val q16Sql =
    "SELECT p_brand, CAST(p_size AS BIGINT) AS p_size, " +
      "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt " +
      "FROM part JOIN lineitem ON p_partkey = l_partkey " +
      "WHERE p_brand <> 'Brand#13' AND p_size IN (1, 4, 7, 10, 13) " +
      "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7') " +
      "GROUP BY p_brand, p_size ORDER BY supplier_cnt DESC, p_brand, p_size"

  /** TPC-H Q22 shape: scalar aggregate subquery + NOT EXISTS anti-join.
    * The above-average-balance cut is spelled as an exact decimal
    * cross-multiplication (balance·n > total) instead of comparing against
    * avg(): division rounds differently across engines at the last digit,
    * and a customer sitting on the boundary would flip the row set; the
    * cross-multiplied form is integer-exact in both. (Adapted: "never
    * placed an urgent order" stands in for TPC-H's no-orders cut — this
    * data has no orderless customers — and c_mktsegment for cntrycode.)
    */
  private val q22Sql =
    "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust, " +
      "CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS totacctbal " +
      "FROM customer " +
      "WHERE CAST(c_acctbal AS DECIMAL(18,4)) * (SELECT CAST(count(*) AS DECIMAL(18,0)) " +
      "FROM customer WHERE c_acctbal > 0) > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) " +
      "AS DECIMAL(38,4)) FROM customer WHERE c_acctbal > 0) " +
      "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
      "AND o_orderpriority LIKE '1-%') " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment"

  /** TPC-H Q17 shape: correlated SCALAR AGGREGATE subquery in WHERE — the
    * one decorrelation class the other sql_api keys don't exercise
    * (EXISTS → q4, NOT IN → q16, uncorrelated scalar + NOT EXISTS → q22):
    * Catalyst rewrites each correlated scalar agg into a per-correlation-key
    * COMBINABLE aggregate joined back on l_partkey (broadcast at bench
    * scale, key-partitioned at 100 TB) — never a per-outer-row
    * re-execution; the `<` cut rides the second join as a non-equi
    * residual. The below-one-fifth-of-average test is cross-multiplied
    * (qty·5·cnt < sum) over exact decimals sized to stay inside
    * DECIMAL(38): avg() division would round engine-differently at a
    * boundary row. That exactness costs one extra aggregate —
    * MergeScalarSubqueries fuses only UNCORRELATED scalars, so the count
    * and sum subqueries plan as two per-partkey aggregates over lineitem
    * (verified in the executed plan) rather than one struct-returning
    * pass; both stay map-side-combinable on the join key. (Adapted:
    * p_size ≤ 3 stands in for TPC-H's brand+container filter — this
    * schema carries no p_container.)
    */
  private val q17Sql =
    "SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small, " +
      "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS small_qty_revenue " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey " +
      "WHERE p_size <= 3 " +
      "AND CAST(l_quantity AS DECIMAL(14,4)) * CAST(5 AS DECIMAL(2,0)) * " +
      "CAST((SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey) AS DECIMAL(18,0)) " +
      "< (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) " +
      "FROM lineitem l2 WHERE l2.l_partkey = p_partkey) " +
      "GROUP BY p_brand ORDER BY p_brand"

  /** TPC-H Q15 shape: scalar subquery over a grouped CTE — the argmax /
    * top-view pattern (which supplier(s) hit the max quarterly revenue).
    * The revenue view is referenced twice (join input + inside max());
    * Catalyst inlines the CTE into both, planning the max() side as an
    * independent 1-row subquery whose result broadcasts into the filter —
    * each side is a pushed-down quarter-slice scan + map-side-combinable
    * per-suppkey agg, so the duplicated work is one filtered scan, not a
    * shuffle (the single-text price of the Q15 shape; a production
    * pipeline computes the view once and takes max() OVER () on the
    * supplier-cardinality rollup). Revenue sums in exact DECIMAL(38,8)
    * (same product text as q5) so the max-equality cut can't be flipped
    * by IEEE merge order — with doubles, ties at the top would be engine-
    * and partitioning-dependent.
    */
  private val q15Sql =
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS total_rev " +
      "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
      "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) " +
      "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, " +
      "CAST(total_rev AS DOUBLE) AS total_rev " +
      "FROM supplier JOIN revenue ON s_suppkey = supplier_no " +
      "WHERE total_rev = (SELECT max(total_rev) FROM revenue) " +
      "ORDER BY s_suppkey"

  /** TPC-H Q19 shape: disjunctive mixed-side join predicate — an
    * OR-of-conjunct-groups where every disjunct mixes build-side (part) and
    * probe-side (lineitem) columns. The plan class none of the other
    * sql_api keys exercise: the optimizer must (a) extract the common
    * p_partkey = l_partkey conjunct as the equi-join key — naively the OR
    * makes the whole predicate non-equi and the join a nested loop — and
    * (b) CNF-distribute the disjunction into the per-side implied filters
    * (p_brand IN (…) / p_size ≤ 35 on the part scan, l_quantity BETWEEN
    * 1 AND 40 on lineitem) so both scans prune BEFORE the join, leaving
    * the full OR as the join residual. Revenue in the q5/q15 exact-DECIMAL
    * product text; counts keep each disjunct's contribution auditable.
    */
  private val q19Sql =
    "SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items, " +
      "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey " +
      "WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) " +
      "OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30) " +
      "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40) " +
      "GROUP BY p_brand ORDER BY p_brand"

  /** TPC-H Q20 shape: STACKED semi-joins with an aggregate between them —
    * the nested-IN chain (supplier IN (… lineitem GROUP BY … HAVING …
    * WHERE partkey IN (… part …))) that composes the classes q18 (semi
    * over re-aggregate) and q4 (semi against a filter) exercise singly.
    * Catalyst plans it inside-out: the part-name subquery becomes a
    * left-semi join pruning lineitem BEFORE its per-suppkey aggregate
    * (semi-joins commute under the GROUP BY because l_partkey is not an
    * agg input — pruning first is the 100 TB-critical order), the HAVING
    * rides the aggregate, and the outer IN becomes a second left-semi
    * against the ~supplier-cardinality agg result. Threshold compare in
    * exact DECIMAL so a boundary supplier can't flip with merge order.
    */
  private val q20Sql =
    "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, " +
      "CAST(CAST(s_acctbal AS DECIMAL(18,4)) AS DOUBLE) AS s_acctbal " +
      "FROM supplier WHERE s_suppkey IN (" +
      "SELECT l_suppkey FROM lineitem " +
      "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') " +
      "AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY l_suppkey " +
      "HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > CAST(200 AS DECIMAL(18,4))) " +
      "ORDER BY s_suppkey"

  /** TPC-H Q2 shape: correlated scalar aggregate whose subquery body is
    * itself a MULTI-TABLE JOIN, consumed by equality — the argmin-by-
    * equality pattern (cheapest regional supplier per part). Two classes
    * q17 does not touch: (a) the decorrelation must hoist a per-partkey
    * min() over a 4-way join (lineitem⋈supplier⋈nation⋈region), pushing
    * the correlation key through the join before aggregating — a per-
    * outer-row re-execution would run the 4-way join once per part; (b)
    * the agg result re-enters as an EQUALITY residual (argmin), so ties
    * keep every witness row. min() is order- and merge-independent, so
    * double equality is safe cross-engine (unlike sums). DISTINCT guards
    * against the fact table carrying repeated (part, supplier) rows at
    * the min price — this schema's lineitem stands in for partsupp.
    * (Adapted: p_size ≤ 10 for TPC-H's size+type filter, AFRICA for the
    * region parameter.)
    */
  private val q2Sql =
    "SELECT DISTINCT CAST(p_partkey AS BIGINT) AS p_partkey, " +
      "CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name, " +
      "CAST(l_extendedprice AS DOUBLE) AS min_price " +
      "FROM part, supplier, nation, region, lineitem " +
      "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
      "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
      "AND r_name = 'AFRICA' AND p_size <= 10 " +
      "AND l_extendedprice = (" +
      "SELECT min(l2.l_extendedprice) " +
      "FROM lineitem l2, supplier s2, nation n2, region r2 " +
      "WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey " +
      "AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey " +
      "AND r2.r_name = 'AFRICA') " +
      "ORDER BY p_partkey, s_suppkey"

  /** SQL-standard LATERAL correlated subquery (top-n per group). */
  private val lateralSql =
    "SELECT n_name, c_name, CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE) AS acctbal " +
      "FROM nation, LATERAL (SELECT c_name, c_acctbal FROM customer " +
      "WHERE c_nationkey = n_nationkey ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t " +
      "ORDER BY n_name, acctbal DESC, c_name"

  val defs: Seq[QueryDef] = Seq(

    // SCD2 history build: collapse each user's consecutive same-type event
    // runs into validity intervals [valid_from, valid_to). Gaps-and-islands:
    // lag() marks type changes, a running sum numbers the runs, one
    // aggregate per run, lead() closes each interval with the next run's
    // start (open intervals get the year-9999 sentinel). Every window and
    // the aggregate partition by user_id, so at 100 TB the whole operator is
    // one user-keyed shuffle reused across all four steps.
    QueryDef(
      "merge_scd2",
      Some(
        "WITH e AS (SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms, event_id FROM events), " +
          "m AS (SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) " +
          "IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e), " +
          "x AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx FROM m), " +
          "r AS (SELECT user_id, run_idx, event_type, min(ts_ms) AS valid_from, " +
          "CAST(count(*) AS BIGINT) AS n_events FROM x GROUP BY user_id, run_idx, event_type) " +
          "SELECT user_id, CAST(run_idx AS BIGINT) AS run_idx, event_type, valid_from, " +
          s"coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_idx), $scd2Open) AS valid_to, " +
          "n_events FROM r ORDER BY user_id, run_idx"),
      (s, d) => {
        val byTime = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        val runs = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
          .withColumn("chg",
            when(not(lag(col("event_type"), 1).over(byTime) <=> col("event_type")), 1L).otherwise(0L))
          .withColumn("run_idx", sum(col("chg"))
            .over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("run_idx"), col("event_type"))
          .agg(min(col("ts_ms")).as("valid_from"), count(lit(1)).as("n_events"))
        // run_idx is the deterministic run order (monotone in event time), so
        // lead() over it is total even when two runs share a start timestamp
        runs
          .withColumn("valid_to", coalesce(
            lead(col("valid_from"), 1).over(Window.partitionBy("user_id").orderBy("run_idx")),
            lit(scd2Open)))
          .select(col("user_id"), col("run_idx"), col("event_type"),
            col("valid_from"), col("valid_to"), col("n_events"))
          .orderBy("user_id", "run_idx")
      }),

    // Runtime bloom-filter join: the selective orders side plants a bloom
    // filter on l_orderkey that prunes lineitem rows before the join
    // shuffle — Spark's InjectRuntimeFilter, the semi-join reduction that
    // matters most at 100 TB (most fact rows never shuffle at all). Runs on
    // a child session (the confs are read when the lazy plan is planned)
    // so disabling broadcast (to force the shuffle join the filter exists
    // for) and the size thresholds can't leak into other queries. Bloom
    // false positives only cost work — the equi-join still verifies
    // exactly, so the oracle is the plain join.
    QueryDef(
      "join_runtime_bloom",
      Some(
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(l_extendedprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F' " +
          "GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, d) => {
        val s2 = Session.child(s, "join_runtime_bloom",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
        val sel = Tables.t(s2, d, "orders")
          .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
        Tables.t(s2, d, "lineitem")
          .join(sel, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("l_extendedprice")))).as("sum_price"))
          .orderBy("l_returnflag")
      }),

    // Z-order layout: Morton-interleave (custkey low bits × year) into one
    // sort key, range-partition + sort the table by it, and answer a
    // 2-dimensional box predicate from the re-read layout. Sorting by z
    // makes BOTH dimensions locally clustered, so plain per-file/row-group
    // min/max stats prune a 2-D query — the Delta/Iceberg OPTIMIZE ZORDER
    // technique, built from arithmetic. The z math is oracle-checked
    // bit-for-bit; OpsSpec asserts the physical claim (disjoint per-file
    // z-ranges).
    QueryDef(
      "zorder_layout",
      Some(
        "WITH b AS (SELECT CAST(o_custkey % 256 AS INT) AS ck, " +
          "CAST(year(o_orderdate) - 1995 AS INT) AS yb, o_totalprice FROM orders), " +
          s"z AS (SELECT *, CAST(${zDuck("ck", "yb")} AS BIGINT) AS z FROM b) " +
          "SELECT CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_total, " +
          "min(z) AS z_min, max(z) AS z_max " +
          "FROM z WHERE ck BETWEEN 32 AND 95 AND yb BETWEEN 1 AND 2"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_zorder", d)
        Tables.t(s, d, "orders")
          .select(
            col("o_orderkey"),
            (col("o_custkey") % 256).cast("int").as("ck"),
            (year(col("o_orderdate")) - 1995).cast("int").as("yb"),
            col("o_totalprice"))
          .withColumn("z", expr(zSpark("ck", "yb")).cast("long"))
          .repartitionByRange(8, col("z"))
          .sortWithinPartitions("z")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .where(col("ck").between(32, 95) && col("yb").between(1, 2))
          .agg(
            count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"),
            min(col("z")).as("z_min"), max(col("z")).as("z_max"))
      }),

    // Exact distributed percentiles without a global sort: pass 1 builds a
    // fixed-width value histogram (one combinable hash agg; the driver holds
    // only the ~1000-bucket table — same footprint class as IVF centroids),
    // locates the bucket + in-bucket rank for each target; pass 2 ranks only
    // inside the (at most 3) needed buckets. The naive alternative —
    // row_number() over a global ORDER BY — is a single-partition window,
    // the exact shape that dies first at scale.
    QueryDef(
      "agg_exact_percentile",
      Some(
        "WITH r AS (SELECT l_extendedprice AS v, row_number() OVER (ORDER BY l_extendedprice) AS rn, " +
          "count(*) OVER () AS n FROM lineitem) " +
          "SELECT CAST(p AS BIGINT) AS p, CAST(v AS DOUBLE) AS value " +
          "FROM (VALUES (1), (2), (3)) q(p) JOIN r ON rn = (n - 1) * p // 4 + 1 ORDER BY p"),
      (s, d) => {
        import s.implicits._
        val bw = 128.0
        val v = Tables.t(s, d, "lineitem").select(col("l_extendedprice").as("v"))
        val hist = v.groupBy((col("v") / bw).cast("long").as("b")).agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val n = hist.map(_._2).sum
        val targets = Seq(1, 2, 3).map { p =>
          val rank = (n - 1) * p / 4 + 1 // kth smallest, 1-indexed quartile rank
          var below = 0L; var bi = 0
          while (below + hist(bi)._2 < rank) { below += hist(bi)._2; bi += 1 }
          (hist(bi)._1, (rank - below).toInt, p)
        }
        val wanted = targets.map(_._1).distinct
        v.withColumn("b", (col("v") / bw).cast("long"))
          .where(col("b").isin(wanted: _*))
          .withColumn("idx", row_number().over(Window.partitionBy("b").orderBy("v")))
          .join(broadcast(targets.toDF("b", "idx", "p")), Seq("b", "idx"))
          .select(col("p").cast("long").as("p"), col("v").cast("double").as("value"))
          .orderBy("p")
      }),

    // Dialect-portable multi-join SQL (TPC-H Q5 shape): see q5Sql above.
    QueryDef(
      "sql_api_q5",
      Some(q5Sql),
      (s, d) => Tables.sql(s, d, "customer", "orders", "lineitem", "supplier", "nation", "region")(q5Sql)),

    // Dialect-portable Q7 shape (nation-pair volume): see q7Sql above.
    QueryDef(
      "sql_api_q7",
      Some(q7Sql),
      (s, d) => Tables.sql(s, d, "supplier", "lineitem", "orders", "customer", "nation")(q7Sql)),

    // Dialect-portable Q18 shape (HAVING semi-join): see q18Sql above.
    QueryDef(
      "sql_api_q18",
      Some(q18Sql),
      (s, d) => Tables.sql(s, d, "customer", "orders", "lineitem")(q18Sql)),

    // Dialect-portable Q21 shape (EXISTS + NOT EXISTS decorrelation): see
    // q21Sql above.
    QueryDef(
      "sql_api_q21",
      Some(q21Sql),
      (s, d) => Tables.sql(s, d, "supplier", "lineitem", "orders", "nation")(q21Sql)),

    // Q13 shape: see q13Sql above.
    QueryDef(
      "sql_api_q13",
      Some(q13Sql),
      (s, d) => Tables.sql(s, d, "customer", "orders")(q13Sql)),

    // Q4 shape (correlated EXISTS with date-arithmetic residual): q4Sql.
    QueryDef(
      "sql_api_q4",
      Some(q4Sql),
      (s, d) => Tables.sql(s, d, "orders", "lineitem")(q4Sql)),

    // Q16 shape (NOT IN null-aware anti + count DISTINCT): q16Sql.
    QueryDef(
      "sql_api_q16",
      Some(q16Sql),
      (s, d) => Tables.sql(s, d, "part", "lineitem", "supplier")(q16Sql)),

    // Q22 shape (scalar subquery + NOT EXISTS anti-join): q22Sql.
    QueryDef(
      "sql_api_q22",
      Some(q22Sql),
      (s, d) => Tables.sql(s, d, "customer", "orders")(q22Sql)),

    // Q17 shape (correlated scalar-aggregate subquery decorrelation +
    // MergeScalarSubqueries): q17Sql.
    QueryDef(
      "sql_api_q17",
      Some(q17Sql),
      (s, d) => Tables.sql(s, d, "lineitem", "part")(q17Sql)),

    // Q15 shape (scalar max over a twice-referenced grouped CTE): q15Sql.
    QueryDef(
      "sql_api_q15",
      Some(q15Sql),
      (s, d) => Tables.sql(s, d, "supplier", "lineitem")(q15Sql)),

    // Q19 shape (disjunctive mixed-side join predicate): q19Sql.
    QueryDef(
      "sql_api_q19",
      Some(q19Sql),
      (s, d) => Tables.sql(s, d, "lineitem", "part")(q19Sql)),

    // Q20 shape (stacked semi-joins around an aggregate): q20Sql.
    QueryDef(
      "sql_api_q20",
      Some(q20Sql),
      (s, d) => Tables.sql(s, d, "supplier", "lineitem", "part")(q20Sql)),

    // Q2 shape (argmin-by-equality: correlated scalar agg over a 4-way
    // join): q2Sql.
    QueryDef(
      "sql_api_q2",
      Some(q2Sql),
      (s, d) => Tables.sql(s, d, "part", "supplier", "nation", "region", "lineitem")(q2Sql)),

    // Named-parameter SQL: the injection-safe templating path — dashboard /
    // service queries bind :params as TYPED literals through the parser
    // (never string interpolation), so user input can't change the plan
    // shape and the parameterized text stays cacheable. The oracle is the
    // same query with the literals inlined: equality proves binding ≡
    // literal semantics, including the timestamp coercion.
    QueryDef(
      "sql_api_parameterized",
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_total " +
          "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderstatus = 'O' " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => Tables.sql(s, d, "orders")(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_total " +
          // CAST inside the query: a bound java.sql.Timestamp would parse
          // in the JVM-default zone, but the cast uses the session's UTC
          "FROM orders WHERE o_orderdate >= CAST(:cutoff AS TIMESTAMP) " +
          "AND o_orderstatus = :status " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        Map("cutoff" -> "1996-01-01", "status" -> "O"))),

    // LATERAL correlated subquery: top-2 customers per nation written as
    // the SQL-standard LATERAL form (the shape ORMs and federated tools
    // emit). Catalyst decorrelates the per-row ORDER BY ... LIMIT into a
    // window-rank over a key-partitioned join — the per-group-top-n plan —
    // instead of re-running the subquery per outer row. One ANSI text
    // verbatim in both engines.
    QueryDef(
      "join_lateral_topn",
      Some(lateralSql),
      (s, d) => Tables.sql(s, d, "nation", "customer")(lateralSql)),

    // Recursive CTE hierarchy traversal: see recursiveSql above.
    QueryDef(
      "hierarchy_recursive_cte",
      Some(recursiveSql),
      (s, d) => {
        // Spark's cteRecursionRowLimit is a safety valve with a fixed 10⁶
        // default; this traversal legitimately emits N·(⌊log₂ maxKey⌋+1)
        // rows (~5·10⁷ at the 10× rehearsal scale — found by the sf1
        // rehearsal, where the default aborted the query). Size it from
        // table stats, exactly as a production job would from catalog
        // stats, instead of hoping the default fits.
        val st = Tables.t(s, d, "customer").agg(count(lit(1)), max(col("c_custkey"))).head()
        val depth = 66 - java.lang.Long.numberOfLeadingZeros(math.max(st.getLong(1), 1L))
        val rows = math.min(Int.MaxValue.toLong, st.getLong(0) * depth + 1000L)
        // The limit is read at EXECUTION time, after this lazy plan is
        // returned, so it goes on a child session: set on the caller's,
        // it would stay raised (up to Int.MaxValue) for every later query.
        val cs = Session.child(s, "hierarchy_recursive_cte", "spark.sql.cteRecursionRowLimit" -> rows.toString)
        Tables.sql(cs, d, "customer")(recursiveSql)
      }),

    // Incremental aggregate merge: per-key partial state (count + exact
    // decimal sum) for the historical slice is persisted to parquet; the
    // "new data" slice produces its own partials; the merge is a plain
    // re-aggregation of the union. Because the state is algebraic
    // (count/sum combine associatively), the daily 100 TB pipeline touches
    // only the delta — the oracle proves merged state ≡ recomputing from
    // scratch.
    QueryDef(
      "incremental_agg_merge",
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_total " +
          "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_aggstate", d)
        val o = Tables.t(s, d, "orders")
        def partial(slice: DataFrame): DataFrame = slice
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum(Q.dec4(col("o_totalprice"))).as("s"))
        val cut = lit("1998-01-01").cast("timestamp")
        partial(o.where(col("o_orderdate") < cut)).write.mode("overwrite").parquet(s"$tmp/v1")
        partial(o.where(col("o_orderdate") >= cut)).write.mode("overwrite").parquet(s"$tmp/delta")
        s.read.parquet(s"$tmp/v1").unionAll(s.read.parquet(s"$tmp/delta"))
          .groupBy("o_orderpriority")
          .agg(sum(col("cnt")).as("n"), Q.out6(sum(col("s"))).as("sum_total"))
          .orderBy("o_orderpriority")
      }),

    // Iterative graph analytics: PageRank over the customer↔supplier
    // purchase graph (namespaced node ids keep the bipartite sides
    // disjoint; edges run both ways so every node has out-degree ≥ 1 — no
    // dangling-mass term). The edge set is compacted ONCE into chunked
    // adjacency lists — (src, dsts[], outdeg) rows, arrays bounded at 4096
    // so a power-law hub becomes ceil(outdeg/4096) rows instead of one
    // giant array (the skew guard) — and checkpointed. Each round is then a
    // NODE-cardinality join (ranks ⋈ adjacency, |V| rows a side, not |E|)
    // whose exploded contributions flow straight into a map-side-combining
    // sum on dst: the |E|-row edge set never shuffles inside the loop,
    // which is the property that matters when |E| ≈ 10¹² (the naive
    // edges⋈ranks join re-shuffles and re-sorts every edge every round).
    // Because the round count is FIXED and each round's ranks feed exactly
    // one consumer, the six rounds compose into one lazy chain — only the
    // adjacency and the final ranks are checkpointed, and superseded blocks
    // are released deterministically. Fixed-point BIGINT math (1e-12 units,
    // 0.85 damping via 85//100) makes every rank exact and
    // order-independent, so the unrolled-CTE oracle hash-matches.
    QueryDef(
      "graph_pagerank",
      Some(pagerankOracle),
      (s, d) => {
        val base = Tables.t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(
            (col("o_custkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
          .distinct()
        val undirected = base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
        val deg = undirected.groupBy("src").agg(count(lit(1)).as("outdeg"))
        // deg is |V|-cardinality — joined, not broadcast-hinted (AQE
        // broadcasts it at this scale; a 10¹⁰-node graph could not).
        // The adjacency is checkpointed REPARTITIONED AND SORTED BY src:
        // LogicalRDD preserves both, so every one of the prIters join
        // rounds consumes the big static side with zero exchange and zero
        // sort — only the small rank vector moves each round. At 100 TB the
        // adjacency is the table you must not re-shuffle six times.
        val (adj, adjIds) = Ckpt(
          undirected.join(deg, "src")
            .groupBy(col("src"),
              pmod(hash(col("dst")), greatest(lit(1L), expr("(outdeg + 4095) div 4096"))).as("chunk"))
            .agg(collect_list(col("dst")).as("dsts"), first(col("outdeg")).as("outdeg"))
            .repartition(col("src"))
            .sortWithinPartitions("src"))
        // One checkpointed node set feeds BOTH the |V| count and rank⁰ —
        // the two derivations previously re-shuffled adj once each.
        val (nodes, nodeIds) = Ckpt(adj.select(col("src").as("id")).distinct())
        val nNodes = nodes.count()
        val init = prMass / nNodes
        val basePart = 15L * init / 100L
        val ranks0 = nodes.withColumn("rank", lit(init))
        val chained = (1 to prIters).foldLeft(ranks0) { (ranks, _) =>
          adj.join(ranks, adj("src") === ranks("id"))
            .select(explode(col("dsts")).as("dst"), expr("rank div outdeg").as("c"))
            .groupBy(col("dst"))
            .agg(sum(col("c")).as("contrib"))
            .select(col("dst").as("id"),
              (lit(basePart) + expr("(85 * contrib) div 100")).as("rank"))
        }
        // the final ranks stay pinned until the next run of this key
        val fin = Ckpt.slot(s"pagerank:$d", chained)
        Ckpt.release(s, adjIds ++ nodeIds)
        fin.orderBy("id")
      }),

    // Dynamic partition pruning: the fact table is laid out partitioned by
    // o_year; the dim side's attribute filter (era = 'modern') only reveals
    // WHICH years survive at runtime, so Spark injects the broadcast result
    // as a dynamicpruning expression into the fact scan's PartitionFilters —
    // whole partition directories are skipped without ever being listed
    // into tasks. At 100 TB this is THE mechanism that keeps star-join
    // scans proportional to the dim filter, not the table. PlanSpec asserts
    // dynamicpruningexpression in the executed fact scan.
    QueryDef(
      "join_dynamic_partition_pruning",
      Some(
        "SELECT CAST(o_year AS BIGINT) AS o_year, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_total " +
          "FROM (SELECT year(o_orderdate) AS o_year, o_totalprice FROM orders) " +
          "WHERE o_year >= 1996 GROUP BY o_year ORDER BY o_year"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_dpp", d)
        Tables.t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(s"$tmp/fact")
        val sp = s
        import sp.implicits._
        (1995 to 2001).map(y => (y, if (y >= 1996) "modern" else "classic"))
          .toDF("y", "era")
          .write.mode("overwrite").parquet(s"$tmp/dim")
        val fact = s.read.parquet(s"$tmp/fact")
        val dim = s.read.parquet(s"$tmp/dim").where(col("era") === "modern")
        fact.join(dim, fact("o_year") === dim("y"))
          .groupBy(col("o_year").cast("long").as("o_year"))
          .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
          .orderBy("o_year")
      })
  )
}
