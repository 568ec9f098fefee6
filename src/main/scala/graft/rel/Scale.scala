package graft.rel

import graft.{Memo, Q, QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-pattern operators: the physical-layout techniques a 100 TB
  * deployment leans on, demonstrated end-to-end and oracle-checked.
  *
  *  - Partitioned output: `partitionBy` on a derived key so downstream
  *    predicates prune whole directories (PlanSpec asserts PartitionFilters).
  *  - Salted skew join: a hot-key dimension join salted ×16 so one key's
  *    rows spread over 16 reducers instead of one straggler.
  *  - Bucketed co-located join: both fact tables pre-bucketed on the join
  *    key; the join runs with ZERO shuffle exchanges (PlanSpec asserts).
  */
object Scale {

  /** 5-row priority dimension used by the salted-join demo; mirrored as a
    * VALUES literal in the oracle.
    */
  private val prioWeights = Seq(
    ("1-URGENT", "5.5"), ("2-HIGH", "4.25"), ("3-MEDIUM", "3.0"),
    ("4-NOT SPECIFIED", "2.75"), ("5-LOW", "1.5"))

  private def prioValuesSql: String =
    prioWeights.map { case (p, w) => s"('$p', CAST($w AS DECIMAL(18,4)))" }
      .mkString("(VALUES ", ", ", ") AS d(pri, weight)")

  /** TPC-H Q3-shaped SQL, written once in the ANSI dialect both engines
    * accept — Spark executes it via spark.sql over temp views, DuckDB runs
    * the identical text as the oracle.
    */
  private val q3Sql =
    "SELECT o_orderkey, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue, " +
      "o_orderdate, o_orderpriority " +
      "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' " +
      "AND l_shipdate > TIMESTAMP '1998-01-01' " +
      "GROUP BY o_orderkey, o_orderdate, o_orderpriority " +
      "ORDER BY revenue DESC, o_orderkey LIMIT 20"

  val defs: Seq[QueryDef] = Seq(
    // SQL entry point: the same ANSI text runs in Spark (spark.sql) and
    // DuckDB — dialect-portable by construction.
    QueryDef(
      "sql_api_q3",
      Some(q3Sql),
      (s, d) => Tables.sql(s, d, "customer", "orders", "lineitem")(q3Sql)),

    // Parquet bloom-filter layout: point lookups on a key that is neither
    // sorted nor partitioned. Row-group min/max stats are useless when the
    // key is scattered (every row group spans the whole key range); a
    // WRITTEN bloom filter gives the reader a per-row-group "key absent"
    // proof, so a needle lookup in a 100 TB table skips row groups
    // wholesale without re-sorting anything. A small block size forces
    // many row groups so the skip has real targets; OpsSpec opens the
    // footer and asserts the l_orderkey filter is physically present.
    QueryDef(
      "scan_parquet_bloom_lookup",
      Some(
        "SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(CAST(sum(CAST(l_extendedprice AS ${Q.D4})) AS ${Q.D6}) AS DOUBLE) AS sum_price " +
          "FROM lineitem WHERE l_orderkey IN (7, 77, 777, 1207, 1399) " +
          "GROUP BY l_orderkey ORDER BY l_orderkey"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_bloom", d)
        Tables.stage(tmp, Tables.fingerprint(d, "lineitem")) {
          Tables.t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
            .coalesce(4)
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#l_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_orderkey", "20000")
            // at test SF the key would fully dictionary-encode and
            // parquet-mr then skips the bloom (the dictionary already
            // proves absence); at 100 TB a high-NDV key falls back from
            // dictionary anyway, so force that reality here
            .option("parquet.enable.dictionary#l_orderkey", "false")
            .option("parquet.block.size", (1 << 20).toString)
            .parquet(s"$tmp/data")
        }
        s.read.parquet(s"$tmp/data")
          .where(col("l_orderkey").isin(7, 77, 777, 1207, 1399))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"),
            Q.out6(sum(Q.dec4(col("l_extendedprice")))).as("sum_price"))
          .orderBy("l_orderkey")
      }),

    // Partitioned sink + pruned re-read: write orders partitioned by year,
    // read back only one partition. The scan must touch one directory.
    QueryDef(
      "sink_partitioned_write",
      Some(
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS sum_total " +
          "FROM orders GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_part_orders", d)
        // repartition ON the partition key first: without it every input
        // partition opens a writer per year → ~32×7 tiny files (measured
        // 5.6 s); with it each year directory gets one writer — the
        // correct pattern for partitioned writes at any scale (add a salt
        // inside the repartition only when one partition value overflows a
        // single task).
        Tables.t(s, d, "orders")
          .withColumn("yr", year(col("o_orderdate")).cast("long"))
          .repartition(col("yr"))
          .write.mode("overwrite").partitionBy("yr").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy("yr")
          .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
          .orderBy("yr")
      }),

    // Static partition pruning: the read-side payoff of the partitioned
    // layout above — a filter on the partition column becomes a
    // PartitionFilter at planning time, so non-matching year DIRECTORIES
    // are never listed into tasks (vs PushedFilters, which still opens
    // files to skip row groups). At 100 TB this is the difference between
    // scanning 2 years and scanning 30. PlanSpec asserts the filter lands
    // in PartitionFilters, not the data filter.
    QueryDef(
      "scan_partition_prune",
      Some(
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(o_totalprice AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS sum_total " +
          "FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_prune_orders", d)
        // staged like the sibling bloom/bucketed layouts: bench repeats
        // must time the pruned READ, not re-pay the layout write+shuffle
        Tables.stage(tmp, Tables.fingerprint(d, "orders")) {
          Tables.t(s, d, "orders")
            .withColumn("yr", year(col("o_orderdate")).cast("long"))
            .repartition(col("yr"))
            .write.mode("overwrite").partitionBy("yr").parquet(tmp)
        }
        s.read.parquet(tmp)
          .where(col("yr").isin(1996L, 1997L))
          .groupBy("yr")
          .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("o_totalprice")))).as("sum_total"))
          .orderBy("yr")
      }),

    // Salted skew join: the dimension is exploded ×16 with a salt column,
    // the fact derives the same salt from its row key, and the join key
    // becomes (priority, salt) — a hot priority spreads over 16 partitions.
    // Result is identical to the unsalted join (the oracle).
    QueryDef(
      "join_salted_skew",
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(d.weight) AS ${Q.D6})::DOUBLE AS sum_w " +
          s"FROM orders o JOIN $prioValuesSql ON o.o_orderpriority = d.pri " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) => {
        import s.implicits._
        val dim = prioWeights.toDF("pri", "w_str")
          .select(col("pri"), col("w_str").cast(DecimalType(18, 4)).as("weight"))
          .withColumn("salt", explode(sequence(lit(0), lit(15))))
        val o = Tables.t(s, d, "orders")
          .withColumn("salt", pmod(col("o_orderkey"), lit(16)).cast("int"))
        o.join(dim, o("o_orderpriority") === dim("pri") && o("salt") === dim("salt"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), Q.out6(sum(col("weight"))).as("sum_w"))
          .orderBy("o_orderpriority")
      }),

    // Small-files compaction: fragment the documents table into 64 tiny
    // parquet files, then rewrite to 2 — the maintenance pass every large
    // parquet lake needs (footer/listing overhead grows per file, and
    // 100 TB lakes compact by target size via maxRecordsPerFile or AQE
    // coalesce; fixed counts here keep the oracle deterministic). The
    // output asserts the physically observed file counts, not intentions.
    QueryDef(
      "sink_compaction",
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(least(64, count(*)) AS BIGINT) AS files_small, " +
          "CAST(least(2, count(*)) AS BIGINT) AS files_compacted FROM documents"),
      (s, d) => {
        val tmp = Tables.stagingDir("graft_compact", d)
        def nFiles(p: String): Long =
          new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet")).toLong
        Tables.t(s, d, "documents")
          .repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
        val small = nFiles(s"$tmp/small")
        s.read.parquet(s"$tmp/small")
          .coalesce(2).write.mode("overwrite").parquet(s"$tmp/compact")
        val compacted = nFiles(s"$tmp/compact")
        s.read.parquet(s"$tmp/compact")
          .agg(count(lit(1)).as("n_rows"))
          .select(col("n_rows"), lit(small).as("files_small"), lit(compacted).as("files_compacted"))
      }),

    // Bucketed co-located join: both sides written bucketBy(8, key) as
    // catalog tables; the join requires no Exchange (asserted in PlanSpec
    // via bucketedJoinFrame below).
    QueryDef(
      "join_bucketed_colocated",
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(CAST(l_quantity AS ${Q.D4})) AS ${Q.D6})::DOUBLE AS sum_qty " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, d) =>
        bucketedJoinFrame(s, d)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), Q.out6(sum(Q.dec4(col("l_quantity")))).as("sum_qty"))
          .orderBy("o_orderpriority"))
  )

  /** The shuffle-free bucketed join, exposed for the plan-shape test. */
  def bucketedJoinFrame(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val suffix = Integer.toHexString(d.hashCode)
    val (tl, to) = (s"graft_bkt_lineitem_$suffix", s"graft_bkt_orders_$suffix")
    // Staged once per content of lineitem and orders. The catalog is
    // shared by every session of the context while the memo is per session,
    // so a session's miss re-stages only when the staging marker names
    // other data or another context: a rewrite under a live reader of
    // another session would delete the files that reader listed. A rewrite
    // drops both tables and their warehouse dirs first (the in-memory
    // catalog forgets tables with its context, but their directories
    // persist), and the refresh re-lists what another session may have
    // rewritten since this one last read.
    val fp = Tables.fingerprint(d, "lineitem", "orders")
    Memo.get(s, s"bucketed_tables:$d", fp) {
      Tables.stage(Tables.stagingDir("graft_bkt_marker", d), s"$fp|${s.sparkContext.applicationId}") {
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        Seq(tl, to).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$t"))
        }
        Tables.t(s, d, "lineitem").select("l_orderkey", "l_quantity")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl)
        Tables.t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to)
      }
      Seq(tl, to).foreach(s.catalog.refreshTable)
    }
    // merge-hint both sides: at toy scale the planner would broadcast and
    // ignore bucketing; the point is the shuffle-free sort-merge join
    s.table(tl).hint("merge").join(s.table(to).hint("merge"),
      col("l_orderkey") === col("o_orderkey"))
  }
}
